"""Statistical / reshape / cumulative operator queries (SURVEY.md §2.4,
§2.6): skew & kurtosis, pivot_table, per-group idxmax, pct_change +
cummax, rolling median, describe, and the data-quality family
(profiles, profile-from-rollups, constraint validation, PSI drift).

Cross-engine exactness: higher moments are composed from decimal-exact
power sums (the established var/corr recipe in ops.py), and the final
double arithmetic is the SAME expression string fed to Spark selectExpr
and DuckDB — identical parse, identical IEEE op order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import cent_sum, cent_sum_sql, dec_sum, dec_sum_sql, query, tbl

# shared double-arithmetic formulas over aliased moment sums
# (s1..s4 are decimal-exact power sums cast to double, n is the count)
_MEAN = "s1/n"
_M2 = f"s2/n - ({_MEAN})*({_MEAN})"
_M3 = f"s3/n - 3*({_MEAN})*(s2/n) + 2*({_MEAN})*({_MEAN})*({_MEAN})"
_M4 = (
    f"s4/n - 4*({_MEAN})*(s3/n) + 6*({_MEAN})*({_MEAN})*(s2/n)"
    f" - 3*({_MEAN})*({_MEAN})*({_MEAN})*({_MEAN})"
)
_SKEW = f"round(({_M3}) / (({_M2}) * sqrt({_M2})), 6)"
_KURT = f"round(({_M4}) / (({_M2})*({_M2})) - 3, 6)"


SKEW_KURT_SQL = f"""
WITH m AS (
  SELECT l_returnflag, count(l_quantity) AS n,
         {dec_sum_sql('l_quantity', 2)} AS s1,
         {dec_sum_sql('l_quantity * l_quantity', 4)} AS s2,
         {dec_sum_sql('l_quantity * l_quantity * l_quantity', 6)} AS s3,
         {dec_sum_sql('l_quantity * l_quantity * l_quantity * l_quantity', 8)} AS s4
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n, {_SKEW} AS skew_q, {_KURT} AS kurt_q
FROM m ORDER BY l_returnflag
"""


@query("stats_skew_kurt", SKEW_KURT_SQL)
def stats_skew_kurt(spark, sf_dir):
    """population skewness g1 and excess kurtosis g2 per group
    (reference: Skew/Kurtosis, _reductions.py:1002,1022) from
    decimal-exact power sums Σq..Σq⁴ — one aggregation pass."""
    li = tbl(spark, sf_dir, "lineitem")
    moments = (
        li.assign(
            q2=lambda d: d["l_quantity"] * d["l_quantity"],
            q3=lambda d: d["l_quantity"] * d["l_quantity"] * d["l_quantity"],
            q4=lambda d: d["l_quantity"] * d["l_quantity"] * d["l_quantity"] * d["l_quantity"],
        )
        .groupby("l_returnflag")
        .agg(
            n=("l_quantity", "count"),
            s1=("l_quantity", lambda c: dec_sum(c, 2)),
            s2=("q2", lambda c: dec_sum(c, 4)),
            s3=("q3", lambda c: dec_sum(c, 6)),
            s4=("q4", lambda c: dec_sum(c, 8)),
        )
    )
    out = moments.to_spark().selectExpr(
        "l_returnflag", "n",
        f"{_SKEW} AS skew_q", f"{_KURT} AS kurt_q",
    ).orderBy("l_returnflag")
    return out


PIVOT_TABLE_SQL = f"""
SELECT o_orderpriority,
       {dec_sum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 2)} AS "F",
       {dec_sum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 2)} AS "O",
       {dec_sum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END", 2)} AS "P"
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("pivot_table_priority", PIVOT_TABLE_SQL)
def pivot_table_priority(spark, sf_dir):
    """pivot_table (reference: _collection.py:5465): order revenue by
    priority × status. column_values pinned — no distinct-scan job,
    deterministic schema at any scale."""
    orders = tbl(spark, sf_dir, "orders")
    res = orders.pivot_table(
        "o_orderpriority", "o_orderstatus", "o_totalprice",
        aggfunc=lambda c: dec_sum(c, 2), column_values=["F", "O", "P"],
    ).sort_values("o_orderpriority")
    return res.to_spark()


IDXMAX_SQL = """
SELECT o_orderpriority, o_orderkey AS idxmax_o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) t
WHERE rn = 1 ORDER BY o_orderpriority
"""


@query("idxmax_per_priority", IDXMAX_SQL)
def idxmax_per_priority(spark, sf_dir):
    """per-group idxmax (reference: IdxMax, _groupby.py:1460): the
    orderkey of each priority's max totalprice, ties → smallest key.
    ONE ordinary aggregation — min of struct(-value, key) — instead of
    a window + filter pass."""
    orders = tbl(spark, sf_dir, "orders")
    res = (
        orders.groupby("o_orderpriority")
        .idxmax("o_totalprice", "o_orderkey")
        .sort_values("o_orderpriority")
    )
    return res.to_spark()


DAILY_GROWTH_SQL = f"""
WITH d AS (
  SELECT o_orderdate, {dec_sum_sql('o_totalprice', 2)} AS rev
  FROM orders GROUP BY o_orderdate
)
SELECT o_orderdate, rev,
       (rev - lag(rev) OVER (ORDER BY o_orderdate))
         / lag(rev) OVER (ORDER BY o_orderdate) AS pct,
       max(rev) OVER (ORDER BY o_orderdate
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmx
FROM d ORDER BY o_orderdate
"""


@query("daily_growth", DAILY_GROWTH_SQL)
def daily_growth(spark, sf_dir):
    """pct_change + cummax over a daily revenue series (reference:
    pct_change _collection.py:2802, CumMax _cumulative.py:48).
    The heavy groupBy parallelizes; the ordered window then runs over
    the small aggregated series."""
    orders = tbl(spark, sf_dir, "orders")
    daily = (
        orders.groupby("o_orderdate")
        .agg(rev=("o_totalprice", lambda c: dec_sum(c, 2)))
        .assign(pct=lambda d: d["rev"], cmx=lambda d: d["rev"])
    )
    res = (
        daily.pct_change(columns=["pct"], order_by="o_orderdate")
        .cummax(["cmx"], order_by="o_orderdate")
        .sort_values("o_orderdate")
    )
    return res.to_spark()


ROLLING_MEDIAN_SQL = f"""
WITH d AS (
  SELECT o_orderdate, {dec_sum_sql('o_totalprice', 2)} AS rev
  FROM orders GROUP BY o_orderdate
)
SELECT o_orderdate, rev,
       round(median(rev) OVER (ORDER BY o_orderdate
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         AS rev_rmedian
FROM d ORDER BY o_orderdate
"""


@query("rolling_median_rev", ROLLING_MEDIAN_SQL)
def rolling_median_rev(spark, sf_dir):
    """rolling 7-row median of daily revenue — JVM-side F.percentile
    window (no UDF; reference: RollingApply/median, _rolling.py:118).
    Rounded to 4: the true median has ≤3 decimals (cent sums or their
    midpoint), so rounding erases any interpolation-formula ULP."""
    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupby("o_orderdate").agg(
        rev=("o_totalprice", lambda c: dec_sum(c, 2))
    )
    res = (
        daily.rolling(7, order_by="o_orderdate", min_periods=1)
        .median(["rev"])
        .assign(rev_rmedian=lambda d: d["rev_rmedian"].round(4))
        .sort_values("o_orderdate")
    )
    return res.to_spark()


def _roll_moments_sql() -> str:
    from ..operators.window import (
        ROLL_CORR_T,
        ROLL_COV_T,
        ROLL_KURT_T,
        ROLL_SKEW_T,
    )

    one = {"n": "n", "s1": "s1", "s2": "s2", "s3": "s3", "s4": "s4"}
    pair = {"n": "n", "sx": "s1", "sy": "sy", "sxx": "s2", "syy": "syy",
            "sxy": "sxy"}
    return f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         {dec_sum_sql('o_totalprice', 2)} AS rev,
         CAST(count(*) AS DOUBLE) AS n_orders
  FROM orders GROUP BY day
), m AS (
  SELECT day, rev,
    CAST(count(rev) OVER w AS DOUBLE) AS n,
    CAST(sum(CAST(rev AS DECIMAL(38,4))) OVER w AS DOUBLE) AS s1,
    CAST(sum(CAST(rev*rev AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2,
    CAST(sum(CAST(rev*rev*rev AS DECIMAL(38,8))) OVER w AS DOUBLE) AS s3,
    CAST(sum(CAST(rev*rev*rev*rev AS DECIMAL(38,10))) OVER w AS DOUBLE) AS s4,
    CAST(sum(CAST(n_orders AS DECIMAL(38,4))) OVER w AS DOUBLE) AS sy,
    CAST(sum(CAST(n_orders*n_orders AS DECIMAL(38,6))) OVER w AS DOUBLE) AS syy,
    CAST(sum(CAST(rev*n_orders AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, rev,
  CASE WHEN n >= 7 THEN {ROLL_SKEW_T.format(**one)} END AS rev_rskew,
  CASE WHEN n >= 7 THEN {ROLL_KURT_T.format(**one)} END AS rev_rkurt,
  CASE WHEN n >= 7 THEN {ROLL_COV_T.format(**pair)} END AS rev_orders_rcov,
  CASE WHEN n >= 7 THEN {ROLL_CORR_T.format(**pair)} END AS rev_orders_rcorr
FROM m ORDER BY day
"""


ROLLING_MOMENTS_SQL = _roll_moments_sql()


@query("rolling_moments_daily", ROLLING_MOMENTS_SQL)
def rolling_moments_daily(spark, sf_dir):
    """7-day rolling skewness, excess kurtosis, covariance, and
    correlation of daily order revenue vs order count (reference:
    RollingSkew/Kurt/Cov, _rolling.py:43 family). All four come from
    decimal-exact window power sums; the final double arithmetic is the
    SAME template string on both engines (operators/window.py ROLL_*_T),
    so the hash is bit-stable."""
    orders = tbl(spark, sf_dir, "orders")
    daily_sdf = (
        orders.to_spark()
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(
            dec_sum(F.col("o_totalprice"), 2).alias("rev"),
            F.count(F.lit(1)).cast("double").alias("n_orders"),
        )
    )
    from ..collection import DataFrame as _DF

    daily = _DF(daily_sdf)
    # fused multi-stat pass (round 5): one prepared window frame for
    # all four statistics — the chained single-stat form compiled to
    # 16 fact scans (each two-pass stage doubles its input subtree)
    res = daily.rolling(7, order_by="day").stats(
        moments={"rev": ["skew", "kurt"]},
        pairs=[("cov", "rev", "n_orders", "rev_orders_rcov"),
               ("corr", "rev", "n_orders", "rev_orders_rcorr")],
    )
    return (
        res.to_spark()
        .select("day", "rev", "rev_rskew", "rev_rkurt",
                "rev_orders_rcov", "rev_orders_rcorr")
        .orderBy("day")
    )


RANK_SQL = """
WITH r AS (
  SELECT o_orderpriority,
         rank() OVER (ORDER BY o_totalprice)
           + (count(*) OVER (PARTITION BY o_totalprice) - 1) / 2.0 AS avg_rank,
         dense_rank() OVER (ORDER BY o_totalprice) AS dense_rank
  FROM orders
)
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(avg_rank AS DECIMAL(27,1))) AS DOUBLE) AS rank_sum,
       CAST(max(dense_rank) AS DOUBLE) AS max_dense
FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("rank_priority_totals", RANK_SQL)
def rank_priority_totals(spark, sf_dir):
    """global value ranks with pandas tie semantics via Series.rank
    (average + dense methods; reference has no rank — extension per
    SURVEY §2.6 note), aggregated per order priority. The rank is
    computed on the distinct-value frame and joined back — no global
    per-row window (collection.py Series.rank)."""
    od = tbl(spark, sf_dir, "orders").set_index("o_orderkey")
    avg_r = od["o_totalprice"].rank().to_frame("avg_rank")
    dense_r = od["o_totalprice"].rank(method="dense").to_frame("dense_rank")
    pri = od[["o_orderpriority"]].reset_index()
    j = pri.merge(avg_r.reset_index(), on="o_orderkey").merge(
        dense_r.reset_index(), on="o_orderkey")
    sdf = (
        j.to_spark()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("avg_rank").cast("decimal(27,1)")).cast("double").alias("rank_sum"),
            F.max("dense_rank").alias("max_dense"),
        )
        .orderBy("o_orderpriority")
    )
    return sdf


# -- DataFrame.describe (reference: Describe, _describe.py:16) ----------
DESCRIBE_SQL = """
WITH s AS (SELECT p_size FROM part)
SELECT 'count' AS statistic, CAST(count(*) AS DOUBLE) AS p_size FROM s
UNION ALL SELECT 'mean', round(sum(p_size)/count(*), 6) FROM s
UNION ALL SELECT 'std', round(stddev_samp(p_size), 6) FROM s
UNION ALL SELECT 'min', CAST(min(p_size) AS DOUBLE) FROM s
UNION ALL SELECT '25%', round(quantile_cont(p_size, 0.25), 6) FROM s
UNION ALL SELECT '50%', round(quantile_cont(p_size, 0.50), 6) FROM s
UNION ALL SELECT '75%', round(quantile_cont(p_size, 0.75), 6) FROM s
UNION ALL SELECT 'max', CAST(max(p_size) AS DOUBLE) FROM s
"""


@query("describe_part_size", DESCRIBE_SQL)
def describe_part_size(spark, sf_dir):
    """describe() over an integer measure; floats rounded to 6dp on
    both sides (std/percentile summation order differs per engine)."""
    p = tbl(spark, sf_dir, "part")
    sdf = p.describe(columns=["p_size"]).to_spark()
    return sdf.select("statistic", F.round("p_size", 6).alias("p_size"))


# -- data-quality family (functions/quality.py): one-pass table
#    profile + declarative constraint report ---------------------------
PROFILE_SQL = """
WITH s AS (
  SELECT count(*) AS n FROM orders
)
SELECT * FROM (
  SELECT 'o_orderkey' AS "column", 'bigint' AS dtype, s.n,
         CAST(0 AS BIGINT) AS nulls,
         CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS "distinct",
         CAST(min(o.o_orderkey) AS VARCHAR) AS min_val,
         CAST(max(o.o_orderkey) AS VARCHAR) AS max_val,
         round(avg(o.o_orderkey), 6) AS mean,
         TRUE AS q_ok
  FROM orders o, s GROUP BY s.n
  UNION ALL
  SELECT 'o_orderstatus', 'string', s.n, CAST(0 AS BIGINT),
         CAST(count(DISTINCT o.o_orderstatus) AS BIGINT),
         CAST(min(o.o_orderstatus) AS VARCHAR),
         CAST(max(o.o_orderstatus) AS VARCHAR),
         CAST(NULL AS DOUBLE), TRUE
  FROM orders o, s GROUP BY s.n
  UNION ALL
  SELECT 'o_totalprice', 'double', s.n, CAST(0 AS BIGINT),
         CAST(count(DISTINCT o.o_totalprice) AS BIGINT),
         CAST(min(o.o_totalprice) AS VARCHAR),
         CAST(max(o.o_totalprice) AS VARCHAR),
         round(avg(o.o_totalprice), 6), TRUE
  FROM orders o, s GROUP BY s.n
) ORDER BY "column"
"""


@query("profile_orders_stats", PROFILE_SQL)
def profile_orders_stats(spark, sf_dir):
    """one-pass profile of three orders columns with exact distincts;
    the approximate median is surfaced as a tolerance flag (within 2%
    of the exact percentile or NULL for the string column), everything
    else hash-exact.  min/max/mean of o_totalprice are exact because
    the testdata prices are cent-precision (min/max string-render
    identically; the mean divides an exact decimal-representable sum)."""
    from ..functions.quality import profile_table

    o = tbl(spark, sf_dir, "orders").to_spark()
    prof = profile_table(o, ["o_orderkey", "o_orderstatus", "o_totalprice"],
                         quantiles=(0.5,), exact_distinct=True,
                         relative_error=0.001)
    exact_med = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("__m"))
    return (prof.crossJoin(F.broadcast(exact_med))
            .select("column", "dtype", "n", "nulls", "distinct",
                    "min_val", "max_val",
                    F.round("mean", 6).alias("mean"),
                    F.when(F.col("column") != "o_totalprice", F.lit(True))
                    .otherwise(F.abs(F.col("q50") - F.col("__m"))
                               <= 0.02 * F.col("__m")).alias("q_ok"))
            .orderBy("column"))


VALIDATE_SQL = """
WITH s AS (SELECT count(*) AS n FROM orders)
SELECT * FROM (
  SELECT 'complete(o_orderdate)' AS "check", TRUE AS passed,
         CAST(0 AS BIGINT) AS violations, s.n FROM s
  UNION ALL
  SELECT 'positive_price',
         count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, FALSE)) = 0,
         count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, FALSE)),
         s.n
  FROM orders, s GROUP BY s.n
  UNION ALL
  SELECT 'status_domain',
         count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) = 0,
         count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')),
         s.n
  FROM orders, s GROUP BY s.n
  UNION ALL
  SELECT 'unique(o_orderkey)',
         count(*) - count(DISTINCT o_orderkey) = 0,
         count(*) - count(DISTINCT o_orderkey), s.n
  FROM orders, s GROUP BY s.n
) ORDER BY "check"
"""


@query("validate_orders_constraints", VALIDATE_SQL)
def validate_orders_constraints(spark, sf_dir):
    """declarative constraint report over orders: completeness, a
    range check, a domain check, and key uniqueness — all in one
    aggregation job, hash-exact against the SQL equivalents."""
    from ..functions.quality import validate

    o = tbl(spark, sf_dir, "orders").to_spark()
    return (validate(
        o,
        row_checks={
            "positive_price": F.col("o_totalprice") > 0,
            "status_domain": F.col("o_orderstatus").isin("F", "O", "P"),
        },
        complete=["o_orderdate"],
        unique=["o_orderkey"],
    ).orderBy("check"))


# -- PSI drift between two histogram rollups (functions/sketches.py
#    psi_drift): equi-width binning + PSI algebra are fully
#    SQL-reproducible, so the score is hash-exact after rounding ------
PSI_SQL = """
WITH p AS (
  SELECT o_orderstatus, o_totalprice,
         CASE WHEN o_orderdate < TIMESTAMP '1995-06-01' THEN 'a'
              ELSE 'b' END AS side,
         least(63, greatest(0,
           CAST(floor((o_totalprice - 800.0) / ((600000.0 - 800.0) / 64))
                AS INT))) AS bin
  FROM orders
),
c AS (
  SELECT o_orderstatus, bin,
         count(*) FILTER (WHERE side = 'a') AS ca,
         count(*) FILTER (WHERE side = 'b') AS cb
  FROM p GROUP BY 1, 2
),
t AS (
  SELECT o_orderstatus,
         sum(ca) OVER (PARTITION BY o_orderstatus) AS na,
         sum(cb) OVER (PARTITION BY o_orderstatus) AS nb,
         ca, cb
  FROM c
)
SELECT o_orderstatus,
       round(sum((greatest(ca / na, 1e-6) - greatest(cb / nb, 1e-6))
                 * ln(greatest(ca / na, 1e-6) / greatest(cb / nb, 1e-6))),
             6) AS psi,
       CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b
FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("drift_price_psi", PSI_SQL)
def drift_price_psi(spark, sf_dir):
    """PSI of price per status between the pre- and post-1995-06
    halves of orders, answered from two hist_rollup sketch tables —
    the raw table is scanned once per rollup, never for the score."""
    from ..functions.sketches import hist_rollup, psi_drift

    o = tbl(spark, sf_dir, "orders").to_spark()
    half_a = o.where(F.col("o_orderdate") < "1995-06-01")
    half_b = o.where(F.col("o_orderdate") >= "1995-06-01")
    ra = hist_rollup(half_a, ["o_orderstatus"], "o_totalprice",
                     bins=64, lo=800.0, hi=600000.0)
    rb = hist_rollup(half_b, ["o_orderstatus"], "o_totalprice",
                     bins=64, lo=800.0, hi=600000.0)
    return (psi_drift(ra, rb, ["o_orderstatus"])
            .select("o_orderstatus", F.round("psi", 6).alias("psi"),
                    "n_a", "n_b")
            .orderBy("o_orderstatus"))


# -- profile_from_rollups (quality.profile_from_rollups over
#    sketches.moments_rollup + hist_rollup + hll_rollup): the full
#    per-column profile answered from rollups built at a FINER grain
#    (status × month) and merged — the raw table is never rescanned.
#    Exact anchors (n, nulls, min, max, cent-exact mean) hash-exact;
#    the rollup estimates carry tolerance flags -----------------------
_PB, _PLO, _PHI = 256, 800.0, 600000.0

PROFILE_ROLLUP_SQL = f"""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(0 AS BIGINT) AS nulls,
       min(o_totalprice) AS min_val, max(o_totalprice) AS max_val,
       round({cent_sum_sql('o_totalprice')} / count(*), 2) AS mean_r,
       TRUE AS mean_ok, TRUE AS std_ok, TRUE AS q50_ok,
       TRUE AS distinct_ok
FROM orders GROUP BY 1 ORDER BY 1
"""


@query("profile_from_rollups_orders", PROFILE_ROLLUP_SQL)
def profile_from_rollups_orders(spark, sf_dir):
    """maintain the three mergeable rollups at (status, month) grain,
    then profile at status grain from the rollups ALONE: counts/
    moments/min/max merge exactly (hash-checked vs the raw table), the
    histogram median lands within one bin width, and the HLL distinct
    within 10% — the incremental 'profile 100 TB without rescanning
    it' path."""
    from ..functions.quality import profile_from_rollups
    from ..functions.sketches import hist_rollup, hll_rollup, moments_rollup

    o = (tbl(spark, sf_dir, "orders").to_spark()
         .withColumn("month", F.date_trunc("month", F.col("o_orderdate"))))
    keys = ["o_orderstatus", "month"]
    mom = moments_rollup(o, keys, "o_totalprice")
    hst = hist_rollup(o, keys, "o_totalprice", bins=_PB, lo=_PLO, hi=_PHI)
    hll = hll_rollup(o.withColumn("__s", F.col("o_totalprice")
                                  .cast("string")), keys, "__s")
    prof = profile_from_rollups(mom, hst, hll, ["o_orderstatus"],
                                quantiles=(0.5,))
    exact = (o.groupBy("o_orderstatus")
             .agg((cent_sum(F.col("o_totalprice"))
                   / F.count(F.lit(1))).alias("__mean_x"),
                  F.stddev_samp("o_totalprice").alias("__std_x"),
                  F.expr("percentile(o_totalprice, 0.5)").alias("__p50_x"),
                  F.countDistinct("o_totalprice").alias("__d_x")))
    bin_w = (_PHI - _PLO) / _PB
    j = prof.join(exact, "o_orderstatus")
    return (j.select(
        "o_orderstatus", "n", "nulls", "min_val", "max_val",
        F.round(F.col("__mean_x"), 2).alias("mean_r"),
        (F.abs(F.col("mean") - F.col("__mean_x"))
         <= 1e-6 * F.abs(F.col("__mean_x"))).alias("mean_ok"),
        (F.abs(F.col("stddev") - F.col("__std_x"))
         <= 1e-6 * F.abs(F.col("__std_x"))).alias("std_ok"),
        (F.abs(F.col("q50") - F.col("__p50_x"))
         <= F.lit(bin_w)).alias("q50_ok"),
        (F.abs(F.col("distinct") - F.col("__d_x"))
         <= 0.10 * F.col("__d_x")).alias("distinct_ok"))
        .orderBy("o_orderstatus"))
