"""Approximate + index-slicing queries: approx distinct/quantiles,
heavy hitters, HLL and histogram rollups, count-min and KMV sketches.

Round-3 upgrade: the three sketch/sampling queries carry
tolerance-checked oracles instead of rows-only checks. Sketch values
are engine-specific, so each query emits the EXACT statistic (hash-
checked against DuckDB) plus boolean flags asserting the approximate
value sits within its published error bound — an approximation drifting
out of tolerance now surfaces as a driver hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.sketches import heavy_hitters
from ._util import dec_sum, dec_sum_sql, query, tbl

APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS parts_ok, TRUE AS orders_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("approx_distinct_parts", APPROX_DISTINCT_SQL)
def approx_distinct_parts(spark, sf_dir):
    """HyperLogLog distinct counts (reference: NuniqueApprox b=16,
    _reductions.py:1295). Output = exact counts (hash-checked) + flags
    that the HLL estimate is within 15% (= 3x the default 5% rsd)."""
    li = tbl(spark, sf_dir, "lineitem")
    g = (
        li.groupby("l_returnflag")
        .agg(
            approx_parts=("l_partkey", "approx_nunique"),
            approx_orders=("l_orderkey", "approx_nunique"),
            exact_parts=("l_partkey", "nunique"),
            exact_orders=("l_orderkey", "nunique"),
        )
        .sort_values("l_returnflag")
        .to_spark()
    )
    def ok(a, e):
        return (F.abs(F.col(a) - F.col(e))
                <= F.col(e).cast("double") * 0.15)
    return g.select(
        "l_returnflag", "exact_parts", "exact_orders",
        ok("approx_parts", "exact_parts").alias("parts_ok"),
        ok("approx_orders", "exact_orders").alias("orders_ok"),
    )


APPROX_QUANTILES_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
       round(quantile_cont(o_totalprice, 0.95), 2) AS exact_p95,
       TRUE AS p50_ok, TRUE AS p95_ok
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("approx_quantiles_price", APPROX_QUANTILES_SQL)
def approx_quantiles_price(spark, sf_dir):
    """percentile_approx sketch (reference: tdigest option of
    SeriesQuantile, _quantile.py:14). Output = exact interpolated
    quantiles (hash-checked) + flags that the sketch value lies inside
    the exact [q-0.01, q+0.01] rank band — the bound the sketch's
    accuracy parameter guarantees with margin."""
    orders = tbl(spark, sf_dir, "orders")
    g = (
        orders.groupby("o_orderstatus")
        .agg(
            p50=("o_totalprice", lambda c: F.percentile_approx(c, 0.5)),
            p95=("o_totalprice", lambda c: F.percentile_approx(c, 0.95)),
            lo50=("o_totalprice", lambda c: F.percentile(c, 0.49)),
            hi50=("o_totalprice", lambda c: F.percentile(c, 0.51)),
            lo95=("o_totalprice", lambda c: F.percentile(c, 0.94)),
            hi95=("o_totalprice", lambda c: F.percentile(c, 0.96)),
            exact_p50=("o_totalprice", lambda c: F.round(F.percentile(c, 0.5), 2)),
            exact_p95=("o_totalprice", lambda c: F.round(F.percentile(c, 0.95), 2)),
        )
        .sort_values("o_orderstatus")
        .to_spark()
    )
    return g.select(
        "o_orderstatus", "exact_p50", "exact_p95",
        F.col("p50").between(F.col("lo50"), F.col("hi50")).alias("p50_ok"),
        F.col("p95").between(F.col("lo95"), F.col("hi95")).alias("p95_ok"),
    )


SAMPLE_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS total, TRUE AS n_ok
FROM orders GROUP BY 1 ORDER BY 1
"""


@query("sample_orders", SAMPLE_SQL)
def sample_orders(spark, sf_dir):
    """seeded Bernoulli sample (reference: Sample, _expr.py:1168).
    Sampling is engine- and partitioning-specific, so the oracle checks
    the exact per-group population (hash) and that the sampled count
    sits within a 5-sigma binomial band around p*total."""
    orders = tbl(spark, sf_dir, "orders")
    samp = (
        orders.sample(0.1, seed=42)
        .groupby("o_orderstatus")
        .agg(n=("o_orderkey", "count"))
    )
    totals = orders.groupby("o_orderstatus").agg(total=("o_orderkey", "count"))
    j = totals.merge(samp, on="o_orderstatus", how="left").to_spark()
    p = 0.1
    mean = F.col("total").cast("double") * p
    band = F.lit(5.0) * F.sqrt(F.col("total").cast("double") * p * (1 - p)) + F.lit(5.0)
    return j.select(
        "o_orderstatus", "total",
        (F.abs(F.coalesce(F.col("n"), F.lit(0)).cast("double") - mean) <= band)
        .alias("n_ok"),
    ).orderBy("o_orderstatus")


LOC_SQL = f"""
SELECT o_orderstatus, count(o_orderkey) AS n, {dec_sum_sql('o_totalprice', 2)} AS total
FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("loc_orderkey_slice", LOC_SQL)
def loc_orderkey_slice(spark, sf_dir):
    """loc label-slice on a sorted index (reference: LocIndexer
    _indexing.py:64; inclusive stop per pandas)."""
    orders = tbl(spark, sf_dir, "orders").set_index("o_orderkey")
    sliced = orders.loc[1000:2000]
    return (
        sliced.reset_index()
        .groupby("o_orderstatus")
        .agg(n=("o_orderkey", "count"), total=("o_totalprice", lambda c: dec_sum(c, 2)))
        .sort_values("o_orderstatus")
        .to_spark()
    )


SERIES_MAP_SQL = """
SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'fulfilled' END AS status_name,
       count(o_orderkey) AS n
FROM orders GROUP BY 1 ORDER BY 1
"""


@query("series_map_status", SERIES_MAP_SQL)
def series_map_status(spark, sf_dir):
    """Series.map dict lookup (reference: Series.map,
    _collection.py:4199) — unmapped keys → null."""
    orders = tbl(spark, sf_dir, "orders")
    mapped = orders.assign(
        status_name=lambda d: d["o_orderstatus"].map(
            {"O": "open", "F": "fulfilled"}
        )
    )
    return (
        mapped.groupby("status_name", dropna=False)
        .agg(n=("o_orderkey", "count"))
        .sort_values("status_name", na_position="last")
        .to_spark()
    )


HEAVY_HITTER_SQL = """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT tok AS value, count(*) AS freq
FROM toks
GROUP BY tok
HAVING count(*) > 0.002 * (SELECT count(*) FROM toks WHERE tok IS NOT NULL)
ORDER BY value
"""


@query("heavy_hitter_tokens", HEAVY_HITTER_SQL)
def heavy_hitter_tokens(spark, sf_dir):
    """Exact heavy hitters over the token stream of documents.text
    (freq > 0.2% of all tokens) via the two-pass Misra-Gries plan —
    never shuffles the token domain, only ≤ ceil(1/phi) candidates per
    partition."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    return heavy_hitters(toks, "tok", phi=0.002).orderBy("value")


HLL_ROLLUP_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS est_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("hll_rollup_users", HLL_ROLLUP_SQL)
def hll_rollup_users(spark, sf_dir):
    """Mergeable HLL sketch rollup (functions/sketches.py hll_rollup /
    hll_estimate): sketch events per (event_type, day), then answer
    per-event_type distinct users by UNIONING the day sketches — the
    raw table is scanned once for the rollup, never for the estimates.
    Tolerance oracle (the approx_distinct_parts pattern): output =
    exact distincts (hash-checked) + flags that each sketch estimate
    sits within 3x the lg_k=12 published error (±7.5%)."""
    from ..functions.sketches import hll_estimate, hll_rollup

    ev = tbl(spark, sf_dir, "events").to_spark().withColumn(
        "day", F.to_date("ts"))
    roll = hll_rollup(ev, ["event_type", "day"], "user_id", lg_k=12)
    est = hll_estimate(roll, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"))
    return (
        exact.join(est, "event_type")
        .select(
            "event_type", "exact_users",
            (F.abs(F.col("distinct_est") - F.col("exact_users"))
             <= F.col("exact_users").cast("double") * 0.075)
            .alias("est_ok"))
        .orderBy("event_type")
    )


HIST_ROLLUP_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
       TRUE AS est_ok
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("hist_rollup_price_quantiles", HIST_ROLLUP_SQL)
def hist_rollup_price_quantiles(spark, sf_dir):
    """Mergeable histogram rollup (functions/sketches.py hist_rollup /
    quantile_estimate): histogram orders per (o_orderstatus, month),
    then estimate each status' median price by MERGING the month
    histograms — the raw table is never re-read for the estimates.
    Tolerance oracle: exact medians hash-checked; flags assert the
    merged-histogram estimate lands within one bin width."""
    from ..functions.sketches import hist_rollup, quantile_estimate

    o = tbl(spark, sf_dir, "orders").to_spark().withColumn(
        "month", F.date_trunc("month", F.col("o_orderdate")))
    roll = hist_rollup(o, ["o_orderstatus", "month"], "o_totalprice",
                       bins=256, lo=800.0, hi=600000.0)
    est = quantile_estimate(roll, 0.5, ["o_orderstatus"])
    exact = o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2)
        .alias("exact_p50"))
    bin_w = (600000.0 - 800.0) / 256
    return (exact.join(est, "o_orderstatus")
            .select("o_orderstatus", "exact_p50",
                    (F.abs(F.col("q_est") - F.col("exact_p50"))
                     <= F.lit(bin_w)).alias("est_ok"))
            .orderBy("o_orderstatus"))


# -- count-min rollup (functions/sketches.py cms_rollup/_merge/
#    _estimate): sketch per o_orderstatus, merged globally, probed with
#    the 20 heaviest custkeys — estimates reproduced EXACTLY in SQL ----
_CMS_W, _CMS_D = 512, 4

CMS_SQL = f"""
WITH cells AS (
  SELECT t.d,
         ('0x' || substr(md5('cm:' || CAST(t.d AS VARCHAR) || ':'
                              || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
           % {_CMS_W} AS b,
         count(*) AS c
  FROM orders CROSS JOIN range({_CMS_D}) t(d)
  GROUP BY 1, 2
),
probe AS (
  SELECT o_custkey, count(*) AS exact_n FROM orders GROUP BY 1
  ORDER BY exact_n DESC, o_custkey LIMIT 20
),
pos AS (
  SELECT p.o_custkey, p.exact_n, t.d,
         ('0x' || substr(md5('cm:' || CAST(t.d AS VARCHAR) || ':'
                              || CAST(p.o_custkey AS VARCHAR)), 1, 15))::BIGINT
           % {_CMS_W} AS b
  FROM probe p CROSS JOIN range({_CMS_D}) t(d)
)
SELECT pos.o_custkey,
       CAST(min(coalesce(c.c, 0)) AS BIGINT) AS freq_est,
       CAST(min(pos.exact_n) AS BIGINT) AS exact_n,
       min(coalesce(c.c, 0)) >= min(pos.exact_n) AS over_ok
FROM pos LEFT JOIN cells c ON c.d = pos.d AND c.b = pos.b
GROUP BY 1 ORDER BY 1
"""


@query("cms_custkey_counts", CMS_SQL)
def cms_custkey_counts(spark, sf_dir):
    """count-min rollup built per o_orderstatus then MERGED globally
    (exercising mergeability), probed with the 20 heaviest custkeys.
    freq_est is hash-exact (md5 buckets reproduce in SQL); over_ok
    verifies the never-undercount guarantee against exact counts."""
    from ..functions.sketches import cms_estimate, cms_rollup

    o = tbl(spark, sf_dir, "orders").to_spark()
    roll = cms_rollup(o, ["o_orderstatus"], "o_custkey",
                      width=_CMS_W, depth=_CMS_D)
    probe = (o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("exact_n"))
             .orderBy(F.desc("exact_n"), "o_custkey").limit(20))
    est = cms_estimate(roll, probe, "o_custkey",
                       width=_CMS_W, depth=_CMS_D)
    return (est.join(probe, "o_custkey")
            .select("o_custkey", "freq_est",
                    F.col("exact_n").cast("long").alias("exact_n"),
                    (F.col("freq_est") >= F.col("exact_n")).alias("over_ok"))
            .orderBy("o_custkey"))


# -- KMV distinct sketch (functions/sketches.py kmv_rollup/_estimate):
#    two overlapping orderkey slices; per-slice distinct estimates are
#    hash-exact reproducible (k smallest md5 hashes + the (k-1)/U_(k)
#    estimator are both deterministic) --------------------------------
_KMV_K = 128
_KMV_SPACE_SQL = "1152921504606846976.0"  # 2^60

_KMV_SRC_SQL = """
  SELECT 'cheap' AS grp, o_orderkey FROM orders WHERE o_totalprice < 150000
  UNION ALL
  SELECT 'mod3' AS grp, o_orderkey FROM orders WHERE o_custkey % 3 = 0
"""

KMV_SQL = f"""
WITH src AS ({_KMV_SRC_SQL}),
h AS (
  SELECT DISTINCT grp,
         ('0x' || substr(md5('kmv:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM src
),
r AS (SELECT grp, hv,
             row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
      FROM h),
kth AS (SELECT grp,
               count(*) FILTER (WHERE rn <= {_KMV_K}) AS sz,
               max(hv) FILTER (WHERE rn = {_KMV_K}) AS hk
        FROM r GROUP BY 1),
est AS (SELECT grp,
               CASE WHEN sz < {_KMV_K} THEN sz
                    ELSE CAST(floor({_KMV_K - 1}.0 * {_KMV_SPACE_SQL}
                                    / CAST(hk AS DOUBLE)) AS BIGINT)
               END AS distinct_est
        FROM kth),
ex AS (SELECT grp, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS exact_n
       FROM src GROUP BY 1)
SELECT e.grp, e.distinct_est, x.exact_n,
       abs(e.distinct_est - x.exact_n) <= 0.30 * x.exact_n AS est_ok
FROM est e JOIN ex x USING (grp) ORDER BY grp
"""


def _kmv_slices(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders").to_spark()
    a = (o.where(F.col("o_totalprice") < 150000)
         .withColumn("grp", F.lit("cheap")))
    b = (o.where(F.col("o_custkey") % 3 == 0)
         .withColumn("grp", F.lit("mod3")))
    return a, b


@query("kmv_distinct_slices", KMV_SQL)
def kmv_distinct_slices(spark, sf_dir):
    from ..functions.sketches import kmv_estimate, kmv_rollup

    a, b = _kmv_slices(spark, sf_dir)
    roll = kmv_rollup(a.unionByName(b), ["grp"], "o_orderkey", k=_KMV_K)
    est = kmv_estimate(roll, ["grp"])
    exact = (a.unionByName(b).groupBy("grp")
             .agg(F.countDistinct("o_orderkey").alias("exact_n")))
    return (est.join(exact, "grp")
            .select("grp", "distinct_est", "exact_n",
                    (F.abs(F.col("distinct_est") - F.col("exact_n"))
                     <= 0.30 * F.col("exact_n")).alias("est_ok"))
            .orderBy("grp"))


# -- KMV INTERSECTION (kmv_intersect — the capability HLL sketches
#    lack): |cheap ∩ mod3| estimated from the two sketches alone;
#    union sketch, inclusion fraction, and both estimators reproduce
#    hash-exactly in SQL ------------------------------------------------
KMV_INTER_SQL = f"""
WITH src AS ({_KMV_SRC_SQL}),
h AS (
  SELECT DISTINCT grp,
         ('0x' || substr(md5('kmv:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM src
),
r AS (SELECT grp, hv,
             row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
      FROM h),
sk AS (SELECT grp, hv FROM r WHERE rn <= {_KMV_K}),
u AS (SELECT hv FROM (SELECT DISTINCT hv FROM sk) ORDER BY hv LIMIT {_KMV_K}),
stats AS (
  SELECT (SELECT count(*) FROM u) AS szu,
         (SELECT max(hv) FROM u) AS hku,
         (SELECT count(*) FROM u
          WHERE hv IN (SELECT hv FROM sk WHERE grp = 'cheap')
            AND hv IN (SELECT hv FROM sk WHERE grp = 'mod3')) AS rho
),
est AS (
  SELECT rho, szu,
         CASE WHEN szu < {_KMV_K} THEN szu
              ELSE CAST(floor({_KMV_K - 1}.0 * {_KMV_SPACE_SQL}
                              / CAST(hku AS DOUBLE)) AS BIGINT)
         END AS union_est
  FROM stats
),
est2 AS (
  SELECT CAST(floor((CAST(rho AS DOUBLE) / CAST(szu AS DOUBLE))
                    * CAST(union_est AS DOUBLE)) AS BIGINT) AS inter_est,
         union_est
  FROM est
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
    SELECT o_orderkey FROM src WHERE grp = 'cheap'
    INTERSECT
    SELECT o_orderkey FROM src WHERE grp = 'mod3')
)
SELECT inter_est, union_est, exact_inter,
       abs(inter_est - exact_inter) <= 0.35 * exact_inter AS inter_ok
FROM est2, ex
"""


@query("kmv_intersect_slices", KMV_INTER_SQL)
def kmv_intersect_slices(spark, sf_dir):
    from ..functions.sketches import kmv_intersect, kmv_rollup

    a, b = _kmv_slices(spark, sf_dir)
    ra = kmv_rollup(a, [], "o_orderkey", k=_KMV_K)
    rb = kmv_rollup(b, [], "o_orderkey", k=_KMV_K)
    inter = kmv_intersect(ra, rb).withColumn("k", F.lit(_KMV_K))
    exact = (a.select("o_orderkey").intersect(b.select("o_orderkey"))
             .agg(F.count(F.lit(1)).alias("exact_inter"))
             .withColumn("k", F.lit(_KMV_K)))
    # 1-row ⋈ 1-row on the sketch parameter k: an equi-join (broadcast
    # hash), not a cartesian attach
    return (inter.join(exact, "k")
            .select("inter_est", "union_est", "exact_inter",
                    (F.abs(F.col("inter_est") - F.col("exact_inter"))
                     <= 0.35 * F.col("exact_inter")).alias("inter_ok")))


# -- CMS inner product = equi-join cardinality estimate (sketches.
#    cms_inner_product): min_d of the per-row dot product of two cell
#    grids — fully deterministic, reproduced exactly in SQL, and
#    over_ok checks the never-underestimate guarantee against the real
#    join count -------------------------------------------------------
_CMSJ_W, _CMSJ_D = 1024, 4


def _cmsj_cells_sql(side_filter: str) -> str:
    return f"""
  SELECT t.d,
         ('0x' || substr(md5('cm:' || CAST(t.d AS VARCHAR) || ':'
                              || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
           % {_CMSJ_W} AS b,
         count(*) AS v
  FROM orders CROSS JOIN range({_CMSJ_D}) t(d)
  WHERE {side_filter}
  GROUP BY 1, 2"""


CMS_JOIN_SQL = f"""
WITH ca AS ({_cmsj_cells_sql("o_orderdate < TIMESTAMP '1997-07-01'")}),
cb AS ({_cmsj_cells_sql("o_orderdate >= TIMESTAMP '1997-07-01'")}),
dots AS (
  SELECT ca.d, sum(ca.v * cb.v) AS dot
  FROM ca JOIN cb ON ca.d = cb.d AND ca.b = cb.b
  GROUP BY 1
),
est AS (SELECT CAST(min(dot) AS BIGINT) AS join_est FROM dots),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_n
  FROM (SELECT o_custkey FROM orders
        WHERE o_orderdate < TIMESTAMP '1997-07-01') a
  JOIN (SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-07-01') b
    USING (o_custkey)
)
SELECT est.join_est, ex.exact_n,
       est.join_est >= ex.exact_n AS over_ok
FROM est, ex
"""


@query("cms_join_cardinality", CMS_JOIN_SQL)
def cms_join_cardinality(spark, sf_dir):
    """estimate |first-half ⋈ second-half on o_custkey| from the two
    CMS sketches alone — the planner's join-size question answered
    without running the join; join_est hash-exact, over_ok verifies
    the never-underestimate guarantee vs the real join count."""
    from ..functions.sketches import cms_inner_product, cms_rollup

    o = tbl(spark, sf_dir, "orders").to_spark()
    a = o.where(F.col("o_orderdate") < "1997-07-01")
    b = o.where(F.col("o_orderdate") >= "1997-07-01")
    ra = cms_rollup(a, [], "o_custkey", width=_CMSJ_W, depth=_CMSJ_D)
    rb = cms_rollup(b, [], "o_custkey", width=_CMSJ_W, depth=_CMSJ_D)
    est = cms_inner_product(ra, rb).select("join_est") \
        .withColumn("__one", F.lit(1))
    # exact |A ⋈ B| without materializing the join: count per key on
    # each side, then Σ n_a·n_b over matching keys — the join's
    # row-multiplicity identity.  The old shape sort-merge-joined the
    # full fact rows (15M shuffled + fanned-out output) to produce one
    # count; this shape's shuffles are partial-agged per side and the
    # final join is distinct-key-sized (guide §2.3 aggregate before
    # you shuffle; measured 5.2 s → sub-second at x100)
    ca = a.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("__na"))
    cb = b.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("__nb"))
    exact = (ca.join(cb, "o_custkey")
             .agg(F.coalesce(F.sum(F.col("__na") * F.col("__nb")),
                             F.lit(0)).cast("long").alias("exact_n"))
             .withColumn("__one", F.lit(1)))
    return (est.join(exact, "__one").drop("__one")
            .select("join_est", "exact_n",
                    (F.col("join_est") >= F.col("exact_n"))
                    .alias("over_ok")))


# -- grouped KMV intersection with a ONE-SIDED group (the round-6
#    ADVICE fix): status P exists only on side A, so its intersection
#    must be 0 and its union the A-side estimate — the whole grouped
#    computation reproduces hash-exactly in SQL ----------------------
_K7 = 128
_SPACE7 = "1152921504606846976.0"  # 2^60

KMV_GROUPED_SQL = f"""
WITH src AS (
  SELECT 'a' AS side, o_orderstatus AS g, o_orderkey FROM orders
  WHERE o_totalprice < 150000
  UNION ALL
  SELECT 'b', o_orderstatus, o_orderkey FROM orders
  WHERE o_custkey % 3 = 0 AND o_orderstatus <> 'P'
),
h AS (
  SELECT DISTINCT side, g,
         ('0x' || substr(md5('kmv:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM src
),
r AS (SELECT side, g, hv,
             row_number() OVER (PARTITION BY side, g ORDER BY hv) AS rn
      FROM h),
sk AS (SELECT side, g, hv FROM r WHERE rn <= {_K7}),
uu AS (SELECT g, hv,
              row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
       FROM (SELECT DISTINCT g, hv FROM sk)),
u AS (SELECT g, hv FROM uu WHERE rn <= {_K7}),
stats AS (
  SELECT u.g, count(*) AS szu, max(u.hv) AS hku,
         count(*) FILTER (WHERE
           EXISTS (SELECT 1 FROM sk x
                   WHERE x.side = 'a' AND x.g = u.g AND x.hv = u.hv)
           AND EXISTS (SELECT 1 FROM sk y
                       WHERE y.side = 'b' AND y.g = u.g AND y.hv = u.hv)
         ) AS rho
  FROM u GROUP BY u.g
),
est AS (
  SELECT g, rho, szu,
         CASE WHEN szu < {_K7} THEN szu
              ELSE CAST(floor({_K7 - 1}.0 * {_SPACE7}
                              / CAST(hku AS DOUBLE)) AS BIGINT)
         END AS union_est
  FROM stats
)
SELECT g AS o_orderstatus,
       CAST(floor(CAST(rho AS DOUBLE) / CAST(szu AS DOUBLE)
                  * CAST(union_est AS DOUBLE)) AS BIGINT) AS inter_est,
       union_est
FROM est ORDER BY 1
"""


@query("kmv_intersect_grouped", KMV_GROUPED_SQL)
def kmv_intersect_grouped(spark, sf_dir):
    from ..functions.sketches import kmv_intersect, kmv_rollup

    o = tbl(spark, sf_dir, "orders").to_spark()
    a = o.where(F.col("o_totalprice") < 150000)
    b = o.where((F.col("o_custkey") % 3 == 0)
                & (F.col("o_orderstatus") != "P"))
    ra = kmv_rollup(a, ["o_orderstatus"], "o_orderkey", k=_K7)
    rb = kmv_rollup(b, ["o_orderstatus"], "o_orderkey", k=_K7)
    return (kmv_intersect(ra, rb, ["o_orderstatus"])
            .orderBy("o_orderstatus"))
