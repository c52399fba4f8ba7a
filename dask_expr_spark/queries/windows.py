"""Window / ordered-operation queries on the events table
(SURVEY.md §2.6: Shift/Diff/Cum*/Rolling/Resample, plus sessionization
and as-of join) and the range-bucketed global ordered ops over orders
(ffill limit=, centered and weighted rolling, groupby rolling and
expanding, map_overlap). DuckDB oracles use the identical window frames; sums
of doubles inside windows go through the decimal-exact cast (see
_util) because engines associate window sums differently.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ._util import dec_sum, dec_sum_sql, query, tbl

# total order within a user: (ts, event_id) — ts alone can tie
_ORDER = ["ts", "event_id"]


WINDOW_SHIFT_DIFF_SQL = """
WITH d AS (
  SELECT event_type,
         CAST(value AS DECIMAL(27,6))
           - lag(CAST(value AS DECIMAL(27,6)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dvalue
  FROM events
)
SELECT event_type,
       count(dvalue) AS n_diffs,
       CAST(sum(CASE WHEN dvalue > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(sum(dvalue) AS DOUBLE) AS sum_diff
FROM d GROUP BY event_type ORDER BY event_type
"""


@query("window_shift_diff", WINDOW_SHIFT_DIFF_SQL)
def window_shift_diff(spark, sf_dir):
    """per-user lag + diff (reference: Shift _expr.py:3389,
    Diff :3292) then aggregate per event_type."""
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    sdf = ev.to_spark().withColumn(
        "dvalue",
        F.col("value").cast("decimal(27,6)")
        - F.lag(F.col("value").cast("decimal(27,6)")).over(w),
    )
    out = (
        sdf.groupBy("event_type")
        .agg(
            F.count("dvalue").alias("n_diffs"),
            F.sum(F.when(F.col("dvalue") > 0, 1).otherwise(0)).alias("n_up"),
            F.sum("dvalue").cast("double").alias("sum_diff"),
        )
        .orderBy("event_type")
    )
    return out


WINDOW_CUMSUM_SQL = """
WITH r AS (
  SELECT user_id,
         sum(CAST(value AS DECIMAL(27,6)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, CAST(running AS DOUBLE) AS final_running
FROM r WHERE rn = 1 ORDER BY user_id
"""


@query("window_cumsum_user", WINDOW_CUMSUM_SQL)
def window_cumsum_user(spark, sf_dir):
    """running per-user total (reference: CumSum, _cumulative.py:11) —
    checked at the final row per user to keep output compact."""
    ev = tbl(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wfull = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    sdf = (
        ev.to_spark()
        .withColumn("running", F.sum(F.col("value").cast("decimal(27,6)")).over(w))
        .withColumn("__rn", F.row_number().over(wfull))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("running").cast("double").alias("final_running"),
        )
        .orderBy("user_id")
    )
    return sdf


WINDOW_ROLLING_SQL = """
WITH r AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(27,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
              / count(value)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rmean
  FROM events
)
SELECT user_id, max(rmean) AS max_rmean, min(rmean) AS min_rmean,
       count(*) AS n_events
FROM r GROUP BY user_id ORDER BY user_id
"""


@query("window_rolling_mean", WINDOW_ROLLING_SQL)
def window_rolling_mean(spark, sf_dir):
    """5-row rolling mean per user (reference: RollingMean,
    _rolling.py) — aggregated to per-user max to keep output small."""
    ev = tbl(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-4, 0)
    )
    sdf = (
        ev.to_spark()
        .withColumn(
            "rmean",
            F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double")
            / F.count("value").over(w),
        )
        .groupBy("user_id")
        .agg(
            F.max("rmean").alias("max_rmean"),
            F.min("rmean").alias("min_rmean"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )
    return sdf


WINDOW_RANK_SQL = """
SELECT user_id, event_id, event_type, rn FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn <= 3 ORDER BY user_id, rn
"""


@query("window_rank_latest", WINDOW_RANK_SQL)
def window_rank_latest(spark, sf_dir):
    """top-3 latest events per user via row_number (SURVEY.md §2.6 —
    ranking is a Spark-free extension over the reference)."""
    ev = tbl(spark, sf_dir, "events")
    res = (
        ev.groupby("user_id")
        .rank(order_by="event_id", ascending=False, out="rn")
        .filter(F.col("rn") <= 3)
    )
    out = (
        res.to_spark()
        .select("user_id", "event_id", "event_type", F.col("rn").cast("long").alias("rn"))
        .orderBy("user_id", "rn")
    )
    return out


RESAMPLE_SQL = f"""
SELECT date_trunc('hour', ts) AS ts,
       count(value) AS n,
       {dec_sum_sql('value', 6)} AS total,
       min(value) AS vmin, max(value) AS vmax
FROM events GROUP BY 1 ORDER BY 1
"""


@query("resample_hourly", RESAMPLE_SQL)
def resample_hourly(spark, sf_dir):
    """time-bin regridding (reference: Resample*, _resample.py:23)."""
    ev = tbl(spark, sf_dir, "events")
    res = ev.resample("h", on="ts").agg(
        n=("value", "count"),
        total=("value", lambda c: dec_sum(c, 6)),
        vmin=("value", "min"),
        vmax=("value", "max"),
    )
    return res.sort_values("ts").to_spark()


SESSIONS_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM g
)
SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""


@query("window_user_sessions", SESSIONS_SQL)
def window_user_sessions(spark, sf_dir):
    """sessionization: >30-min gap starts a new session (greenfield
    streaming-adjacent op, SURVEY.md §2.10) — lag + cumulative sum."""
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    sdf = (
        ev.to_spark()
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_micros(F.col("ts").cast("timestamp"))
                   - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                   > 1800 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn("sess_id", F.sum("new_sess").over(wcum))
    )
    out = (
        sdf.groupBy("user_id")
        .agg(
            F.max("sess_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )
    return out


ASOF_SQL = """
WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
     j AS (
       SELECT p.user_id, p.ts,
              (epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0 AS gap_s
       FROM p ASOF LEFT JOIN c
         ON p.user_id = c.user_id AND p.ts >= c.ts
     )
SELECT user_id, count(*) AS n_purchases, count(gap_s) AS n_matched,
       CAST(sum(CAST(gap_s AS DECIMAL(27,6))) AS DOUBLE) AS total_gap_s
FROM j GROUP BY user_id ORDER BY user_id
"""


@query("asof_purchase_click", ASOF_SQL)
def asof_purchase_click(spark, sf_dir):
    """merge_asof: for each purchase, the most recent prior-or-equal
    click of the same user (reference: MergeAsof, _merge_asof.py:17;
    ours is the union+window formulation in operators/asof.py).
    Output: per-user purchase count and total purchase→click gap."""
    ev = tbl(spark, sf_dir, "events")
    purchases = ev.filter(ev.event_type == "purchase")[["user_id", "ts", "event_id"]]
    clicks = ev.filter(ev.event_type == "click")[["user_id", "ts"]]
    joined = purchases.merge_asof(
        clicks, on="ts", by="user_id", direction="backward",
        allow_exact_matches=True, right_cols=[], keep_match_on=True,
    )
    sdf = joined.to_spark().withColumn(
        "gap_s",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("ts_right").cast("timestamp")))
        / F.lit(1_000_000.0),
    )
    out = (
        sdf.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("gap_s").alias("n_matched"),
            F.sum(F.col("gap_s").cast("decimal(27,6)")).cast("double").alias("total_gap_s"),
        )
        .orderBy("user_id")
    )
    return out


WINDOW_FFILL_SQL = """
WITH m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM events
),
f AS (
  SELECT user_id, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
  FROM m
)
SELECT user_id, count(v) AS n_obs, count(filled) AS n_filled,
       CAST(sum(CAST(filled AS DECIMAL(27,6))) AS DOUBLE) AS sum_filled
FROM f GROUP BY user_id ORDER BY user_id
"""


@query("window_ffill_gaps", WINDOW_FFILL_SQL)
def window_ffill_gaps(spark, sf_dir):
    """forward-fill over nulls (reference: FFill, _expr.py:3340) —
    values of 'error' events masked to null, then last-observation
    carried forward per user; checked via per-user fill stats."""
    ev = tbl(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sdf = (
        ev.to_spark()
        .withColumn("v", F.when(F.col("event_type") != "error", F.col("value")))
        .withColumn("filled", F.last("v", ignorenulls=True).over(w))
    )
    return (
        sdf.groupBy("user_id")
        .agg(
            F.count("v").alias("n_obs"),
            F.count("filled").alias("n_filled"),
            F.sum(F.col("filled").cast("decimal(27,6)")).cast("double").alias("sum_filled"),
        )
        .orderBy("user_id")
    )


ROLLING_TIME_SQL = """
WITH r AS (
  SELECT user_id,
         count(value) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS tcount,
         CAST(sum(CAST(value AS DECIMAL(27,6))) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS tsum
  FROM events
)
SELECT user_id, max(tcount) AS max_trailing_n, max(tsum) AS max_trailing_sum
FROM r GROUP BY user_id ORDER BY user_id
"""


@query("rolling_time_window", ROLLING_TIME_SQL)
def rolling_time_window(spark, sf_dir):
    """time-based rolling: events in the trailing 30 minutes per user
    (reference: RollingReduction with freq window, _rolling.py:43) —
    rangeBetween on microseconds; checked via per-user max trailing
    count and decimal-exact trailing sum."""
    from ..operators.window import TimeRolling

    ev = tbl(spark, sf_dir, "events")
    tr = TimeRolling(ev, "30min", on="ts", partition_by="user_id")
    w = tr._w()
    sdf = (
        ev.to_spark()
        .withColumn("tcount", F.count("value").over(w))
        .withColumn(
            "tsum",
            F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double"),
        )
    )
    return (
        sdf.groupBy("user_id")
        .agg(
            F.max("tcount").alias("max_trailing_n"),
            F.max("tsum").alias("max_trailing_sum"),
        )
        .orderBy("user_id")
    )


# every event belongs to windows starting at trunc30(ts) and
# trunc30(ts) - 30min (both epoch-aligned, exactly Spark's alignment)
SLIDING_SQL = """
WITH e AS (
  SELECT event_type, value,
         unnest([
           make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 * 1000000 AS BIGINT)),
           make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - 1800) * 1000000 AS BIGINT))
         ]) AS ws
  FROM events
)
SELECT ws, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total
FROM e GROUP BY ws, event_type ORDER BY ws, event_type
"""


@query("sliding_window_counts", SLIDING_SQL)
def sliding_window_counts(spark, sf_dir):
    """sliding windows (1h window, 30min slide): each event lands in 2
    overlapping windows — Spark's F.window explode; the batch twin of
    streaming/ops.py sliding_means."""
    ev = tbl(spark, sf_dir, "events")
    sdf = (
        ev.to_spark()
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
        .orderBy("ws", "event_type")
    )
    return sdf


# -- ungrouped cumulative over the full order stream (two-pass plan) ----
CUMSUM_GLOBAL_SQL = """
SELECT o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total
FROM orders
"""


@query("ordered_cumsum_global", CUMSUM_GLOBAL_SQL)
def ordered_cumsum_global(spark, sf_dir):
    """ungrouped running total (operators/ordered.py cumulative) —
    decimal-cast so the bucketed partial+offset addition is exact and
    matches DuckDB's sequential window sum bit-for-bit."""
    od = tbl(spark, sf_dir, "orders")[["o_orderkey", "o_totalprice"]]
    dec = od.assign(running_total=F.col("o_totalprice").cast("decimal(18,2)"))
    out = dec[["o_orderkey", "running_total"]].cumsum(
        columns=["running_total"], order_by="o_orderkey"
    )
    return out.to_spark().select(
        "o_orderkey", F.col("running_total").cast("double").alias("running_total")
    )


# -- ungrouped shift: previous order's price over the global order -----
SHIFT_GLOBAL_SQL = """
SELECT o_orderkey,
       lag(o_totalprice, 3) OVER (ORDER BY o_orderkey) AS prev3_price
FROM orders
"""


@query("ordered_shift_global", SHIFT_GLOBAL_SQL)
def ordered_shift_global(spark, sf_dir):
    """ungrouped shift (bucket + boundary padding) — value copy, no
    float arithmetic, so hashes match exactly."""
    od = tbl(spark, sf_dir, "orders")[["o_orderkey", "o_totalprice"]]
    shifted = od.assign(prev3_price=F.col("o_totalprice")).shift(
        columns=["prev3_price"], periods=3, order_by="o_orderkey"
    )
    return shifted.to_spark().select("o_orderkey", "prev3_price")


# -- ffill limit= over event values ------------------------------------
FFILL_LIMIT_SQL = """
WITH e AS (
  SELECT event_id, ts, user_id,
         CASE WHEN event_id % 5 < 2 THEN NULL ELSE value END AS v
  FROM events
), f AS (
  SELECT event_id,
         coalesce(v,
           CASE WHEN lag(v, 1) OVER w IS NOT NULL THEN lag(v, 1) OVER w
                WHEN lag(v, 2) OVER w IS NOT NULL THEN lag(v, 2) OVER w
           END) AS filled
  FROM e WINDOW w AS (ORDER BY ts, event_id)
)
SELECT count(filled) AS n_filled FROM f
"""


@query("ordered_ffill_limit", FFILL_LIMIT_SQL)
def ordered_ffill_limit(spark, sf_dir):
    """ffill(limit=2) over the global event order (reference
    _expr.py:3340 limit semantics; bounded pad window)."""
    ev = tbl(spark, sf_dir, "events")
    holey = ev.assign(
        v=F.when(F.col("event_id") % 5 < 2, None).otherwise(F.col("value"))
    )
    filled = holey.ffill(columns=["v"], order_by=["ts", "event_id"], limit=2)
    return filled.to_spark().agg(F.count("v").alias("n_filled"))


# -- rolling center= per user ------------------------------------------
ROLL_CENTER_SQL = """
WITH r AS (
  SELECT user_id, ts, event_id,
         CAST(sum(CAST(value AS DECIMAL(27,6)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE)
           AS csum,
         count(value)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS cnt
  FROM events
)
SELECT user_id, max(CASE WHEN cnt = 5 THEN csum END) AS max_center_sum
FROM r GROUP BY user_id
"""


@query("rolling_center_user", ROLL_CENTER_SQL)
def rolling_center_user(spark, sf_dir):
    """rolling(center=True) (reference _rolling.py:43): window spans
    [i-2, i+2] for window=5; decimal-exact sum, min_periods=5 matches
    the oracle's cnt=5 gate."""
    ev = tbl(spark, sf_dir, "events")
    r = ev.rolling(5, order_by=["ts", "event_id"], partition_by="user_id",
                   center=True)
    summed = r.agg_expr(
        csum=F.sum(F.col("value").cast("decimal(27,6)")),
        cnt=F.count(F.col("value")),
    )
    sdf = summed.to_spark().withColumn(
        "csum", F.when(F.col("cnt") == 5, F.col("csum").cast("double"))
    )
    return (
        sdf.groupBy("user_id")
        .agg(F.max("csum").alias("max_center_sum"))
    )


# -- shift(freq=): revenue lag alignment --------------------------------
SHIFT_FREQ_SQL = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1
)
SELECT day + INTERVAL 2 DAY AS shifted_day, n FROM d
"""


@query("shift_freq_days", SHIFT_FREQ_SQL)
def shift_freq_days(spark, sf_dir):
    """shift(freq=) = ShiftIndex (reference _expr.py:3433): the daily
    index moves by 2 days, counts stay with their rows."""
    ev = tbl(spark, sf_dir, "events")
    daily = (
        ev.assign(day=F.date_trunc("day", F.col("ts")))
        .groupby("day").agg(n=("day", "count"))
    )
    shifted = daily.set_index("day", sorted=False).shift(periods=2, freq="1d")
    return shifted.to_spark().select(
        F.col("day").alias("shifted_day"), "n"
    )


# -- ungrouped merge_asof (backward) vs DuckDB ASOF JOIN ----------------
ASOF_NOBY_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS day_val
  FROM events GROUP BY 1
)
SELECT o.o_orderkey, d.day_val
FROM orders o ASOF LEFT JOIN daily d
  ON CAST(o.o_orderdate AS TIMESTAMP) >= d.day
"""


@query("asof_orders_daily_noby", ASOF_NOBY_SQL)
def asof_orders_daily_noby(spark, sf_dir):
    """merge_asof WITHOUT by (range-bucketed cross-bucket carry) vs
    DuckDB's native ASOF JOIN."""
    from ..operators.asof import merge_asof

    ev = tbl(spark, sf_dir, "events")
    daily = (
        ev.assign(day=F.date_trunc("day", F.col("ts")))
        .groupby("day")
        .agg(day_val=(
            "day",
            lambda c: F.sum(F.col("value").cast("decimal(27,6)")).cast("double"),
        ))
    )
    od = tbl(spark, sf_dir, "orders")[["o_orderkey", "o_orderdate"]].assign(
        day=F.col("o_orderdate").cast("timestamp")
    )
    joined = merge_asof(od, daily, on="day", direction="backward",
                        right_cols=["day_val"])
    return joined.to_spark().select("o_orderkey", "day_val")


# -- win_type weighted rolling (round 3: _rolling.py:43-233 parity) -----
# oracle = the identical oldest-first lag chain: both engines evaluate
# (((0 + x0*w0) + x1*w1) + ...) left-to-right in double, so the sums
# are bit-identical before the stabilizing 4dp round.
_W5 = ["(1.0/3)", "(2.0/3)", "1.0", "(2.0/3)", "(1.0/3)"]
ROLLING_TRIANG_SQL = """
WITH d AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
)
SELECT day,
       round(0.0 + lag(rev, 4) OVER w * {w0} + lag(rev, 3) OVER w * {w1}
                 + lag(rev, 2) OVER w * {w2} + lag(rev, 1) OVER w * {w3}
                 + rev * {w4}, 4) AS rev_rsum
FROM d
WINDOW w AS (ORDER BY day)
ORDER BY day
""".format(w0=_W5[0], w1=_W5[1], w2=_W5[2], w3=_W5[3], w4=_W5[4])


@query("rolling_weighted_triang", ROLLING_TRIANG_SQL)
def rolling_weighted_triang(spark, sf_dir):
    """triangular-weighted rolling sum of daily revenue
    (rolling(win_type='triang'), reference _rolling.py:43-233) — pure
    JVM higher-order functions over the range-bucketed pad plan; the
    default min_periods=window nulls the first 4 days, matching the
    oracle's null-propagating lag chain."""
    od = tbl(spark, sf_dir, "orders")
    dec = od.assign(rev=F.col("o_totalprice").cast("decimal(18,2)"))
    daily = dec.groupby("o_orderdate").agg(rev=("rev", "sum"))
    daily = daily.assign(rev=F.col("rev").cast("double"))
    daily = daily.rename(columns={"o_orderdate": "day"})
    out = daily.rolling(5, order_by="day", win_type="triang").sum(["rev"])
    return out.to_spark().select(
        "day", F.round(F.col("rev_rsum"), 4).alias("rev_rsum")
    ).orderBy("day")


# -- ungrouped expanding median (round 3: the bucketed prefix plan) -----
EXPANDING_MEDIAN_SQL = """
SELECT o_orderkey,
       round(median(o_totalprice) OVER (ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
       AS o_totalprice_rmedian
FROM orders
"""


@query("expanding_median_global", EXPANDING_MEDIAN_SQL)
def expanding_median_global(spark, sf_dir):
    """ungrouped expanding median over the full order stream —
    exercises ordered.expanding_holistic (per-bucket sorted prefix
    arrays + cogrouped exact insertion), the plan that replaced the
    last global row-stream window; linear-interpolated like DuckDB's
    window median."""
    od = tbl(spark, sf_dir, "orders")[["o_orderkey", "o_totalprice"]]
    out = od.expanding(order_by="o_orderkey").median(["o_totalprice"])
    return out.to_spark().select(
        "o_orderkey",
        F.round(F.col("o_totalprice_rmedian"), 4).alias("o_totalprice_rmedian"),
    )


# -- groupby().rolling() (reference: _groupby.py:2136) ------------------
GB_ROLLING_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(sum(qc) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, qc
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS qcents_rsum
FROM (SELECT *, CAST(round(l_quantity*100) AS BIGINT) AS qc FROM lineitem)
"""


@query("groupby_rolling_qty", GB_ROLLING_SQL)
def groupby_rolling_qty(spark, sf_dir):
    """3-row rolling quantity sum per order — integer-cents column so
    the windowed sum is exact on both engines. l_linenumber is NOT
    unique within an order, so qcents joins the order key; remaining
    ties have equal qcents, which leaves ROWS-frame sums invariant."""
    li = tbl(spark, sf_dir, "lineitem")[["l_orderkey", "l_linenumber",
                                         "l_quantity"]]
    li = li.assign(qcents=(F.round(F.col("l_quantity") * 100)).cast("long"))
    out = (li.groupby("l_orderkey")
             .rolling(3, order_by=["l_linenumber", "qcents"], min_periods=1)
             .sum(["qcents"]))
    return out.to_spark().select(
        "l_orderkey", "l_linenumber",
        F.col("qcents_rsum").cast("double").alias("qcents_rsum"))


# -- groupby().expanding() ---------------------------------------------
GB_EXPANDING_SQL = """
SELECT user_id, event_id,
       CAST(sum(CAST(round(value*100) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS vcents_rsum
FROM events
"""


@query("groupby_expanding_value", GB_EXPANDING_SQL)
def groupby_expanding_value(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")[["user_id", "ts", "event_id", "value"]]
    ev = ev.assign(vcents=(F.round(F.col("value") * 100)).cast("long"))
    out = (ev.groupby("user_id")
             .expanding(order_by=["ts", "event_id"])
             .sum(["vcents"]))
    return out.to_spark().select(
        "user_id", "event_id",
        F.col("vcents_rsum").cast("double").alias("vcents_rsum"))


# -- map_overlap_rows (reference: MapOverlap, _expr.py:831) -------------
MAP_OVERLAP_SQL = """
SELECT o_orderkey,
       avg(CAST(round(o_totalprice*100) AS BIGINT))
           OVER (ORDER BY o_orderkey
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS smooth_cents
FROM orders
"""


@query("map_overlap_smooth", MAP_OVERLAP_SQL)
def map_overlap_smooth(spark, sf_dir):
    """centered 3-row moving average across the GLOBAL order stream,
    computed per range-bucket with 1-row padding from neighbors — the
    pandas rolling inside each padded bucket equals the global window
    because integer-cents sums are exact."""
    import pandas as pd
    o = tbl(spark, sf_dir, "orders")[["o_orderkey", "o_totalprice"]]
    o = o.assign(cents=(F.round(F.col("o_totalprice") * 100)).cast("long"))

    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("smooth_cents", T.DoubleType()),
    ])

    def fn(p):
        p = p.sort_values("o_orderkey")
        out = pd.DataFrame({
            "o_orderkey": p["o_orderkey"],
            "smooth_cents": p["cents"].rolling(3, center=True,
                                               min_periods=1).mean(),
            "__is_main": p["__is_main"],
        })
        return out

    return o.map_overlap_rows(fn, schema, order_col="o_orderkey",
                              before=1, after=1, num_buckets=16).to_spark()
