"""Event-analytics queries (funnel, cohort retention, interval joins,
timedelta components) — product-analytics patterns a
training-data/events pipeline needs; all window + join + groupBy, no
UDFs."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import query, tbl


FUNNEL_SQL = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
),
staged AS (
  SELECT CASE
    WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
         AND t_view <= t_click AND t_click <= t_purchase THEN 3
    WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_view <= t_click THEN 2
    WHEN t_view IS NOT NULL THEN 1
    ELSE 0 END AS stage
  FROM firsts
)
SELECT stage, count(*) AS n_users FROM staged GROUP BY stage ORDER BY stage
"""


@query("funnel_stages", FUNNEL_SQL)
def funnel_stages(spark, sf_dir):
    """funnel: per user, first ts of view → click → purchase; count
    users reaching each ordered stage."""
    ev = tbl(spark, sf_dir, "events").to_spark()
    firsts = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
        )
    )
    stage = (
        F.when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & F.col("t_purchase").isNotNull()
            & (F.col("t_view") <= F.col("t_click"))
            & (F.col("t_click") <= F.col("t_purchase")),
            3,
        )
        .when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_view") <= F.col("t_click")),
            2,
        )
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        firsts.withColumn("stage", stage)
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


RETENTION_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM active GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM active a JOIN cohort c ON a.user_id = c.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("weekly_retention", RETENTION_SQL)
def weekly_retention(spark, sf_dir):
    """cohort retention: users first active in week w0, still active
    k weeks later — (cohort_week, week_offset, n_users)."""
    ev = tbl(spark, sf_dir, "events").to_spark()
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = active.join(cohort, "user_id").withColumn(
        "week_offset",
        F.datediff(F.col("week"), F.col("cohort_week")).cast("long") / 7,
    )
    return (
        joined.withColumn("week_offset", F.col("week_offset").cast("long"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


JSON_PROPS_SQL = """
WITH j AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
)
SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, max(k) AS max_k
FROM j GROUP BY event_type ORDER BY event_type
"""


@query("json_props_stats", JSON_PROPS_SQL)
def json_props_stats(spark, sf_dir):
    """semi-structured extraction: parse the JSON props column and
    aggregate the extracted field (Spark get_json_object — JVM-side
    JSON path, no UDF)."""
    ev = tbl(spark, sf_dir, "events")
    sdf = ev.to_spark().withColumn(
        "k", F.get_json_object(F.col("props"), "$.k").cast("long")
    )
    return (
        sdf.groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# -- range (interval) join ----------------------------------------------
RANGE_JOIN_SQL = """
WITH w AS (
  SELECT user_id AS wu,
         epoch_us(ts) - 600000000 AS lo,
         epoch_us(ts) + 600000000 AS hi
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, epoch_us(ts) AS p
  FROM events WHERE event_type = 'click'
)
SELECT c.user_id, count(*) AS n_in_window
FROM c JOIN w ON c.user_id = w.wu AND c.p BETWEEN w.lo AND w.hi
GROUP BY c.user_id
"""


@query("range_join_purchase_windows", RANGE_JOIN_SQL)
def range_join_purchase_windows(spark, sf_dir):
    """interval join (operators/rangejoin.py merge_range): clicks
    falling inside ±10min windows around same-user purchases — the
    bin-bucketed equi-join shape, not a nested loop."""
    from ..operators.rangejoin import merge_range

    ev = tbl(spark, sf_dir, "events").to_spark()
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    windows = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("wu"),
            (us - 600_000_000).alias("lo"),
            (us + 600_000_000).alias("hi"),
        )
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("p"))
    )
    joined = merge_range(clicks, windows, "p", "lo", "hi")
    return (
        joined.filter(F.col("user_id") == F.col("wu"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_in_window"))
    )


# -- .dt.components on a day-time interval (round-5 accessor tail;
#    reference _datetime.py:25) ----------------------------------------
# interval = ts - epoch anchor; the component decomposition is integer
# math DuckDB reproduces from epoch seconds/microseconds exactly
# (timestamps are microsecond-precision, so double epoch is exact).
COMPONENTS_SQL = """
WITH iv AS (
  SELECT CAST(floor(extract(epoch FROM ts - TIMESTAMP '2024-01-01')) AS BIGINT) AS t,
         CAST(round((extract(epoch FROM ts - TIMESTAMP '2024-01-01')
               - floor(extract(epoch FROM ts - TIMESTAMP '2024-01-01'))) * 1000000) AS BIGINT) AS us
  FROM events
),
c AS (
  SELECT CAST(floor(t / 86400) AS INT) AS days,
         CAST(floor((t % 86400) / 3600) AS INT) AS hours,
         CAST(floor((t % 3600) / 60) AS INT) AS minutes,
         CAST(t % 60 AS INT) AS seconds,
         CAST(floor(us / 1000) AS INT) AS milliseconds,
         CAST(us % 1000 AS INT) AS microseconds
  FROM iv
)
SELECT hours, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(days) AS BIGINT) AS day_sum,
       CAST(sum(minutes) AS BIGINT) AS minute_sum,
       CAST(sum(seconds) AS BIGINT) AS second_sum,
       CAST(sum(milliseconds) AS BIGINT) AS ms_sum,
       CAST(sum(microseconds) AS BIGINT) AS us_sum
FROM c GROUP BY hours ORDER BY hours
"""


@query("timedelta_components_events", COMPONENTS_SQL)
def timedelta_components_events(spark, sf_dir):
    e = tbl(spark, sf_dir, "events")
    iv = e["ts"] - F.lit("2024-01-01 00:00:00").cast("timestamp")
    comp = iv.dt.components()
    return (comp.to_spark().groupBy("hours")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("days").cast("long").alias("day_sum"),
                 F.sum("minutes").cast("long").alias("minute_sum"),
                 F.sum("seconds").cast("long").alias("second_sum"),
                 F.sum("milliseconds").cast("long").alias("ms_sum"),
                 F.sum("microseconds").cast("long").alias("us_sum"))
            .orderBy("hours"))
