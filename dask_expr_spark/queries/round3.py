"""Round-3 query batch: oracle-paired queries for the operators added
in rounds 2-3 (range-bucketed ordered ops, ffill limit=, rolling
center=, shift(freq=), .cat accessor incl. explicit categories,
axis=1 reductions, ungrouped merge_asof, groupby by-expression,
win_type weighted rolling, bucketed expanding median).

Wired into collect_queries() since round 3; tests/test_correctness.py
checks every query here against its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import tbl

QUERIES: dict = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn
    return deco


# -- ungrouped cumulative over the full order stream (two-pass plan) ----
CUMSUM_GLOBAL_SQL = """
SELECT o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total
FROM orders
"""


@q("ordered_cumsum_global", CUMSUM_GLOBAL_SQL)
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


@q("ordered_shift_global", SHIFT_GLOBAL_SQL)
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


@q("ordered_ffill_limit", FFILL_LIMIT_SQL)
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


@q("rolling_center_user", ROLL_CENTER_SQL)
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


@q("shift_freq_days", SHIFT_FREQ_SQL)
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


# -- .cat codes ---------------------------------------------------------
CAT_CODES_SQL = """
WITH c AS (
  SELECT c_mktsegment,
         dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS code
  FROM customer
)
SELECT code, c_mktsegment AS segment, count(*) AS n
FROM c GROUP BY code, c_mktsegment
"""


@q("cat_codes_segments", CAT_CODES_SQL)
def cat_codes_segments(spark, sf_dir):
    """Series.cat.codes (reference _categorical.py:21): dense codes in
    sorted-category order, dictionary broadcast back."""
    cu = tbl(spark, sf_dir, "customer")
    codes = cu["c_mktsegment"].cat.codes.alias("code")
    sdf = codes._anchor.select(
        codes._scol.alias("code"), F.col("c_mktsegment").alias("segment")
    )
    return (
        sdf.groupBy("code", "segment").agg(F.count(F.lit(1)).alias("n"))
    )


# -- axis=1 row stats ---------------------------------------------------
AXIS1_SQL = """
WITH r AS (
  SELECT l_orderkey,
         least(l_quantity, l_discount, l_tax) AS rmin,
         greatest(l_quantity, l_discount, l_tax) AS rmax
  FROM lineitem
)
SELECT count(*) AS n, CAST(sum(CAST(rmin AS DECIMAL(27,4))) AS DOUBLE) AS sum_min,
       CAST(sum(CAST(rmax AS DECIMAL(27,4))) AS DOUBLE) AS sum_max
FROM r
"""


@q("axis1_row_stats", AXIS1_SQL)
def axis1_row_stats(spark, sf_dir):
    """axis=1 reductions (JVM array higher-order fns): per-row min/max
    across measures, then exact aggregation."""
    li = tbl(spark, sf_dir, "lineitem")[["l_quantity", "l_discount", "l_tax"]]
    rmin = li.min(axis=1).alias("rmin")
    rmax = li.max(axis=1).alias("rmax")
    sdf = rmin._anchor.select(rmin._scol.alias("rmin"), rmax._scol.alias("rmax"))
    return sdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rmin").cast("decimal(27,4)")).cast("double").alias("sum_min"),
        F.sum(F.col("rmax").cast("decimal(27,4)")).cast("double").alias("sum_max"),
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


@q("asof_orders_daily_noby", ASOF_NOBY_SQL)
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


# -- repetition filter (training-data quality) --------------------------
REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks)), i ->
             array_to_string(toks[i:i+1], ' ')) AS grams
  FROM t
), r AS (
  SELECT doc_id,
         CASE WHEN len(grams) > 0
              THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                   / len(grams)
              ELSE 0.0 END AS rep
  FROM g
)
SELECT CAST(floor(rep * 10) AS BIGINT) AS bucket,
       count(*) AS n_docs, min(doc_id) AS min_doc
FROM r GROUP BY bucket
"""


@q("text_repetition_buckets", REPETITION_SQL)
def text_repetition_buckets(spark, sf_dir):
    """bigram repetition ratio (functions/text.py repetition_ratio)
    bucketed by decile — the Gopher/C4-style repetition filter as a
    distributed scan + groupBy."""
    from ..functions import text as T

    docs = tbl(spark, sf_dir, "documents").to_spark()
    r = docs.select(
        "doc_id", T.repetition_ratio(F.col("text"), k=2).alias("rep")
    )
    return (
        r.withColumn("bucket", F.floor(F.col("rep") * 10).cast("long"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


# -- PII pattern scan ---------------------------------------------------
PII_SQL = """
WITH p AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS email,
         len(regexp_extract_all(text,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS ipv4,
         len(regexp_extract_all(text,
             '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS phone_us
  FROM documents
)
SELECT CAST(sum(email) AS BIGINT) AS n_email,
       CAST(sum(ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(phone_us) AS BIGINT) AS n_phone,
       CAST(sum(CASE WHEN email + ipv4 + phone_us > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM p
"""


@q("text_pii_scan", PII_SQL)
def text_pii_scan(spark, sf_dir):
    """PII pattern counts (functions/text.py pii_counts) — the
    flag/redact scan of a training-data pipeline, pure JVM
    regexp_count."""
    from ..functions import text as T

    docs = tbl(spark, sf_dir, "documents").to_spark()
    c = T.pii_counts(F.col("text"))
    p = docs.select(
        "doc_id",
        c["email"].alias("email"),
        c["ipv4"].alias("ipv4"),
        c["phone_us"].alias("phone_us"),
    )
    return p.agg(
        F.sum("email").cast("long").alias("n_email"),
        F.sum("ipv4").cast("long").alias("n_ipv4"),
        F.sum("phone_us").cast("long").alias("n_phone"),
        F.sum(
            F.when(F.col("email") + F.col("ipv4") + F.col("phone_us") > 0, 1)
            .otherwise(0)
        ).cast("long").alias("n_flagged"),
    )


# -- benchmark decontamination ------------------------------------------
CONTAMINATION_SQL = """
WITH bench AS (
  SELECT DISTINCT s AS sh
  FROM (
    SELECT unnest(list_transform(range(1, len(toks) - 1),
                  i -> array_to_string(toks[i:i+2], ' '))) AS s
    FROM (SELECT string_split(text, ' ') AS toks
          FROM documents WHERE doc_id % 10 = 0)
  )
), doc_sh AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id % 10 <> 0)
), per AS (
  SELECT d.doc_id,
         count(*) AS n_shingles,
         sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_cont
  FROM doc_sh d LEFT JOIN bench b USING (sh)
  GROUP BY d.doc_id
)
SELECT CAST(floor(CAST(n_cont AS DOUBLE) / n_shingles * 10) AS BIGINT)
         AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_cont) AS BIGINT) AS total_cont
FROM per GROUP BY bucket
"""


@q("text_contamination_buckets", CONTAMINATION_SQL)
def text_contamination_buckets(spark, sf_dir):
    """decontamination (functions/text.py ngram_contamination): every
    10th doc plays the benchmark, the rest are probed for 3-gram
    overlap; contamination ratio bucketed by decile. hashed=False so
    DuckDB joins the same shingle strings."""
    from ..functions import text as T

    docs = tbl(spark, sf_dir, "documents").to_spark()
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    per = T.ngram_contamination(
        corpus, "doc_id", "text", bench, "text", k=3, hashed=False
    )
    return (
        per.withColumn(
            "bucket", F.floor(F.col("ratio") * 10).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_contaminated").cast("long").alias("total_cont"),
        )
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


@q("range_join_purchase_windows", RANGE_JOIN_SQL)
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


STREAM_NEAR_DEDUP_SQL = """
WITH ds AS (
  SELECT DISTINCT doc_id AS id, unnest(
    CASE WHEN len(string_split(text,' ')) >= 3
         THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
                             i -> array_to_string(string_split(text,' ')[i:i+2], ' '))
         ELSE [] END) AS sh
  FROM documents
),
base AS (
  SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM ds
),
perms AS (SELECT unnest(generate_series(0, 31)) AS i),
sig AS (
  SELECT id, i,
         min(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(h AS VARCHAR)),
                             1, 15))::BIGINT) AS m
  FROM base CROSS JOIN perms GROUP BY id, i
),
bandkeys AS (
  SELECT id, i // 4 AS band,
         ('0x' || substr(md5(string_agg(CAST(m AS VARCHAR), ':' ORDER BY i)),
                         1, 15))::BIGINT AS bkey
  FROM sig GROUP BY id, i // 4
),
grp AS (
  SELECT band, bkey, id,
         min(id) OVER (PARTITION BY band, bkey) AS first
  FROM bandkeys
)
SELECT id AS doc_id, first AS matched_doc, CAST(band AS INT) AS band
FROM grp WHERE id != first
ORDER BY doc_id, matched_doc, band
"""


@q("stream_near_dedup", STREAM_NEAR_DEDUP_SQL)
def stream_near_dedup(spark, sf_dir):
    """streaming MinHash-LSH near-dup candidates
    (streaming/ops.py near_dedup_candidates_stream): pure-expression
    signatures + per-(band,bucket) state, candidates flagged online.
    Run with the portable md5 hash family, whose signature/band/bucket
    pipeline DuckDB reproduces bit-for-bit — with a single source
    batch the state handler's min-first rule makes each candidate
    (doc, bucket-min, band), so the FULL streaming output hash-matches
    the oracle. xxhash64 stays the production default (batch parity
    asserted in tests/test_streaming.py)."""
    import os
    import tempfile

    from ..sources.io import read_parquet
    from ..streaming import ops as S

    src = tempfile.mkdtemp(prefix="stream_nd_")
    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    docs.to_spark().select("doc_id", "text") \
        .where(F.size(F.split(F.col("text"), " ")) >= 3).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    name = "stream_near_dedup_out"
    q_ = S.run_to_memory(
        S.near_dedup_candidates_stream(stream, portable_hash=True), name,
        output_mode="append",
    )
    try:
        out = spark.sql(
            f"SELECT doc_id, matched_doc, band FROM {name} "
            "ORDER BY doc_id, matched_doc, band"
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        q_.stop()
    return out


# -- groupby by-expression key (round 3: _clean_by_expr parity) ---------
GROUPBY_EXPR_SQL = """
SELECT CAST(o_custkey // 100 AS BIGINT) AS cust_bucket,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2
ORDER BY cust_bucket, o_orderpriority
"""


@q("groupby_expr_buckets", GROUPBY_EXPR_SQL)
def groupby_expr_buckets(spark, sf_dir):
    """groupby(by=[Series expr, name], sort=True) — the reference's
    _clean_by_expr surface (_groupby.py:1322): the derived bucket key
    is materialized as a key column, aggregated in one exchange, and
    sort=True orders the output by the keys."""
    od = tbl(spark, sf_dir, "orders")
    dec = od.assign(__p=F.col("o_totalprice").cast("decimal(18,2)"))
    bucket = (dec["o_custkey"] // 100).alias("cust_bucket")
    out = dec.groupby([bucket, "o_orderpriority"], sort=True).agg(
        n=("o_orderkey", "count"), revenue=("__p", "sum")
    )
    return out.to_spark().select(
        F.col("cust_bucket").cast("long").alias("cust_bucket"),
        "o_orderpriority",
        "n",
        F.col("revenue").cast("double").alias("revenue"),
    )


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


@q("rolling_weighted_triang", ROLLING_TRIANG_SQL)
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


@q("expanding_median_global", EXPANDING_MEDIAN_SQL)
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


# -- explicit .cat categories (round 3: _categorical.py:21 parity) ------
CAT_EXPLICIT_SQL = """
SELECT o_orderkey,
       CAST(CASE o_orderpriority
            WHEN '3-MEDIUM' THEN 0 WHEN '1-URGENT' THEN 1 ELSE -1
       END AS INT) AS prio_code
FROM orders
"""


@q("cat_codes_explicit", CAT_EXPLICIT_SQL)
def cat_codes_explicit(spark, sf_dir):
    """set_categories + codes: explicit category order compiles to a
    literal map, membership misses -> -1 (pandas convention)."""
    od = tbl(spark, sf_dir, "orders")
    s = od.set_index("o_orderkey")["o_orderpriority"]
    codes = s.cat.set_categories(["3-MEDIUM", "1-URGENT"]).cat.codes
    return codes.to_frame().to_spark().withColumnRenamed(
        "o_orderpriority", "prio_code"
    )


# -- sequence packing (LLM-pipeline: concat-and-chunk into packs) -------
PACK_SQL = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS cum
  FROM t
)
SELECT doc_id, n_tok,
       CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
       CAST((cum - n_tok) % 2048 AS BIGINT) AS pack_offset,
       CAST((cum - 1) // 2048 AS BIGINT) AS pack_id_end
FROM c ORDER BY doc_id
"""


@q("pack_sequences_2048", PACK_SQL)
def pack_sequences_2048(spark, sf_dir):
    """GPT-style sequence packing (functions/text.py pack_sequences):
    one exact running sum over the doc stream (ordered.cumulative,
    range-bucketed) + integer arithmetic — each doc's pack id, offset
    and end pack at a 2048-token context. Integer-exact, so the
    oracle is a plain SQL window cumsum."""
    from ..functions import text as TX

    docs = tbl(spark, sf_dir, "documents").to_spark()
    prep = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tok")
    )
    out = TX.pack_sequences(prep, "doc_id", "n_tok", max_len=2048)
    return out.select("doc_id", "n_tok", "pack_id", "pack_offset",
                      "pack_id_end").orderBy("doc_id")


# -- duplicate-pair → duplicate-group resolution ------------------------
COMPONENTS_SQL = """
WITH RECURSIVE ds AS (
  SELECT DISTINCT doc_id AS id, unnest(
    CASE WHEN len(string_split(text,' ')) >= 3
         THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
                             i -> array_to_string(string_split(text,' ')[i:i+2], ' '))
         ELSE [] END) AS sh
  FROM documents
),
sz AS (SELECT id, count(*) AS n FROM ds GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM ds a JOIN ds b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter JOIN sz x ON x.id = id_a JOIN sz y ON y.id = id_b
  WHERE i * 1.0 / (x.n + y.n - i) >= 0.9
),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a AS node, b AS r FROM sym
  UNION
  SELECT re.node, s.b FROM reach re JOIN sym s ON s.a = re.r
)
SELECT node AS doc_id, least(node, min(r)) AS group_root
FROM reach GROUP BY node ORDER BY doc_id
"""


@q("dedup_connected_groups", COMPONENTS_SQL)
def dedup_connected_groups(spark, sf_dir):
    """pairs → groups: exact-Jaccard duplicate pairs resolved into
    connected components (functions/dedup.py connected_components,
    min-label propagation) — each doc labeled with the smallest id in
    its duplicate cluster; the oracle recomputes the transitive
    closure with a recursive CTE."""
    from ..functions import dedup as DD

    docs = tbl(spark, sf_dir, "documents").to_spark()
    pairs = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.9, max_shingle_freq=None
    )
    comp = DD.connected_components(pairs.select("id_a", "id_b"))
    return (
        comp.select(F.col("id").alias("doc_id"),
                    F.col("comp").alias("group_root"))
        .orderBy("doc_id")
    )
