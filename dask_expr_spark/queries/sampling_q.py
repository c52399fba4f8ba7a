"""Deterministic sampling / splitting queries (training-pipeline
extension; functions/sampling.py), incl. per-group, weighted,
leakage-safe, temporal and mixture splits.  All are cross-engine exact:
selection keys off md5 hex prefixes, which Spark and DuckDB compute
identically — no engine RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import sampling as S
from ._util import cent_sum, cent_sum_sql, query, tbl


SPLIT_SQL = """
SELECT CASE WHEN substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 4) < '199a'
            THEN 'val' ELSE 'train' END AS split,
       lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY split, lang ORDER BY split, lang
"""


@query("split_train_val", SPLIT_SQL)
def split_train_val(spark, sf_dir):
    """hash_split: deterministic 10% validation split of documents —
    per-(split, lang) counts and token mass. Narrow map, no shuffle
    before the aggregate."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    train, val = S.hash_split(docs, "doc_id", val_fraction=0.1)
    both = train.withColumn("split", F.lit("train")).unionByName(
        val.withColumn("split", F.lit("val"))
    )
    return (
        both.withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


STRATIFIED_SQL = """
SELECT lang, doc_id
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('s42' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
WHERE rn <= 5 ORDER BY lang, doc_id
"""


@query("stratified_sample_docs", STRATIFIED_SQL)
def stratified_sample_docs(spark, sf_dir):
    """stratified_sample: exactly 5 documents per language, chosen by
    md5 order — reproducible across engines and partitionings."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    samp = S.stratified_sample(docs, "lang", "doc_id", n_per_stratum=5)
    return samp.select("lang", "doc_id").orderBy("lang", "doc_id")


GLOBAL_SHUFFLE_SQL = """
SELECT rn AS shuffle_rank, o_orderkey, o_totalprice
FROM (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY md5('s42' || CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 100 ORDER BY rn
"""


@query("global_shuffle_head", GLOBAL_SHUFFLE_SQL)
def global_shuffle_head(spark, sf_dir):
    """global_shuffle: reproducible permutation of orders; the first
    100 positions with a revenue checksum. Verifies the distributed
    offset-rank against a plain SQL row_number."""
    orders = tbl(spark, sf_dir, "orders").to_spark()
    sh = S.global_shuffle(orders, "o_orderkey")
    return (
        sh.filter(F.col("shuffle_rank") <= 100)
        .select("shuffle_rank", "o_orderkey", "o_totalprice")
        .orderBy("shuffle_rank")
    )


# -- domain-mixture resampling -----------------------------------------
MIX_SQL = """
WITH shares(src, share) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
thr AS (
  SELECT source, CAST(round(share * t / n * 65536) AS BIGINT) AS thr
  FROM (SELECT source, n, share, min(n / share) OVER () AS t
        FROM counts JOIN shares ON source = src)
)
SELECT source, count(*) AS n_kept
FROM documents JOIN thr USING (source)
WHERE ('0x' || substr(md5('mix42' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < thr
GROUP BY source
"""


@query("mix_sources_target", MIX_SQL)
def mix_sources_target(spark, sf_dir):
    """deterministic domain-mixture downsampling to a 50/30/20 target
    over three sources (functions/sampling.py resample_to_mix) —
    md5-threshold draw, reproducible on any engine/partitioning."""
    from ..functions.sampling import resample_to_mix
    docs = tbl(spark, sf_dir, "documents").to_spark()
    kept = resample_to_mix(docs, "source", "doc_id",
                           {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


SAMPLE_N_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
  SELECT * FROM orders
  ORDER BY md5('s42' || CAST(o_orderkey AS VARCHAR)), o_orderkey
  LIMIT 50
) ORDER BY o_orderkey
"""


@query("sample_n_orders", SAMPLE_N_SQL)
def sample_n_orders(spark, sf_dir):
    """sample_n: exactly 50 orders, uniform without replacement by md5
    order (TakeOrderedAndProject — per-partition top-n heap, no full
    sort). Deterministic across engines/partitionings like the rest of
    the sampling family."""
    orders = tbl(spark, sf_dir, "orders").to_spark()
    samp = S.sample_n(orders, 50, "o_orderkey")
    return samp.select("o_orderkey", "o_orderstatus", "o_totalprice") \
        .orderBy("o_orderkey")


SAMPLE_WEIGHTED_SQL = f"""
SELECT o_orderkey, o_totalprice FROM (
  SELECT *, ln((CAST(('0x' || substr(md5('s42' || CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT) + 1.0)
              / {float(16 ** 12 + 2)}) / CAST(o_totalprice AS DOUBLE) AS k
  FROM orders
  WHERE CAST(o_totalprice AS DOUBLE) > 0
  ORDER BY k DESC, o_orderkey LIMIT 40
) ORDER BY o_orderkey
"""


@query("sample_weighted_orders", SAMPLE_WEIGHTED_SQL)
def sample_weighted_orders(spark, sf_dir):
    """sample_n_weighted: exactly 40 orders drawn without replacement
    with probability ∝ o_totalprice (Efraimidis–Spirakis keys off the
    48-bit md5 uniform — IEEE-identical in both engines, so the draw
    is exact-checkable, not tolerance-checked)."""
    orders = tbl(spark, sf_dir, "orders").to_spark()
    samp = S.sample_n_weighted(orders, 40, "o_orderkey", "o_totalprice")
    return samp.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


# -- exact-n per-group sampling (functions/sampling.py
#    sample_n_per_group): deterministic md5 order → EXACT cross-engine
#    draw, the per-group companion to sample_n_orders -----------------
SAMPLE_GROUP_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY md5('s42' || CAST(o_orderkey AS VARCHAR)), o_orderkey
         ) AS rn
  FROM orders
) WHERE rn <= 5
ORDER BY o_orderpriority, o_orderkey
"""


@query("sample_n_per_group_orders", SAMPLE_GROUP_SQL)
def sample_n_per_group_orders(spark, sf_dir):
    from ..functions import sampling as S

    o = tbl(spark, sf_dir, "orders").to_spark()
    samp = S.sample_n_per_group(o, "o_orderpriority", "o_orderkey", 5)
    return (samp.select("o_orderpriority", "o_orderkey", "o_totalprice")
            .orderBy("o_orderpriority", "o_orderkey"))


# -- leakage-safe split (functions/sampling.py leakage_safe_split):
#    duplicate groups move as one unit, so near-dups never straddle
#    train/val.  Pairs here = exact-hash duplicates (SQL-reproducible;
#    production feeds MinHash/SimHash candidates), components via the
#    recursive CTE, split threshold = the md5-prefix rule ------------
LEAKAGE_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b
    ON md5(lower(trim(a.text))) = md5(lower(trim(b.text)))
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (SELECT s AS id, least(s, min(d)) AS rep FROM reach GROUP BY s),
labeled AS (
  SELECT doc_id, COALESCE(c.rep, doc_id) AS rep
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT CASE WHEN substring(md5('s42' || CAST(rep AS VARCHAR)), 1, 4)
                 < '4ccd'
            THEN 'val' ELSE 'train' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM labeled GROUP BY 1 ORDER BY split
"""


@query("split_leakage_safe", LEAKAGE_SQL)
def split_leakage_safe(spark, sf_dir):
    """leakage_safe_split over exact-duplicate pairs at
    val_fraction=0.3 (threshold 0.3*65536 = 19661 = 0x4ccd): output =
    per-split doc counts + id sums, hash-exact because both the
    components and the md5 threshold are reproduced in SQL.  The
    no-straddle invariant itself is property-tested in
    tests/test_round6_ops.py."""
    from ..functions import sampling as S

    docs = tbl(spark, sf_dir, "documents").to_spark()
    key = F.md5(F.lower(F.trim(F.col("text"))))
    a = docs.select(F.col("doc_id").alias("id_a"), key.alias("__k"))
    b = docs.select(F.col("doc_id").alias("id_b"), key.alias("__k"))
    pairs = (a.join(b, "__k").where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    train, val = S.leakage_safe_split(docs, "doc_id", pairs,
                                      val_fraction=0.3)
    u = (train.withColumn("split", F.lit("train"))
         .unionByName(val.withColumn("split", F.lit("val"))))
    return (u.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("id_sum"))
            .orderBy("split"))


# -- weighted exact-n PER GROUP (functions/sampling.py
#    sample_n_weighted_per_group): A-ES keys are engine-exact, so the
#    per-group draw is hash-exact like sample_weighted_orders ---------
SAMPLE_WG_SQL = f"""
SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY ln((CAST(('0x' || substr(md5('s42' || CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT) + 1.0)
                       / {float(16 ** 12 + 2)}) / CAST(o_totalprice AS DOUBLE) DESC,
                    o_orderkey
         ) AS rn
  FROM orders WHERE CAST(o_totalprice AS DOUBLE) > 0
) WHERE rn <= 8
ORDER BY o_orderpriority, o_orderkey
"""


@query("sample_weighted_per_group_orders", SAMPLE_WG_SQL)
def sample_weighted_per_group_orders(spark, sf_dir):
    from ..functions import sampling as S

    o = tbl(spark, sf_dir, "orders").to_spark()
    samp = S.sample_n_weighted_per_group(
        o, "o_orderpriority", "o_orderkey", "o_totalprice", 8)
    return (samp.select("o_orderpriority", "o_orderkey", "o_totalprice")
            .orderBy("o_orderpriority", "o_orderkey"))


# -- temporal train/val split with embargo (sampling.split_temporal):
#    the leakage-safe split for event data — strictly-older train, a
#    dropped buffer around the boundary, reproducible from a literal
#    cutoff; the oracle is the same CASE from first principles -------
SPLIT_TEMPORAL_SQL = f"""
WITH s AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-20' - INTERVAL 3 DAY
              THEN 'train'
              WHEN ts >= TIMESTAMP '2024-01-20' THEN 'val'
              ELSE 'embargo' END AS split,
         value, user_id
  FROM events
)
SELECT split, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('value')} AS total,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM s GROUP BY split ORDER BY split
"""


@query("split_temporal_events", SPLIT_TEMPORAL_SQL)
def split_temporal_events(spark, sf_dir):
    import datetime

    from ..functions.sampling import split_temporal

    ev = tbl(spark, sf_dir, "events").to_spark()
    s = split_temporal(ev, "ts",
                       cutoff=datetime.datetime(2024, 1, 20),
                       embargo="3 days")
    return (s.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("value")).alias("total"),
                 F.countDistinct("user_id").alias("n_users"))
            .orderBy("split"))
