"""Similarity-search + multimodal queries over embeddings/documents
(functions/similarity.py, functions/multimodal.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import multimodal as MM
from ..functions import similarity as SIM
from ._util import query, tbl


ANN_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
v AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS vv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, vv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cos
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@query("ann_cosine_topk", ANN_TOPK_SQL)
def ann_cosine_topk(spark, sf_dir):
    """brute-force exact cosine top-5 per query vector (functions/
    similarity.py cosine_topk) — queries = vec_id % 100 == 0, corpus
    streams, query side broadcast."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    res = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"), F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


ANN_TOPK_BLOCKED_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 4 = 0
),
v AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS vv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, vv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cos
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@query("ann_cosine_topk_blocked", ANN_TOPK_BLOCKED_SQL)
def ann_cosine_topk_blocked(spark, sf_dir):
    """exact cosine top-5 with the UNCAPPED blocked kernel
    (functions/similarity.py cosine_topk_blocked): a 25%-of-corpus
    query set — far past what the capped cosine_topk contract is for —
    scored over the corpus×query block grid with tiny block sizes so
    several grid cells and the bounded candidate merge are all
    exercised even at sf0.01."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 4 == 0)
    res = SIM.cosine_topk_blocked(
        emb, queries, "vec_id", "embedding", k=5,
        corpus_block_rows=64, query_block_rows=16)
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"),
        F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


ANN_CENTROIDS_SQL = """
WITH e AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS val,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings
),
per_dim AS (
  SELECT label, pos,
         CAST(sum(CAST(val AS DECIMAL(27,9))) AS DOUBLE) / count(val) AS mean_val,
         count(val) AS n
  FROM e GROUP BY label, pos
),
norms AS (
  SELECT label,
         CAST(sum(CAST(mean_val * mean_val AS DECIMAL(27,15))) AS DOUBLE) AS norm2,
         min(n) AS n_vectors
  FROM per_dim GROUP BY label
)
SELECT label, n_vectors, round(sqrt(norm2), 6) AS centroid_norm
FROM norms ORDER BY label
"""


@query("ann_centroids", ANN_CENTROIDS_SQL)
def ann_centroids(spark, sf_dir):
    """per-label centroids (IVF coarse-quantizer step, functions/
    similarity.py centroids_by_label) — reported as (label, n, norm)."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    cents = SIM.centroids_by_label(emb, "label", "embedding")
    # norm over exact decimal squares so cross-engine sum order is moot
    norm2 = F.aggregate(
        F.transform(F.col("centroid"), lambda x: (x * x).cast("decimal(27,15)")),
        F.lit(0).cast("decimal(27,15)"),
        # decimal + widens precision; cast back so acc type stays stable
        lambda acc, x: (acc + x).cast("decimal(27,15)"),
    ).cast("double")
    return cents.select(
        "label",
        "n_vectors",
        F.round(F.sqrt(norm2), 6).alias("centroid_norm"),
    ).orderBy("label")


ANN_TOP1_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
v AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS vv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, vv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cos
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rank = 1 ORDER BY query_id
"""


@query("ann_lsh_bucketed", ANN_TOP1_SQL)
def ann_lsh_bucketed(spark, sf_dir):
    """hyperplane-LSH bucketed ANN (functions/similarity.py
    lsh_bucketed_topk) — the 100 TB path: equi-join on signature
    buckets instead of a cross join. Hash-checked via a CONTAINMENT
    oracle: output = each query's EXACT nearest neighbor (brute-force
    top-1, SQL-expressible), kept only if the LSH candidate set found
    it. Hyperplanes are seeded deterministically, so coverage is a
    fixed property of the data — a recall miss at rank 1 drops a row
    and the driver hash flags it. Full top-5 recall (≥ 0.5) is
    asserted separately in tests/test_similarity.py."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = SIM.lsh_bucketed_topk(
        emb, queries, dim=64, k=5, num_tables=24, planes_per_table=4
    ).select("query_id", "neighbor_id")
    exact1 = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=1)
    return (
        exact1.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .select("query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"))
        .orderBy("query_id")
    )


@query("ann_lsh_auto_planes", ANN_TOP1_SQL)
def ann_lsh_auto_planes(spark, sf_dir):
    """the LSH plane-sizing contract end-to-end: planes_per_table=
    "auto" derives p = ceil(log2(n / target_bucket_rows)) from one
    corpus count() (functions/similarity.py lsh_bucketed_topk — the
    ×1000-probe fix for fixed-p superlinearity, SCALE.md). Same
    CONTAINMENT oracle as ann_lsh_bucketed: exact top-1 per query,
    kept only when the auto-sized candidate join found it — the sizing
    is deterministic given the corpus count, so coverage is a fixed
    property of the data and any sizing drift flips the row set."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = SIM.lsh_bucketed_topk(
        emb, queries, dim=64, k=5, num_tables=24,
        planes_per_table="auto", target_bucket_rows=64
    ).select("query_id", "neighbor_id")
    exact1 = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=1)
    return (
        exact1.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .select("query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"))
        .orderBy("query_id")
    )


@query("ann_ivf_topk", ANN_TOP1_SQL)
def ann_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN (functions/similarity.py ivf_topk):
    deterministic seeding + one distributed Lloyd round, vectors in 1
    cell, queries probe nprobe cells — candidate generation is an
    equi-join on cell, cost ~nprobe/num_cells of the corpus. Same
    CONTAINMENT oracle as ann_lsh_bucketed: exact top-1 per query,
    kept only when the IVF probe found it (deterministic seeds →
    deterministic coverage). Top-5 recall asserted in
    tests/test_similarity.py."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = SIM.ivf_topk(
        emb, queries, dim=64, k=5, num_cells=16, nprobe=12
    ).select("query_id", "neighbor_id")
    exact1 = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=1)
    return (
        exact1.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .select("query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"))
        .orderBy("query_id")
    )


MULTIMODAL_SQL = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 36 ELSE 18 END AS n_bytes,
         CAST(doc_id % 1024 + 1 AS BIGINT) AS width,
         CAST((doc_id * 7) % 768 + 1 AS BIGINT) AS height,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS format
  FROM documents
)
SELECT format, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       max(width) AS max_width, min(height) AS min_height
FROM m GROUP BY format ORDER BY format
"""


@query("multimodal_decode", MULTIMODAL_SQL)
def multimodal_decode(spark, sf_dir):
    """multimodal decode: synthesize REAL PNG/GIF container headers
    deterministically from doc_id (so DuckDB can predict the result),
    push them through the Arrow-batched header parser
    (functions/multimodal.py decode_image_meta) and aggregate the
    parsed metadata — the parse itself is under test, not a stub."""
    import pandas as pd
    import struct

    @F.pandas_udf("binary")
    def payload(ids):
        def mk(i):
            i = int(i)
            w, h = i % 1024 + 1, (i * 7) % 768 + 1
            if i % 2 == 0:  # 36-byte PNG: magic + IHDR len/type + dims
                return (b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR"
                        + struct.pack(">II", w, h) + b"\x08\x06" + b"\x00" * 10)
            # 18-byte GIF: magic + logical screen descriptor
            return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 8
        return ids.apply(mk)

    docs = tbl(spark, sf_dir, "documents").to_spark()
    with_bin = docs.select("doc_id", payload("doc_id").alias("payload"))
    meta = MM.decode_image_meta(with_bin, "doc_id", "payload")
    return (
        meta.groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("width").alias("max_width"),
            F.min("height").alias("min_height"),
        )
        .orderBy("format")
    )


DEDUP_EMBEDDING_SQL = """
SELECT id_a, id_b, round(cos, 6) AS cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE cos >= 0.45 ORDER BY id_a, id_b
"""


@query("dedup_embedding_cosine", DEDUP_EMBEDDING_SQL)
def dedup_embedding_cosine(spark, sf_dir):
    """embedding-cosine near-duplicate pairs: all (a, b) with
    cos >= 0.45 (exact self-similarity join; functions/similarity.py
    cosine). Threshold calibrated to the corpus — at production scale
    run the LSH-bucketed variant first and verify candidates only."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    a = emb.select(
        F.col("vec_id").alias("id_a"), SIM.as_double(F.col("embedding")).alias("__va")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), SIM.as_double(F.col("embedding")).alias("__vb")
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", SIM.cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cos") >= 0.45)
        .select("id_a", "id_b", F.round(F.col("cos"), 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )
    return pairs


ANN_INT8_SQL = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS m
  FROM embeddings
),
quant AS (
  SELECT vec_id, list_transform(e, x -> round(x * 127.0 / m)) AS q FROM base
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 100 = 0),
v AS (SELECT vec_id AS neighbor_id, q AS vv FROM quant),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, vv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cos
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@query("ann_int8_topk", ANN_INT8_SQL)
def ann_int8_topk(spark, sf_dir):
    """int8-quantized brute-force ANN (functions/similarity.py
    cosine_topk_int8): the embedding column crosses scan+shuffle as
    array<tinyint> — 4-8x less vector traffic. FULL hash oracle:
    quantize_int8 is pure arithmetic (round(127·x/max|x|)), so DuckDB
    reproduces the quantized corpus exactly and the int8 top-5 — query
    side stays float, mirroring the implementation."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    res = SIM.cosine_topk_int8(emb, queries, k=5)
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def _lsh_cell_sql(dim: int, num_planes: int, seed: int) -> str:
    """DuckDB expression reproducing functions/similarity.py
    hyperplane_signature bit-for-bit: the same driver-generated plane
    weights are inlined as double literals (repr round-trips), the
    same `dot > 0 -> +2^p` packing."""
    from ..functions.similarity import _plane_weights

    terms = []
    for p, w in enumerate(_plane_weights(dim, num_planes, seed)):
        arr = "[" + ",".join(repr(float(x)) for x in w) + "]"
        terms.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) > 0 "
            f"THEN {1 << p} ELSE 0 END")
    return " + ".join(terms)


SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE cells AS (
  SELECT vec_id AS id, CAST({_lsh_cell_sql(64, 2, 7)} AS BIGINT) AS cell,
         embedding::DOUBLE[] AS v
  FROM embeddings
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= 0.45
),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a AS node, b AS r FROM sym
  UNION
  SELECT re.node, s.b FROM reach re JOIN sym s ON s.a = re.r
),
dropped AS (
  SELECT node FROM reach GROUP BY node HAVING min(r) < node
)
SELECT cell, count(*) AS n_kept, CAST(sum(id) AS BIGINT) AS id_sum
FROM cells WHERE id NOT IN (SELECT node FROM dropped)
GROUP BY cell ORDER BY cell
"""


@query("semantic_dedup_kept", SEMANTIC_DEDUP_SQL)
def semantic_dedup_kept(spark, sf_dir):
    """SemDeDup semantic dedup (functions/similarity.py semantic_dedup;
    Abbas et al. 2023): deterministic hyperplane cells (2 planes -> 4
    cells at this SF), within-cell cosine >= 0.45 pairs resolved into
    duplicate groups, min-id representative kept.  The oracle
    reproduces the identical cells from the same inlined plane weights
    and the transitive closure with a recursive CTE."""
    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    kept = SIM.semantic_dedup(
        emb, dim=64, id_col="vec_id", vec_col="embedding",
        threshold=0.45, method="lsh", num_planes=2, seed=7)
    return (kept.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("id").alias("id_sum"))
            .orderBy("cell"))


MULTIMODAL_AUDIO_SQL = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 2 THEN 'mp3' ELSE 'wav' END AS format,
         CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE CAST(doc_id % 2 + 1 AS INT) END AS n_channels,
         CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE CAST(8000 * (doc_id % 4 + 1) AS INT) END AS sample_rate,
         CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE (doc_id % 50 + 1) * 1.0 / (8000 * (doc_id % 4 + 1))
         END AS duration_s
  FROM documents
)
SELECT format, n_channels, sample_rate,
       count(*) AS n,
       round(sum(duration_s), 6) AS total_duration
FROM m GROUP BY format, n_channels, sample_rate
ORDER BY format, n_channels, sample_rate
"""


@query("multimodal_audio_meta", MULTIMODAL_AUDIO_SQL)
def multimodal_audio_meta(spark, sf_dir):
    """audio-metadata decode: synthesize REAL RIFF/WAVE containers
    deterministically from doc_id (channels/rate/samples are doc_id
    formulas DuckDB can predict), push them through the stdlib WAV
    parser (functions/multimodal.py decode_audio_meta) and aggregate —
    the header parse is under test, not a stub."""
    import struct

    @F.pandas_udf("binary")
    def payload(ids):
        def mk(i):
            i = int(i)
            if i % 3 == 2:  # every third doc is an mp3-magic stub
                return b"ID3" + b"\x00" * 13
            nch = i % 2 + 1
            rate = 8000 * (i % 4 + 1)
            bits = 16
            n_samples = i % 50 + 1
            data = b"\x00" * (n_samples * nch * (bits // 8))
            fmt = struct.pack("<HHIIHH", 1, nch, rate,
                              rate * nch * bits // 8, nch * bits // 8, bits)
            chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
            chunks += b"data" + struct.pack("<I", len(data)) + data
            return (b"RIFF" + struct.pack("<I", 4 + len(chunks))
                    + b"WAVE" + chunks)
        return ids.apply(mk)

    docs = tbl(spark, sf_dir, "documents").to_spark()
    with_bin = docs.select("doc_id", payload("doc_id").alias("payload"))
    meta = MM.decode_audio_meta(with_bin, "doc_id", "payload")
    return (
        meta.groupBy("format", "n_channels", "sample_rate")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("duration_s"), 6).alias("total_duration"))
        .orderBy("format", "n_channels", "sample_rate")
    )


# -- PCA whitening (functions/similarity.py pca_whiten): tolerance
#    oracle — whitened output must have ~zero mean, ~unit variance,
#    and ~zero pairwise covariance per component (the definition of
#    whitening), plus the exact row count ------------------------------
PCA_WHITEN_SQL = """
SELECT CAST(range AS BIGINT) AS dim, TRUE AS mean_ok, TRUE AS var_ok,
       TRUE AS decorr_ok,
       (SELECT count(*) FROM embeddings) AS n
FROM range(8) ORDER BY dim
"""


@query("ann_pca_whiten", PCA_WHITEN_SQL)
def ann_pca_whiten(spark, sf_dir):
    """whiten to k=8 components, then verify the whitening contract
    from the OUTPUT alone: per-component mean ≈ 0, variance ≈ 1, and
    each component decorrelated from component 0 (|cov| < 0.05) — any
    broken moment pass, eigen ordering, or scaling flips a flag."""
    from ..functions.similarity import pca_whiten

    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    wh = pca_whiten(emb, dim=64, k=8)
    comp = wh.select(
        F.posexplode("embedding").alias("dim", "x"),
        F.element_at("embedding", 1).alias("x0"))
    return (comp.groupBy("dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg("x").alias("m"),
                 F.var_samp("x").alias("v"),
                 F.covar_samp("x", "x0").alias("c0"))
            .select(F.col("dim").cast("long").alias("dim"),
                    (F.abs(F.col("m")) < 1e-6).alias("mean_ok"),
                    (F.abs(F.col("v") - 1.0) < 0.05).alias("var_ok"),
                    ((F.col("dim") == 0)
                     | (F.abs(F.col("c0")) < 0.05)).alias("decorr_ok"),
                    "n")
            .orderBy("dim"))


# -- MMR diversified re-rank (functions/similarity.py mmr_rerank): the
#    greedy path is deterministic (float64 + smallest-id ties), so the
#    oracle UNROLLS the k=5 selection steps as argmax CTEs and the
#    whole rerank is hash-exact — the same discipline as the exact ANN
#    oracles ---------------------------------------------------------
_MMR_LAM = 0.7
_MMR_OML = repr(1.0 - 0.7)  # the exact double Spark computes for 1-lam
_MMR_K = 5


def _mmr_sql() -> str:
    head = f"""
WITH qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 100 = 0
),
corp AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.query_id, c.id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(c.v, c.v))) AS rel,
         c.v
  FROM qv q, corp c WHERE c.id <> q.query_id
),
cand AS (
  SELECT query_id, id, rel,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, id) AS rn
        FROM scored) WHERE rn <= 20
),
m0 AS (SELECT query_id, id, rel, nv, 0.0 AS maxsim FROM cand)"""
    parts, unions = [head], []
    prev = "m0"
    for r in range(1, _MMR_K + 1):
        parts.append(f"""sel{r} AS (
  SELECT query_id, id, nv AS sv,
         {_MMR_LAM} * rel - {_MMR_OML} * maxsim AS mmr
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY ({_MMR_LAM} * rel - {_MMR_OML} * maxsim) DESC, id) AS rn
        FROM {prev}) WHERE rn = 1)""")
        unions.append(f"SELECT query_id, id AS neighbor_id, "
                      f"{r} AS rank, mmr FROM sel{r}")
        if r < _MMR_K:
            parts.append(f"""m{r} AS (
  SELECT m.query_id, m.id, m.rel, m.nv,
         greatest(m.maxsim, list_dot_product(m.nv, s.sv)) AS maxsim
  FROM {prev} m JOIN sel{r} s
    ON m.query_id = s.query_id AND m.id <> s.id)""")
            prev = f"m{r}"
    return (",\n".join(parts)
            + "\nSELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,"
              " round(mmr, 6) AS mmr FROM (\n"
            + "\nUNION ALL\n".join(unions)
            + "\n) ORDER BY query_id, rank")


@query("ann_mmr_rerank", _mmr_sql())
def ann_mmr_rerank(spark, sf_dir):
    """retrieve top-20 exact cosine candidates per query (the round-2
    brute-force baseline), then MMR-select 5 at lam=0.7 — the
    diversity pass a RAG pipeline runs between ANN and the context
    window; selection order and scores hash-exact vs the unrolled
    greedy in SQL."""
    from ..functions import similarity as SIM

    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cand = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=20)
    cand = cand.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id")
    res = SIM.mmr_rerank(cand, "query_id", "neighbor_id", "cos",
                         "embedding", k=_MMR_K, lam=_MMR_LAM)
    return (res.select("query_id", "neighbor_id",
                       F.col("rank").cast("long").alias("rank"),
                       F.round("mmr", 6).alias("mmr"))
            .orderBy("query_id", "rank"))


# -- product-quantized ANN (similarity.pq_train/pq_encode/pq_topk):
#    8-byte-per-vector ADC retrieval; deterministic seeded codebook →
#    deterministic coverage, so the same CONTAINMENT oracle as the
#    LSH/IVF paths applies (exact top-1 per query, kept only when the
#    PQ candidate set found it; full containment measured at both test
#    SFs, recall table in SCALE.md) ---------------------------------


@query("ann_pq_topk", ANN_TOP1_SQL)
def ann_pq_topk(spark, sf_dir):
    """PQ/ADC retrieval (m=16 sub-quantizers, 256 centroids each —
    16 bytes/vector, 32× smaller than the float64 column): codes
    stream through a lookup-table kernel, no float vector touched at
    scan time.  Containment oracle as in ann_lsh_bucketed: exact top-1
    per query, kept only when PQ's top-5 found it — seeded sample +
    seeded k-means make coverage a fixed property of the data."""
    from ..functions import similarity as SIM

    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = SIM.pq_topk(emb, queries, dim=64, k=5, m=16) \
        .select("query_id", "neighbor_id")
    exact1 = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=1)
    return (exact1.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .select("query_id", "neighbor_id",
                    F.round(F.col("cos"), 6).alias("cos"))
            .orderBy("query_id"))


@query("ann_pq_rerank", ANN_TOP1_SQL)
def ann_pq_rerank(spark, sf_dir):
    """PQ's second stage (exact_rerank=100): the ADC shortlist's float
    vectors join back candidate-sized and exact cosine re-ranks — the
    measured fix for the quantization-resolution limit (SCALE.md: 0.35
    → 1.0 recall on the near-dup corpus at ~1/20 the exact scan's
    cost).  Containment oracle: exact top-1 per query, kept only when
    the reranked top-5 found it."""
    from ..functions import similarity as SIM

    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = SIM.pq_topk(emb, queries, dim=64, k=5, m=8,
                         exact_rerank=100) \
        .select("query_id", "neighbor_id")
    exact1 = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=1)
    return (exact1.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .select("query_id", "neighbor_id",
                    F.round(F.col("cos"), 6).alias("cos"))
            .orderBy("query_id"))


@query("ann_ivfpq_topk", ANN_TOP1_SQL)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition (similarity.ivfpq_topk): cells bound WHICH
    vectors score (nprobe/num_cells of the corpus), PQ codes bound
    WHAT ships through the cell join (m bytes vs dim floats — 64×
    less corpus shuffle at dim=64/m=8), and the exact re-rank stage
    restores float ordering over the shortlist.  Containment oracle as
    the other ANN paths (deterministic Lloyd seeding + seeded
    codebooks → deterministic coverage)."""
    from ..functions import similarity as SIM

    emb = tbl(spark, sf_dir, "embeddings").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = SIM.ivfpq_topk(emb, queries, dim=64, k=5, m=16,
                            num_cells=16, nprobe=12, exact_rerank=100) \
        .select("query_id", "neighbor_id")
    exact1 = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=1)
    return (exact1.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .select("query_id", "neighbor_id",
                    F.round(F.col("cos"), 6).alias("cos"))
            .orderBy("query_id"))


# -- multimodal resize stub contract (functions/multimodal.py
#    resize_images): this container has no Pillow, so the resize step
#    is a documented stub — and the CONTRACT of that stub is what the
#    oracle pins: every oversized payload passes through byte-
#    untouched with stubbed=true / resized=false and width/height
#    reporting the payload's REAL parsed dims (never the unapplied
#    target), small payloads pass with both flags false.  If Pillow
#    ever appears in the environment the hash flips loudly (n_resized
#    stops being 0), which is exactly the alarm wanted --------------
MM_RESIZE_STUB_SQL = """
WITH d AS (
  SELECT doc_id,
         doc_id % 1024 + 1 AS w,
         (doc_id * 7) % 768 + 1 AS h
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (greatest(w, h) > 256) AS BIGINT)
         AS n_stubbed,
       CAST(0 AS BIGINT) AS n_resized,
       CAST(count(*) FILTER (greatest(w, h) <= 256) AS BIGINT)
         AS n_passthrough,
       CAST(sum(w) AS BIGINT) AS sum_w,
       CAST(sum(h) AS BIGINT) AS sum_h
FROM d
"""


@query("multimodal_resize_stub", MM_RESIZE_STUB_SQL)
def multimodal_resize_stub(spark, sf_dir):
    import struct

    from ..functions import multimodal as MM

    @F.pandas_udf("binary")
    def payload(ids):
        def mk(i):
            i = int(i)
            w, h = i % 1024 + 1, (i * 7) % 768 + 1
            if i % 2 == 0:
                return (b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR"
                        + struct.pack(">II", w, h) + b"\x08\x06"
                        + b"\x00" * 10)
            return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 8
        return ids.apply(mk)

    docs = tbl(spark, sf_dir, "documents").to_spark()
    with_bin = docs.select("doc_id", payload("doc_id").alias("payload"))
    out = MM.resize_images(with_bin, "doc_id", "payload", max_side=256)
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("stubbed")).alias("n_stubbed"),
        F.count_if(F.col("resized")).alias("n_resized"),
        F.count_if(~F.col("stubbed") & ~F.col("resized")
                   & F.col("width").isNotNull()).alias("n_passthrough"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"))
