"""Deduplication queries over the documents table
(functions/dedup.py is the implementation; north-star ops),
incl. duplicate-group resolution and incremental dedup against
persistent MinHash, hash and Bloom indexes.

dedup_exact / ngram_jaccard are hash-checked against DuckDB.
MinHash-LSH and SimHash use Spark-specific xxhash64 so they get the
driver's rows-only check; tests/test_dedup.py additionally asserts the
LSH candidates cover the exact-Jaccard pairs (recall property).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import dedup as DD
from ._util import query, tbl


DEDUP_EXACT_SQL = """
WITH g AS (
  SELECT md5(text) AS h, count(*) AS n_docs, min(doc_id) AS keep_id
  FROM documents GROUP BY md5(text)
)
SELECT count(*) AS n_distinct_texts,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       max(n_docs) AS max_group
FROM g
"""


@query("dedup_exact_docs", DEDUP_EXACT_SQL)
def dedup_exact_docs(spark, sf_dir):
    """exact dedup via md5 hash-groupBy (functions/dedup.py
    exact_dup_groups) — summary stats."""
    docs = tbl(spark, sf_dir, "documents")
    groups = DD.exact_dup_groups(docs.to_spark(), "text", "doc_id")
    return groups.agg(
        F.count(F.lit(1)).alias("n_distinct_texts"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("long").alias("n_dup_groups"),
        F.max("n_docs").alias("max_group"),
    )


DEDUP_JACCARD_SQL = """
WITH ds AS (
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
)
SELECT id_a, id_b,
       round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON x.id = id_a JOIN sz y ON y.id = id_b
WHERE i * 1.0 / (x.n + y.n - i) >= 0.8
ORDER BY id_a, id_b
"""


@query("dedup_ngram_jaccard", DEDUP_JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    """exact n-gram (3-shingle) Jaccard similarity join, J >= 0.8
    (functions/dedup.py ngram_jaccard_pairs). Finds the planted
    near-duplicates in the documents table."""
    docs = tbl(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        docs.to_spark(), "doc_id", "text", k=3, threshold=0.8, max_shingle_freq=None
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


DEDUP_MINHASH_SQL = """
WITH ds AS (
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
)
SELECT id_a, id_b,
       round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON x.id = id_a JOIN sz y ON y.id = id_b
WHERE i * 1.0 / (x.n + y.n - i) >= 0.9
ORDER BY id_a, id_b
"""


@query("dedup_minhash_lsh", DEDUP_MINHASH_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32 perms) + LSH(8 bands × 4 rows) near-dup pipeline
    (functions/dedup.py minhash_dedup_pairs), hash-checked via a
    CONTAINMENT oracle: the output is the exact-Jaccard J ≥ 0.9 pairs
    that the LSH candidate set covers. The hash functions are fixed,
    so coverage is deterministic — any LSH recall miss drops a row and
    the driver's hash flags it. Exact jaccard values come from the
    (SQL-expressible) exact join, so DuckDB reproduces the full
    result; at (8 bands × 4 rows) a J ≥ 0.9 pair collides with
    probability 1−(1−0.9⁴)⁸ ≈ 0.9998 per pair, and coverage is
    verified complete on this corpus."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    cand = DD.minhash_dedup_pairs(
        docs, "doc_id", "text", k=3, num_perm=32, bands=8, threshold=0.7
    ).select("id_a", "id_b")
    exact = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.9, max_shingle_freq=None
    )
    return (
        exact.join(cand, ["id_a", "id_b"], "left_semi")
        .select("id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


DEDUP_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
votes AS (
  SELECT doc_id, bits.b AS bit,
         sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN generate_series(0, 59) AS bits(b)
  GROUP BY doc_id, bits.b
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS s
  FROM votes GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, s, cs.c AS chunk, (s >> (cs.c * 15)) & 32767 AS cval
  FROM sh CROSS JOIN generate_series(0, 3) AS cs(c)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
  FROM chunks a
  JOIN chunks b ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 12
ORDER BY id_a, id_b
"""


@query("dedup_simhash", DEDUP_SIMHASH_SQL)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidates — shared 15-bit chunk + Hamming ≤ 12
    over a 60-bit signature (functions/dedup.py simhash_bucket_pairs).
    Run with the md5-derived token hash (md5_token_hash) so DuckDB can
    reproduce the ENTIRE pipeline — signature, chunk buckets, Hamming —
    and the driver hash-checks it end-to-end; production keeps the
    cheaper xxhash64 default (recall-tested in tests/test_dedup.py)."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    pairs = DD.simhash_bucket_pairs(
        docs, "doc_id", "text", chunk_bits=15, num_bits=60,
        token_hash=DD.md5_token_hash,
    )
    return (
        pairs.filter(F.col("hamming") <= 12)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


SUBSTRING_SPANS_SQL = """
WITH w AS (
  SELECT doc_id,
         CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(string_split(text,' ')[i:i+11], ' ') AS win
  FROM documents,
       unnest(generate_series(1, greatest(len(string_split(text,' ')) - 11, 0))) AS t(i)
),
d AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
dw AS (SELECT doc_id, pos FROM w WHERE win IN (SELECT win FROM d)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 12) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_span
  FROM dw
),
islands AS (
  SELECT doc_id, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
spans AS (
  SELECT doc_id, island, max(pos) + 12 - min(pos) AS span_len
  FROM islands GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens,
         count(*) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT p.doc_id, CAST(len(string_split(doc.text,' ')) AS INT) AS total_tokens,
       p.dup_tokens, p.n_spans
FROM per_doc p JOIN documents doc ON doc.doc_id = p.doc_id
ORDER BY p.doc_id
"""


@query("dedup_substring_spans", SUBSTRING_SPANS_SQL)
def dedup_substring_spans(spark, sf_dir):
    """exact substring-duplication scan (functions/dedup.py
    duplicated_spans; Lee et al. 2021 ExactSubstr): 12-token windows
    shared by >= 2 docs, overlapping windows merged per doc into spans.
    Output: per-doc duplicated-token totals for the docs hit, bucketed
    summary stable under hashing."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    spans = DD.duplicated_spans(docs, "doc_id", "text", k=12)
    return (spans.filter(F.col("dup_tokens") > 0)
            .select(F.col("id").alias("doc_id"), "total_tokens",
                    "dup_tokens", "n_spans")
            .orderBy("doc_id"))


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


@query("dedup_connected_groups", COMPONENTS_SQL)
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


@query("dedup_connected_groups_star", COMPONENTS_SQL)
def dedup_connected_groups_star(spark, sf_dir):
    """same pairs->groups resolution as dedup_connected_groups but via
    the large-star/small-star algorithm (functions/dedup.py
    connected_components_star; Kiveris et al. 2014) — O(log n) rounds
    regardless of component diameter, the deep-graph scale path. Same
    transitive-closure oracle."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    pairs = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.9, max_shingle_freq=None
    )
    comp = DD.connected_components_star(pairs.select("id_a", "id_b"))
    return (
        comp.select(F.col("id").alias("doc_id"),
                    F.col("comp").alias("group_root"))
        .orderBy("doc_id")
    )


CHUNK_MINHASH_SQL = """
WITH chunks AS (
  SELECT doc_id * 1048576 + i AS cid,
         array_to_string(string_split(text,' ')[(i*24)+1 : (i*24)+32], ' ') AS chunk
  FROM documents,
       unnest(generate_series(0,
         greatest(CAST(ceil((len(string_split(text,' ')) - 8) / 24.0) AS INT), 1) - 1)) AS t(i)
),
ds AS (
  SELECT DISTINCT cid, unnest(
    CASE WHEN len(string_split(chunk,' ')) >= 3
         THEN list_transform(generate_series(1, len(string_split(chunk,' ')) - 2),
                             j -> array_to_string(string_split(chunk,' ')[j:j+2], ' '))
         ELSE [] END) AS sh
  FROM chunks
),
base AS (
  SELECT cid, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM ds
),
perms AS (SELECT unnest(generate_series(0, 15)) AS i),
sig AS (
  SELECT cid, i,
         min(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(h AS VARCHAR)),
                             1, 15))::BIGINT) AS m
  FROM base CROSS JOIN perms GROUP BY cid, i
),
bandkeys AS (
  SELECT cid, i // 4 AS band,
         ('0x' || substr(md5(string_agg(CAST(m AS VARCHAR), ':' ORDER BY i)),
                         1, 15))::BIGINT AS bkey
  FROM sig GROUP BY cid, i // 4
),
grp AS (
  SELECT band, bkey, cid,
         min(cid) OVER (PARTITION BY band, bkey) AS first
  FROM bandkeys
)
SELECT cid // 1048576 AS doc_a, first // 1048576 AS doc_b,
       CAST(count(*) AS BIGINT) AS n_collisions
FROM grp
WHERE cid != first AND cid // 1048576 != first // 1048576
GROUP BY 1, 2 ORDER BY doc_a, doc_b
"""


@query("dedup_chunk_minhash", CHUNK_MINHASH_SQL)
def dedup_chunk_minhash(spark, sf_dir):
    """PARAGRAPH/CHUNK-level near-dedup (C4/RefinedWeb-style): docs are
    chunked (chunk_text 32 tokens, overlap 8), each chunk gets a
    MinHash signature (portable md5 family — functions/dedup.py
    minhash_sig_expr), banded LSH buckets flag chunk collisions, and
    collisions aggregate to cross-DOC pair counts.  Catches documents
    sharing boilerplate paragraphs that whole-doc MinHash dilutes away.
    The oracle reproduces chunking, signatures, band keys, and the
    bucket-min rule bit-for-bit.

    The md5 family here exists for the oracle; PRODUCTION runs the
    default xxhash64 family (JVM-native, ~10x cheaper — drop the
    token_hash/perm_hash/band_hash arguments).  At scale, replace the
    per-bucket window-min with groupBy-min + join if boilerplate
    chunks produce mega-buckets (same output, no per-key buffering)."""
    from pyspark.sql.window import Window

    from ..functions import text as TX
    from ..functions.dedup import (lsh_band_keys, md5_band_hash,
                                   md5_perm_hash, md5_token_hash,
                                   minhash_sig_expr)

    docs = tbl(spark, sf_dir, "documents").to_spark()
    # spread the single-file corpus scan before the chunk explode: the
    # md5 signature work below otherwise runs in ONE task (guide §2.6)
    chunks = DD._spread_input(docs).select(
        "doc_id",
        F.posexplode(TX.chunk_text(F.col("text"), 32, 8)).alias("ci", "chunk"),
    ).select(
        # 20-bit chunk field: a doc would need >= 2^20 chunks (~25M
        # tokens at chunk 32 / stride 24) before aliasing into the next
        # doc_id — vs the old *1000 encoding that aliased at ~24k tokens.
        (F.shiftleft(F.col("doc_id"), 20) + F.col("ci")).alias("cid"),
        "chunk",
    )
    # chunks with < 3 tokens have an EMPTY shingle set: their MinHash
    # signature would be all-NULL and md5_band_hash's array_join drops
    # NULLs, collapsing every such chunk onto one constant band key —
    # spurious collisions the oracle (which simply emits no signature
    # rows for them) never produces. Filter them on the Spark side to
    # match.
    chunks = chunks.filter(F.size(F.split(F.col("chunk"), " ")) >= 3)
    sig = minhash_sig_expr(F.col("chunk"), k=3, num_perm=16,
                           token_hash=md5_token_hash,
                           perm_hash=md5_perm_hash)
    # materialize the signature in its own projection: lsh_band_keys
    # references it once per band, and HOFs are CodegenFallback with
    # no interpreted subexpression reuse — inlined, the 16-perm md5
    # minhash would be evaluated 4x per chunk (same fix as the
    # streaming near-dedup op; CollapseProject keeps a multi-referenced
    # non-cheap alias as its own projection)
    sigd = chunks.select("cid", sig.alias("__sig"))
    banded = sigd.select(
        "cid", F.explode(lsh_band_keys(F.col("__sig"), 4, 4,
                                       band_hash=md5_band_hash)).alias("bb")
    ).select("cid", F.col("bb.band").alias("band"),
             F.col("bb.bkey").alias("bkey"))
    w = Window.partitionBy("band", "bkey")
    grp = banded.withColumn("first", F.min("cid").over(w))
    return (
        grp.filter((F.col("cid") != F.col("first"))
                   & (F.shiftright(F.col("cid"), 20)
                      != F.shiftright(F.col("first"), 20)))
        .select(F.shiftright(F.col("cid"), 20).alias("doc_a"),
                F.shiftright(F.col("first"), 20).alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
        .orderBy("doc_a", "doc_b")
    )


# -- end-to-end near-dedup RESOLUTION: pairs → groups → canonical corpus
#    (keep the min doc_id per duplicate group, drop the rest) ----------
DEDUP_RESOLVE_SQL = """
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
comp AS (
  SELECT s AS id, least(s, min(d)) AS root FROM reach GROUP BY s
),
dropped AS (SELECT id FROM comp WHERE id <> root)
SELECT count(*) AS kept,
       (SELECT count(*) FROM dropped) AS removed
FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)
"""


@query("dedup_resolve_corpus", DEDUP_RESOLVE_SQL)
def dedup_resolve_corpus(spark, sf_dir):
    """full dedup pipeline: exact-hash pairs → connected components →
    anti-join non-canonical docs out of the corpus (the resolution
    step a training pipeline runs after candidate generation)."""
    from ..functions.dedup import connected_components
    docs = tbl(spark, sf_dir, "documents").to_spark()
    key = F.md5(F.lower(F.trim(F.col("text"))))
    a = docs.select(F.col("doc_id").alias("id_a"), key.alias("__k"))
    b = docs.select(F.col("doc_id").alias("id_b"), key.alias("__k"))
    pairs = (a.join(b, "__k").where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    comp = connected_components(pairs)
    dropped = (comp.filter(F.col("id") != F.col("comp"))
               .select("id").withColumn("__d", F.lit(1)))
    flagged = docs.join(dropped, docs["doc_id"] == dropped["id"], "left")
    d = F.coalesce(F.col("__d"), F.lit(0))
    return flagged.agg(
        (F.count(F.lit(1)) - F.sum(d)).alias("kept"),
        F.sum(d).alias("removed"))


DEDUP_INCREMENTAL_SQL = """
WITH ds AS (
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
  SELECT id_a, id_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
  FROM inter JOIN sz x ON x.id = id_a JOIN sz y ON y.id = id_b
  WHERE i * 1.0 / (x.n + y.n - i) >= 0.9
)
SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS id_new,
       CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS id_index,
       jaccard
FROM pairs
WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
ORDER BY id_new, id_index
"""


@query("dedup_incremental_minhash", DEDUP_INCREMENTAL_SQL)
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental dedup (functions/dedup.py minhash_index /
    minhash_dedup_against): the corpus is split deterministically into
    an indexed 90% (doc_id % 10 != 0) and a 'new batch' 10%; the batch
    is deduped against the index ONLY — no self-join over the combined
    corpus, old text never re-read.  Containment oracle (the
    dedup_minhash_lsh pattern): output = exact cross-corpus J ≥ 0.9
    pairs covered by the incremental candidates; any recall miss drops
    a row and flips the driver hash."""
    from ..functions import dedup as DD

    docs = tbl(spark, sf_dir, "documents").to_spark()
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    idx_bands, idx_sigs = DD.minhash_index(old, "doc_id", "text",
                                           k=3, num_perm=32, bands=8)
    cand = DD.minhash_dedup_against(
        new, idx_bands, idx_sigs, "doc_id", "text",
        k=3, num_perm=32, bands=8, threshold=0.7
    ).select(F.col("id_new"), F.col("id_index"))
    exact = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.9, max_shingle_freq=None)
    # exact pairs restricted to (new x old), oriented as (new, old)
    cross = exact.where(
        ((F.col("id_a") % 10 == 0) & (F.col("id_b") % 10 != 0))
        | ((F.col("id_b") % 10 == 0) & (F.col("id_a") % 10 != 0)))
    oriented = cross.select(
        F.when(F.col("id_a") % 10 == 0, F.col("id_a"))
        .otherwise(F.col("id_b")).alias("id_new"),
        F.when(F.col("id_a") % 10 == 0, F.col("id_b"))
        .otherwise(F.col("id_a")).alias("id_index"),
        F.round(F.col("jaccard"), 6).alias("jaccard"))
    return (oriented.join(cand, ["id_new", "id_index"], "left_semi")
            .orderBy("id_new", "id_index"))


# -- exact INCREMENTAL dedup vs a persistent hash index (functions/
#    dedup.py exact_hash_index / exact_dedup_against) — the exact
#    companion to dedup_incremental_minhash; output is hash-exact ----
EXACT_INCR_SQL = """
WITH idx AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS keep_id
  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
),
batch AS (
  SELECT doc_id AS id, md5(text) AS text_hash
  FROM documents WHERE doc_id % 10 = 0
),
first AS (SELECT text_hash, min(id) AS bk FROM batch GROUP BY text_hash)
SELECT b.id, b.text_hash,
       COALESCE(i.keep_id,
                CASE WHEN b.id <> f.bk THEN f.bk END) AS dup_of
FROM batch b
JOIN first f ON b.text_hash = f.text_hash
LEFT JOIN idx i ON b.text_hash = i.text_hash
ORDER BY b.id
"""


@query("dedup_exact_incremental", EXACT_INCR_SQL)
def dedup_exact_incremental(spark, sf_dir):
    """index 90% of the corpus once (exact_hash_index), dedupe the
    'new batch' 10% against it (exact_dedup_against) — dup_of points
    at the index representative, the batch's own first occurrence for
    intra-batch dups, NULL for novel text.  The whole answer is
    hash-exact (md5 is identical across engines)."""
    from ..functions import dedup as DD

    docs = tbl(spark, sf_dir, "documents").to_spark()
    index = DD.exact_hash_index(
        docs.where(F.col("doc_id") % 10 != 0), "doc_id", "text")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    return (DD.exact_dedup_against(batch, index, "doc_id", "text")
            .orderBy("id"))


# -- Bloom-prefiltered exact incremental dedup (sketches.bloom_index +
#    dedup.exact_dedup_against_bloom): the oracle is the SAME answer as
#    the unfiltered path — Bloom filters have no false negatives, so
#    the prefilter is answer-preserving; any false-negative bug flips
#    a dup_of to NULL and the hash catches it --------------------------
BLOOM_INCR_SQL = """
WITH idx AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS keep_id
  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
),
batch AS (
  SELECT doc_id AS id, md5(text) AS text_hash
  FROM documents WHERE doc_id % 10 = 0
),
first AS (SELECT text_hash, min(id) AS bk FROM batch GROUP BY text_hash)
SELECT b.id, b.text_hash,
       COALESCE(i.keep_id,
                CASE WHEN b.id <> f.bk THEN f.bk END) AS dup_of
FROM batch b
JOIN first f ON b.text_hash = f.text_hash
LEFT JOIN idx i ON b.text_hash = i.text_hash
ORDER BY b.id
"""


@query("dedup_bloom_incremental", BLOOM_INCR_SQL)
def dedup_bloom_incremental(spark, sf_dir):
    from ..functions import dedup as DD
    from ..functions.sketches import bloom_index

    docs = tbl(spark, sf_dir, "documents").to_spark()
    # materialize the index: in the incremental pattern it IS a stored
    # table (exact_hash_index docstring) — as a lazy plan it would be
    # re-derived by the bloom sizing count, the bitmap build, AND the
    # join (measured 3x at the x1000 probe: 185 s -> 83 s).
    # localCheckpoint rather than persist(): persist registers the
    # subtree in the session cache manager, which silently substitutes
    # InMemoryRelation into OTHER queries' identical subtrees
    index = DD.exact_hash_index(
        docs.where(F.col("doc_id") % 10 != 0), "doc_id", "text") \
        .localCheckpoint(eager=False)
    bloom = bloom_index(index, "text_hash", fpp=0.01)
    return (DD.exact_dedup_against_bloom(
        docs.where(F.col("doc_id") % 10 == 0), index, bloom,
        "doc_id", "text")
        .orderBy("id"))
