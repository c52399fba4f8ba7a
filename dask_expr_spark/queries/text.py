"""Text-analysis queries over the documents table (north-star
training-data-pipeline ops; functions/text.py is the implementation)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions import text as TX
from ._util import query, tbl

_STOP = "'the','a','of','and','to','in','is'"


TEXT_STATS_SQL = """
WITH t AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_tok) AS DOUBLE) / count(*) AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(n_tok) AS max_tokens
FROM t GROUP BY lang ORDER BY lang
"""


@query("text_stats_by_lang", TEXT_STATS_SQL)
def text_stats_by_lang(spark, sf_dir):
    """token counting + char stats per language (whitespace tokenizer;
    functions/text.py token_count/char_count)."""
    docs = tbl(spark, sf_dir, "documents")
    sdf = docs.to_spark().select(
        "lang",
        TX.token_count(F.col("text")).alias("n_tok"),
        TX.char_count(F.col("text")).alias("n_chars"),
    )
    out = (
        sdf.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_tok").alias("max_tokens"),
        )
        .orderBy("lang")
    )
    return out


TEXT_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(floor(
           CAST(len(list_filter(string_split(lower(text), ' '),
                                x -> x IN ({_STOP}))) AS DOUBLE)
           / len(string_split(lower(text), ' ')) * 20
         ) AS BIGINT) AS bucket
  FROM documents
)
SELECT bucket, count(*) AS n_docs, min(doc_id) AS min_doc
FROM t GROUP BY bucket ORDER BY bucket
"""


@query("text_quality_buckets", TEXT_QUALITY_SQL)
def text_quality_buckets(spark, sf_dir):
    """quality scoring via stopword ratio, bucketed (functions/text.py
    stopword_ratio; reference has no analogue — north-star op)."""
    docs = tbl(spark, sf_dir, "documents")
    ratio = TX.stopword_ratio(F.col("text"), TX.STOPWORDS["en"])
    sdf = docs.to_spark().select(
        F.floor(ratio * 20).cast("long").alias("bucket"),
        F.col("doc_id"),
    )
    return (
        sdf.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .orderBy("bucket")
    )


TOKEN_FREQ_SQL = """
SELECT tok AS token, count(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok ORDER BY tok
"""


@query("text_token_frequencies", TOKEN_FREQ_SQL)
def text_token_frequencies(spark, sf_dir):
    """explode + global token frequency (reference: ExplodeSeries,
    _expr.py:1809 + ValueCounts)."""
    docs = tbl(spark, sf_dir, "documents")
    res = (
        docs.assign(token=lambda d: d["text"].str.split(" ", regex=False))
        .explode("token")[["token"]]
    )
    # no stabilizing orderBy: the driver's value-hash is
    # order-insensitive, and a global sort here only costs an exchange
    return (
        res.to_spark()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


FINGERPRINT_SQL = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text,' ')) >= 3
              THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> md5(array_to_string(string_split(text,' ')[i:i+2], ' ')))
              ELSE [] END AS hashes
  FROM documents
),
fp AS (SELECT doc_id, list_min(hashes) AS fp FROM sh)
SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id
FROM fp GROUP BY fp HAVING count(*) > 1 ORDER BY fp
"""


@query("text_fingerprint_dups", FINGERPRINT_SQL)
def text_fingerprint_dups(spark, sf_dir):
    """document fingerprinting: min-md5 over word 3-shingles
    (functions/text.py doc_fingerprint) → fingerprint collision groups."""
    docs = tbl(spark, sf_dir, "documents")
    sdf = docs.to_spark().select(
        TX.doc_fingerprint(F.col("text"), 3).alias("fp"), "doc_id"
    )
    return (
        sdf.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


# replicate the exact tie-break chain: start at lexicographically first
# language, replace only on strictly greater score
LANG_ID_SQL = """
WITH s AS (
  SELECT lang,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('der','die','das','und','zu','ein','ist'))) AS s_de,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('the','a','of','and','to','in','is')))     AS s_en,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('el','la','de','y','que','en','un')))      AS s_es,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('le','la','de','et','que','un','est')))    AS s_fr
  FROM documents
),
p AS (
  SELECT lang,
    CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
         WHEN s_es > greatest(s_de, s_en) THEN 'es'
         WHEN s_en > s_de THEN 'en'
         ELSE 'de' END AS predicted
  FROM s
)
SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1,2 ORDER BY 1,2
"""


@query("text_lang_id", LANG_ID_SQL)
def text_lang_id(spark, sf_dir):
    """language-ID heuristic (stopword-hit argmax, deterministic
    lexicographic tie-break; functions/text.py lang_id) vs labeled lang."""
    docs = tbl(spark, sf_dir, "documents")
    sdf = docs.to_spark().select(
        "lang", TX.lang_id(F.col("text")).alias("predicted")
    )
    return (
        sdf.groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


# stride = 48; chunk i covers toks[i*48 : i*48+64]; DuckDB slice is
# inclusive, so [i*48+1 : i*48+64]
TEXT_CHUNKING_SQL = """
WITH c AS (
  SELECT lang, doc_id,
         unnest(list_transform(
           generate_series(0, CAST(greatest(ceil((len(string_split(text,' ')) - 16) / 48.0), 1) AS INT) - 1),
           i -> array_to_string(string_split(text,' ')[i*48+1 : i*48+64], ' ')
         )) AS chunk
  FROM documents
)
SELECT lang, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
       CAST(sum(len(string_split(chunk,' '))) AS BIGINT) AS total_chunk_tokens,
       CAST(max(len(string_split(chunk,' '))) AS BIGINT) AS max_chunk_tokens
FROM c GROUP BY lang ORDER BY lang
"""


@query("text_chunking", TEXT_CHUNKING_SQL)
def text_chunking(spark, sf_dir):
    """document chunking with overlap (functions/text.py chunk_text) —
    64-token chunks, 16-token overlap; per-lang chunk counts and sizes."""
    docs = tbl(spark, sf_dir, "documents")
    sdf = docs.to_spark().select(
        "lang", "doc_id", F.explode(TX.chunk_text(F.col("text"), 64, 16)).alias("chunk")
    )
    return (
        sdf.withColumn("chunk_tokens", F.size(F.split(F.col("chunk"), " ")).cast("long"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("chunk_tokens").alias("total_chunk_tokens"),
            F.max("chunk_tokens").alias("max_chunk_tokens"),
        )
        .orderBy("lang")
    )


PIPELINE_SQL = """
WITH s AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tok,
    len(list_filter(string_split(lower(text), ' '),
        x -> x IN ('the','a','of','and','to','in','is')))
      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sw,
    md5(text) AS h,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('der','die','das','und','zu','ein','ist'))) AS s_de,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('the','a','of','and','to','in','is')))     AS s_en,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('el','la','de','y','que','en','un')))      AS s_es,
    len(list_filter(string_split(lower(text),' '), x -> x IN ('le','la','de','et','que','un','est')))    AS s_fr
  FROM documents
), scored AS (
  SELECT doc_id, n_tok, sw, h,
    CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
         WHEN s_es > greatest(s_de, s_en) THEN 'es'
         WHEN s_en > s_de THEN 'en'
         ELSE 'de' END AS pred_lang
  FROM s
), kept AS (
  SELECT * FROM scored WHERE n_tok >= 30 AND sw >= 0.02
), deduped AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM kept)
  WHERE rn = 1
)
SELECT pred_lang, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(n_tok), 4) AS avg_tokens
FROM deduped GROUP BY pred_lang ORDER BY pred_lang
"""


@query("pipeline_clean_corpus", PIPELINE_SQL)
def pipeline_clean_corpus(spark, sf_dir):
    """END-TO-END training-corpus cleaning pipeline — the canonical
    composition the individual north-star ops exist for:
      1. language-ID (lang_id argmax heuristic)
      2. quality gate (token count >= 30, en-stopword ratio >= 0.02)
      3. exact dedup, keep-first (md5 text hash, min doc_id survives)
      4. per-predicted-language corpus stats
    Everything stays JVM-side; the dedup is the only shuffle on data
    (hash of text), the final stats aggregate is map-side partial."""
    docs = tbl(spark, sf_dir, "documents").to_spark()
    scored = docs.select(
        "doc_id",
        TX.lang_id(F.col("text")).alias("pred_lang"),
        TX.token_count(F.col("text")).alias("n_tok"),
        TX.stopword_ratio(F.col("text"), TX.STOPWORDS["en"]).alias("sw"),
        F.md5(F.col("text")).alias("h"),
    )
    kept = scored.filter((F.col("n_tok") >= 30) & (F.col("sw") >= 0.02))
    w = Window.partitionBy("h").orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        deduped.groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        )
        .orderBy("pred_lang")
    )


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


@query("text_repetition_buckets", REPETITION_SQL)
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


@query("text_pii_scan", PII_SQL)
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


@query("text_contamination_buckets", CONTAMINATION_SQL)
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


@query("pack_sequences_2048", PACK_SQL)
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


# -- corpus-trained bigram LM quality scoring (CCNet-style) -------------
LM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
big AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
                                       i -> {'w1': ts[i], 'w2': ts[i+1]}),
                        recursive := true)
  FROM toks
),
uni AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
),
voc AS (SELECT count(*) AS v FROM uni),
bigc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(avg(ln((c12 + 0.5) / (c1 + 0.5 * v))), 6) AS avg_logprob
FROM big b JOIN bigc USING (w1, w2) JOIN uni ON b.w1 = uni.w CROSS JOIN voc
GROUP BY b.doc_id
"""


@query("text_lm_perplexity", LM_SQL)
def text_lm_perplexity(spark, sf_dir):
    """per-doc add-k bigram LM log-probability, model trained on the
    corpus itself (functions/text.py bigram_lm_scores)."""
    from ..functions.text import bigram_lm_scores
    docs = tbl(spark, sf_dir, "documents").to_spark()
    out = bigram_lm_scores(docs, "doc_id", "text", k_smooth=0.5)
    return out.select("doc_id", "n_bigrams",
                      F.round("avg_logprob", 6).alias("avg_logprob"))


# -- BM25 ranked retrieval ---------------------------------------------
BM25_TERMS = ["join", "vector", "window", "slow"]
BM25_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n, sum(dl)/count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM toks
  WHERE w IN ('join', 'vector', 'window', 'slow') GROUP BY doc_id, w
),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
SELECT doc_id,
       round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 20
"""


@query("text_bm25_search", BM25_SQL)
def text_bm25_search(spark, sf_dir):
    """BM25 top-20 for a fixed 4-term query (functions/text.py
    bm25_topk — postings pruned to the query terms before any
    shuffle; TakeOrderedAndProject top-k)."""
    from ..functions.text import bm25_topk
    docs = tbl(spark, sf_dir, "documents").to_spark()
    return bm25_topk(docs, "doc_id", "text", BM25_TERMS,
                     k1=1.2, b=0.75, k=20)
