"""Text-analysis column functions for large-scale training-data
pipelines (BASELINE.json north star; beyond the reference's surface).

All pure `pyspark.sql.functions` expressions — JVM-side, codegen'd,
no Python in the hot path. Each takes/returns Columns so they compose
with the facade (Series._scol) and raw Spark DataFrames alike.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# small default stopword sets for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "un"],
    "fr": ["le", "la", "de", "et", "que", "un", "est"],
    "de": ["der", "die", "das", "und", "zu", "ein", "ist"],
}


def tokenize(text: Column, sep: str = " ") -> Column:
    """whitespace/sep tokenizer → array<string>."""
    return F.split(text, sep)


def token_count(text: Column, sep: str = " ") -> Column:
    return F.size(F.split(text, sep)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def stopword_ratio(text: Column, stopwords: Sequence[str], sep: str = " ") -> Column:
    toks = F.split(text, sep)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return n_stop.cast("double") / F.size(toks)


def lang_scores(text: Column, langs: Sequence[str] = ("en", "es", "fr", "de")) -> dict[str, Column]:
    """per-language stopword-hit counts (n-gram-free heuristic)."""
    toks = F.split(F.lower(text), " ")
    out = {}
    for lang in langs:
        sw = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")
    return out


def lang_id(text: Column, langs: Sequence[str] = ("en", "es", "fr", "de")) -> Column:
    """argmax language; ties resolved to the lexicographically first
    language so the result is deterministic across engines."""
    scores = lang_scores(text, langs)
    best = None
    for lang in sorted(langs):
        s = scores[lang]
        if best is None:
            best = (s, F.lit(lang))
        else:
            bs, bl = best
            best = (F.greatest(bs, s), F.when(s > bs, F.lit(lang)).otherwise(bl))
    return best[1]


def shingles(text: Column, k: int = 3, sep: str = " ") -> Column:
    """word k-shingles → array<string> (basis of Jaccard/MinHash dedup).
    Guarded: Spark's sequence(1, n) DESCENDS when n < 1, so short docs
    must short-circuit to an empty array."""
    toks = F.split(text, sep)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(
        n >= k, F.transform(idx, lambda i: F.concat_ws(sep, F.slice(toks, i, k)))
    ).otherwise(F.array().cast("array<string>"))


def chunk_text(text: Column, chunk_tokens: int = 64, overlap: int = 16,
               sep: str = " ") -> Column:
    """split a document into fixed-size token chunks with overlap —
    the standard LLM-training preprocessing step. Returns
    array<string>; explode downstream for one row per chunk. Pure
    column expressions (no UDF): stride = chunk_tokens - overlap,
    chunk i covers tokens [i*stride, i*stride + chunk_tokens)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    toks = F.split(text, sep)
    n = F.size(toks)
    stride = chunk_tokens - overlap
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"), F.lit(1)
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(
        idx, lambda i: F.concat_ws(sep, F.slice(toks, i * stride + 1, chunk_tokens))
    )


def doc_fingerprint(text: Column, k: int = 3) -> Column:
    """document fingerprint: lexicographic-min md5 over word k-shingles
    (md5 so oracles in other engines can reproduce it). Near-identical
    prefixes/suffixes don't move it — a cheap near-dup key."""
    return F.array_min(F.transform(shingles(text, k), F.md5))


def repetition_ratio(text: Column, k: int = 2, sep: str = " ") -> Column:
    """1 − distinct k-grams / total k-grams: ≈0 for natural text, →1
    for boilerplate/spam — a standard training-data repetition filter
    (used e.g. in Gopher/C4-style quality rules). Pure column
    expressions; exact-integer division so it is engine-reproducible."""
    sh = shingles(text, k, sep)
    n = F.size(sh)
    return F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(sh)) / n.cast("double"),
    ).otherwise(F.lit(0.0))


# deliberately simple, dialect-portable patterns (Java regex + RE2):
# the point is the SCAN SHAPE (regexp_count over a text column, no
# Python), not recall of every PII variant
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone_us": r"\b\d{3}-\d{3}-\d{4}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """per-pattern match counts (JVM regexp_count) — the scrub/filter
    step of a training-data pipeline flags or redacts on these."""
    return {
        name: F.regexp_count(text, F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }


def ngram_contamination(
    df, id_col: str, text_col: str, bench, bench_text_col: str,
    k: int = 8, sep: str = " ", hashed: bool = True,
):
    """Benchmark decontamination: per document, the fraction of its
    k-gram shingles that appear anywhere in a benchmark corpus —
    filter/flag docs above a threshold before training.

    Spark shape: distinct benchmark shingles (tiny relative to the
    corpus — benchmarks are small by definition) are broadcast into an
    equi-join against the exploded document shingles; one pass over
    the corpus, no shuffle of the big side beyond the per-doc count
    aggregation. hashed=True joins on 8-byte xxhash64 keys instead of
    shingle strings (the 100 TB default; hashed=False keeps raw
    strings so external engines can reproduce results exactly).

    Returns a frame (id_col, n_shingles, n_contaminated, ratio).
    """
    key = (lambda c: F.xxhash64(c)) if hashed else (lambda c: c)
    doc_sh = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(shingles(F.col(text_col), k, sep)).alias("__sh"),
        )
        .select("__id", key(F.col("__sh")).alias("__k"))
    )
    bench_sh = (
        bench.select(F.explode(shingles(F.col(bench_text_col), k, sep)).alias("__sh"))
        .select(key(F.col("__sh")).alias("__k"))
        .distinct()
    )
    marked = doc_sh.join(
        F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "__k", "left"
    )
    out = marked.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
    )
    return out.select(
        F.col("__id").alias(id_col),
        "n_shingles",
        "n_contaminated",
        (F.col("n_contaminated") / F.col("n_shingles").cast("double")).alias("ratio"),
    )


def pack_sequences(sdf, id_col: str, tokens_col, max_len: int,
                   order_by: str | None = None):
    """GPT-style sequence packing: concatenate documents in a
    deterministic global order into one token stream and chunk it at
    `max_len` boundaries. Each document gets the pack it STARTS in,
    its offset there, and the pack it ends in (documents straddling a
    boundary span packs; the trainer slices accordingly).

    Spark shape: one running sum over the global order
    (operators/ordered.cumulative — range-bucketed two-pass, scales to
    any stream length), then pure integer arithmetic. Exact and
    SQL-expressible, so the oracle is a plain window cumsum.

    tokens_col: column name (or Column) holding the document's token
    count. order_by defaults to id_col."""
    from ..operators import ordered

    order = order_by or id_col
    tc = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    prep = sdf.withColumn("__cum", tc.cast("long"))
    cum = ordered.cumulative(prep, {"__cum": "sum"}, [order])
    start = F.col("__cum") - tc.cast("long")
    return (
        cum.withColumn("pack_id", F.floor(start / max_len))
        .withColumn("pack_offset", start % max_len)
        .withColumn(
            "pack_id_end",
            F.floor((F.when(F.col("__cum") > start, F.col("__cum") - 1)
                     .otherwise(start)) / max_len),
        )
        .drop("__cum")
    )


def bigram_lm_train(sdf, id_col: str, text_col: str, sep: str = " ",
                    checkpoint_path: str | None = None):
    """Train the add-k bigram LM tables: returns {"uni", "bigc",
    "vocab"} DataFrames (unigram counts, bigram counts, 1-row vocab
    size).

    At 100 TB pass `checkpoint_path`: the aggregated tables are
    written to parquet and reread, so the raw corpus is scanned ONCE
    for training and never again at scoring time (the inline lazy form
    recomputes the tokenize+count subtree per consumer — fine at test
    scale, a 3x corpus rescan at cluster scale)."""
    toks = sdf.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), sep).alias("__toks"),
    )
    big = toks.select(
        F.explode(F.expr(
            # guard: sequence(1, 0) counts DOWN in Spark, which would
            # fabricate indices for 0/1-token docs — emit no bigrams
            "CASE WHEN size(__toks) >= 2 THEN "
            "transform(sequence(1, size(__toks) - 1), "
            "i -> struct(__toks[i-1] AS w1, __toks[i] AS w2)) "
            "ELSE array() END"
        )).alias("__b"),
    ).select(F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
    uni = (toks.select(F.explode("__toks").alias("w1"))
           .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    bigc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if checkpoint_path:
        spark = sdf.sparkSession
        uni.write.mode("overwrite").parquet(checkpoint_path + "/uni")
        bigc.write.mode("overwrite").parquet(checkpoint_path + "/bigc")
        uni = spark.read.parquet(checkpoint_path + "/uni")
        bigc = spark.read.parquet(checkpoint_path + "/bigc")
    vocab = uni.agg(F.count(F.lit(1)).alias("__V"))
    return {"uni": uni, "bigc": bigc, "vocab": vocab}


def bigram_lm_scores(sdf, id_col: str, text_col: str,
                     k_smooth: float = 0.5, sep: str = " ",
                     model: dict | None = None):
    """CCNet-style n-gram language-model quality scoring (no reference
    analogue; public method: Wenzek et al., "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data", 2019 — there a
    KenLM 5-gram; here a corpus-trained add-k bigram LM, the same
    filtering signal without a native dependency).

    Scores each document against `model` (bigram_lm_train output;
    trained on the corpus itself when omitted):
      avg_logprob = mean over bigrams of ln((c(w1,w2)+k)/(c(w1)+k*V))
    Low (very negative) = improbable sequences = gibberish; abnormally
    high = boilerplate. Perplexity = exp(-avg_logprob).

    Spark shape, 100 TB-ready: the model is two aggregated tables (far
    smaller than the token stream; parquet-checkpointable via
    bigram_lm_train); scoring is one equi-join of the document bigram
    stream against them (shuffle on the bigram key; Catalyst
    broadcasts when the model is small) + one per-doc aggregate. No
    UDFs, no driver state. Unseen bigrams (scoring with a model
    trained elsewhere) drop out of the inner join — train on a
    superset corpus or pre-smooth the model table for OOV handling.

    Returns (doc_id, n_bigrams, avg_logprob). Per-term ln() may differ
    from another engine's libm by 1 ulp — round for cross-engine
    comparison."""
    if model is None:
        model = bigram_lm_train(sdf, id_col, text_col, sep)
    toks = sdf.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), sep).alias("__toks"),
    )
    big = toks.select(
        "doc_id",
        F.explode(F.expr(
            # guard: sequence(1, 0) counts DOWN in Spark, which would
            # fabricate indices for 0/1-token docs — emit no bigrams
            "CASE WHEN size(__toks) >= 2 THEN "
            "transform(sequence(1, size(__toks) - 1), "
            "i -> struct(__toks[i-1] AS w1, __toks[i] AS w2)) "
            "ELSE array() END"
        )).alias("__b"),
    ).select("doc_id", F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
    k = F.lit(float(k_smooth))
    scored = (
        big.join(model["bigc"], ["w1", "w2"]).join(model["uni"], "w1")
        .crossJoin(F.broadcast(model["vocab"]))
        .withColumn("__lp", F.log((F.col("c12") + k)
                                  / (F.col("c1") + k * F.col("__V"))))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("__lp").alias("avg_logprob"),
    )


def bm25_index(sdf, id_col: str, text_col: str, sep: str = " ",
               checkpoint_path: str | None = None):
    """Build the BM25 inverted-index tables: {"postings" (doc_id, w,
    tf), "dl" (doc_id, dl), "df" (w, df), "stats" (1 row: N, avgdl)}.
    dl/df/stats all derive from the aggregated postings — the raw
    corpus is tokenized once per consumer lazily, or exactly ONCE when
    `checkpoint_path` is given (postings written to parquet and
    reread; the real retrieval-system shape: index once, search many
    — term filters then push down to the postings parquet scan and
    never touch the corpus)."""
    toks = sdf.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), sep)).alias("w"),
    )
    postings = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    if checkpoint_path:
        spark = sdf.sparkSession
        postings.write.mode("overwrite").parquet(checkpoint_path + "/postings")
        postings = spark.read.parquet(checkpoint_path + "/postings")
    dl = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = postings.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    return {"postings": postings, "dl": dl, "df": dfreq, "stats": stats}


def bm25_topk(sdf, id_col: str, text_col: str, query_terms,
              k1: float = 1.2, b: float = 0.75, k: int = 20,
              sep: str = " ", index: dict | None = None):
    """BM25 ranked retrieval over the corpus (public formula — the
    Lucene/Robertson-Sparck-Jones variant with the +1 idf floor).

    Pass `index` (bm25_index output, ideally parquet-checkpointed) to
    search without touching the corpus; the inline form builds it
    lazily for one-shot use. The per-term postings filter is a
    broadcast-size isin literal applied BEFORE any shuffle (pushed to
    the postings parquet scan when indexed), so the expensive stages
    only ever see rows for the query's terms; the final top-k is
    TakeOrderedAndProject — no global sort. Everything JVM-side.

    Returns the k best (doc_id, score) — score rounded to 6dp so the
    TakeOrdered tie-break (score desc, doc_id asc) is reproducible
    across engines despite libm ln() ulp differences."""
    if index is None:
        index = bm25_index(sdf, id_col, text_col, sep)
    terms = [str(t) for t in query_terms]
    tf = index["postings"].where(F.col("w").isin(terms))
    dfreq = index["df"].where(F.col("w").isin(terms))
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(index["dl"], "doc_id")
        .crossJoin(F.broadcast(index["stats"]))
        .withColumn("__idf", F.log(
            F.lit(1.0) + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)))
        .withColumn("__s", F.col("__idf") * F.col("tf") * (k1 + 1)
                    / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
    )
    return (scored.groupBy("doc_id")
            .agg(F.round(F.sum("__s"), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k))
