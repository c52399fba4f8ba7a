"""Structured Streaming operators (SURVEY.md §2.10 — the reference has
no streaming; this layer is a Spark-native extension designed for the
events-style append stream).

Design: every operator takes/returns a streaming DataFrame; watermarks
bound state so the operators run indefinitely at scale. Batch parity:
each streaming op's semantics match the batch query of the same name
(tests/test_streaming.py runs both and compares).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str,
                      schema: T.StructType = EVENTS_SCHEMA,
                      max_files_per_trigger: int = 10) -> DataFrame:
    """file-source append stream (new parquet files in `path` become
    micro-batches). The production analogue is Kafka/Kinesis; the file
    source exercises identical operator semantics."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """tumbling-window counts+sums per event_type with late-data bound."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
        )
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"),
                "event_type", "n", "total")
    )


def sliding_means(stream: DataFrame, window: str = "1 hour",
                  slide: str = "15 minutes", watermark: str = "2 hours") -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "user_id")
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "user_id", "avg_value", "n")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """native session windows: a session closes after `gap` of
    inactivity (the streaming analogue of queries/windows.py
    window_user_sessions)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "total",
        )
    )


def dedup_stream(stream: DataFrame, keys: list[str],
                 watermark: str = "2 hours") -> DataFrame:
    """streaming dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state for older keys is evicted."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


RUNNING_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)
RUNNING_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def running_user_totals(stream: DataFrame, timeout_s: int | None = None) -> DataFrame:
    """custom stateful operator via applyInPandasWithState: per-user
    running (count, sum) emitted every micro-batch — the pattern for
    operators Spark's built-in aggs can't express (per-key custom
    state machines)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(stream_df: DataFrame, query_name: str,
                  output_mode: str = "update") -> Any:
    """drain a stream into an in-memory table (testing harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def stream_static_enrich(stream: DataFrame, static_dim: DataFrame,
                         on: str) -> DataFrame:
    """stream-static join: enrich each event with a (broadcastable)
    dimension — the standard lookup pattern; the static side reloads
    per micro-batch, the stream side never shuffles."""
    from pyspark.sql import functions as F
    return stream.join(F.broadcast(static_dim), on=on, how="left")


def stream_stream_purchase_after_click(
    clicks: DataFrame, purchases: DataFrame,
    watermark: str = "2 hours", within: str = "1 hour",
) -> DataFrame:
    """stream-stream interval join: purchases matched to a click by the
    same user within the preceding `within` — both sides watermarked so
    the join state is bounded (late rows evicted)."""
    from pyspark.sql import functions as F

    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                 F.col("value").alias("p_value")))
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(c, cond, "inner")


NEAR_DUP_STATE_SCHEMA = T.StructType([T.StructField("first_doc", T.LongType())])
NEAR_DUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("matched_doc", T.LongType()),
        T.StructField("band", T.IntegerType()),
    ]
)


def near_dedup_candidates_stream(
    stream: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bands: int = 8, rows: int = 4, k: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """STREAMING near-duplicate candidates: MinHash+LSH online.

    The signature and band keys are pure column expressions
    (functions/dedup.py minhash_sig_expr — legal before a stateful op,
    unlike an aggregation), then per-(band, bucket) state remembers the
    bucket's first document and every later arrival is emitted as a
    candidate pair (doc_id, matched_doc, band). Candidates are verified
    offline (exact Jaccard on the flagged pairs) — the standard
    online-flag/offline-verify split. State is one long per occupied
    bucket, partitioned by the bucket key."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.dedup import (
        lsh_band_keys, md5_band_hash, md5_perm_hash, md5_token_hash,
        minhash_sig_expr,
    )

    # portable_hash: the md5-derived hash family DuckDB reproduces
    # bit-for-bit (oracle checks); production keeps xxhash64
    th, ph, bh = ((md5_token_hash, md5_perm_hash, md5_band_hash)
                  if portable_hash else (None, None, None))
    sig = minhash_sig_expr(F.col(text_col), k=k, num_perm=bands * rows,
                           token_hash=th, perm_hash=ph)
    # Spread the signature computation across cores BEFORE evaluating
    # it (guide §2.5 input skew / §2.6 stragglers): a micro-batch of a
    # file stream arrives with one scan partition per (small) file, so
    # the per-token hash work — num_perm rehashes per shingle, and the
    # md5 family under portable_hash — otherwise runs single-task
    # regardless of cluster size.  Measured at sf0.001 (500 docs, one
    # source file, 8 cores): the banded aggregation dropped 54.2 s →
    # ~7 s.  A micro-batch is bounded by the trigger, so the extra
    # round-robin exchange moves a micro-batch of raw text once —
    # cheap against the per-row signature cost it parallelizes.
    stream = stream.repartition(
        stream.sparkSession.sparkContext.defaultParallelism)
    # materialize the signature in its OWN projection: lsh_band_keys
    # references `sig` once per band, and higher-order functions are
    # CodegenFallback with no interpreted common-subexpression reuse —
    # inlined, the full num_perm-rehash minhash would be evaluated
    # `bands` times per row.  A non-cheap multi-referenced alias is
    # exactly what CollapseProject refuses to re-inline, so this
    # projection boundary pins single evaluation.
    sigd = stream.select(F.col(id_col).alias("doc_id"),
                         sig.alias("__sig"))
    banded = (
        sigd.select("doc_id",
                    F.explode(lsh_band_keys(F.col("__sig"), bands, rows,
                                            band_hash=bh)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.bkey").alias("bkey"))
    )

    def update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        band, _bkey = key
        first = state.get[0] if state.exists else None
        # min doc first: deterministic under any intra-batch order
        docs = sorted({int(d) for pdf in pdfs for d in pdf["doc_id"]})
        if first is None and docs:
            first = docs.pop(0)
            state.update((first,))
        dups = [d for d in docs if d != first]
        if dups:
            yield pd.DataFrame(
                {"doc_id": dups, "matched_doc": [first] * len(dups),
                 "band": [int(band)] * len(dups)}
            )

    return banded.groupBy("band", "bkey").applyInPandasWithState(
        update,
        outputStructType=NEAR_DUP_OUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SEM_DUP_OUT_SCHEMA = "vec_id long, matched_vec long, cell long"
SEM_DUP_STATE_SCHEMA = "first long"


def semantic_dedup_candidates_stream(
    stream: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, num_planes: int = 8, seed: int = 7,
) -> DataFrame:
    """STREAMING semantic-dedup candidates: hyperplane-cell collisions
    online (the streaming face of functions/similarity.semantic_dedup).

    Cell assignment is the same deterministic literal-weight signature
    as semantic_cells (portable — an external engine reproduces it
    exactly from the seed); per-cell state remembers the cell's first
    (minimum) vector id and every later arrival is emitted as a
    candidate (vec_id, matched_vec, cell).  Candidates verify offline
    with exact cosine — the same online-flag/offline-verify split as
    near_dedup_candidates_stream.  State is one long per occupied
    cell, partitioned by the cell key; size num_planes so cells stay
    within state-store budget at the stream's cardinality."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.similarity import as_double, hyperplane_signature

    cells = stream.select(
        F.col(id_col).alias("vec_id"),
        hyperplane_signature(
            as_double(F.col(vec_col)), dim, num_planes, seed).alias("cell"),
    )

    def update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (cell,) = key
        first = state.get[0] if state.exists else None
        ids = sorted({int(v) for pdf in pdfs for v in pdf["vec_id"]})
        if first is None and ids:
            first = ids.pop(0)
            state.update((first,))
        dups = [v for v in ids if v != first]
        if dups:
            yield pd.DataFrame(
                {"vec_id": dups, "matched_vec": [first] * len(dups),
                 "cell": [int(cell)] * len(dups)}
            )

    return cells.groupBy("cell").applyInPandasWithState(
        update,
        outputStructType=SEM_DUP_OUT_SCHEMA,
        stateStructType=SEM_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_OUT_SCHEMA = "shard long, value string, lb long, n_seen long"
HH_STATE_SCHEMA = "keys array<string>, counts array<long>, n long"


def heavy_hitter_candidates_stream(stream: DataFrame, col: str,
                                   m: int, shards: int = 8) -> DataFrame:
    """STREAMING heavy-hitter sketch: Misra-Gries online, state bounded
    at `m` counters per shard FOREVER — the streaming companion to
    functions/sketches.py heavy_hitters (same two-pass contract: this
    is pass 1; an offline exact recount of the final candidates is
    pass 2, see queries/streaming_q.py stream_heavy_hitters).

    Values are sharded by a portable md5-derived hash (so an oracle can
    replicate shard membership); ALL occurrences of a value land in one
    shard, so any value with global frequency > n_shard/m ≥ its shard's
    threshold survives that shard's summary — the superset guarantee
    holds per shard independently, and total state is shards × m
    counters no matter how many distinct values stream through.

    Each micro-batch emits the shard's current candidates with their
    Misra-Gries lower-bound counts (true_count - n_shard/m ≤ lb ≤
    true_count) plus the shard's running element count `n_seen`, so a
    consumer can both rank candidates and bound the error."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(shards),
    )
    keyed = stream.select(F.col(col).cast("string").alias("__v"),
                          shard.alias("__shard")).where(F.col("__v").isNotNull())

    def update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (sh,) = key
        if state.exists:
            keys, counts, n = state.get
            counters = pd.Series(list(counts), index=list(keys), dtype="int64")
        else:
            counters, n = pd.Series(dtype="int64"), 0
        for pdf in pdfs:
            s = pdf["__v"]
            n += len(s)
            vc = s.value_counts()
            counters = (vc if counters.empty
                        else pd.concat([counters, vc]).groupby(level=0).sum())
            if len(counters) > m:
                t = counters.nlargest(m + 1).iloc[-1]
                counters = counters - t
                counters = counters[counters > 0]
        state.update((list(counters.index), [int(c) for c in counters],
                      int(n)))
        yield pd.DataFrame({
            "shard": int(sh), "value": counters.index,
            "lb": counters.to_numpy("int64"), "n_seen": int(n),
        })

    return keyed.groupBy("__shard").applyInPandasWithState(
        update,
        outputStructType=HH_OUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_distinct_users(stream: DataFrame, window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """tumbling-window APPROXIMATE distinct users (HyperLogLog++ state):
    exact streaming count-distinct would hold every id per open window
    in the state store — unbounded at 100 TB event rates; the sketch
    keeps a few KB per (window, type) regardless of cardinality.  The
    streaming face of the sketch family (sketches.hll_rollup is the
    batch rollup)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"),
             F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type",
                "approx_users", "n")
    )


def hll_rollup_sink(stream: DataFrame, keys: list, col: str,
                    rollup_path: str, lg_k: int = 12,
                    checkpoint_dir: str | None = None) -> Any:
    """foreachBatch sink maintaining a PERSISTENT mergeable HLL rollup
    table: each micro-batch is sketched at the (keys) grain
    (functions/sketches.py hll_rollup — same schema, so batch and
    streaming rollups compose into one table) and APPENDED to
    `rollup_path`.  Because HLL sketches merge, append IS merge — the
    LSM pattern: estimates union all fragment rows per key
    (hll_estimate already groups + hll_union_agg), and
    `compact_hll_rollup` rewrites the table back to one row per key
    when fragments accumulate.  This closes the streaming↔batch sketch
    gap: sketch the live stream once, answer any slice union from the
    table forever, never replaying raw events.

    State story at 100 TB event rates: the streaming side holds NO
    aggregation state at all (each micro-batch sketch is independent);
    durability lives in the appended parquet fragments, and exactly-
    once comes from the checkpointed epoch IDs — a replayed batch
    appends under the same epoch, and compaction-by-epoch dedups it.
    Returns the started StreamingQuery."""
    import tempfile

    from ..functions.sketches import hll_rollup

    def _sketch_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (hll_rollup(batch_df, keys, col, lg_k=lg_k)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("append").parquet(rollup_path))

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="hll_sink_ckpt_")
    return (stream.writeStream.foreachBatch(_sketch_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start())


def compact_hll_rollup(spark: SparkSession, rollup_path: str,
                       keys: list) -> None:
    """rewrite a fragment-per-batch HLL rollup table back to one row
    per key: replayed epochs are deduped first (max one fragment per
    (keys, epoch) — the exactly-once half of the sink contract), then
    sketches union-merge.  Crash-safe: the merged table is fully
    written to a sibling dir before the old one renames aside
    (maintenance.atomic_overwrite) — a kill at any point leaves the
    sketch table recoverable via maintenance.recover_table."""
    from ..functions.maintenance import atomic_overwrite

    roll = spark.read.option("mergeSchema", "true").parquet(rollup_path)
    cols = list(keys) + ["hll"]
    if "__epoch" in roll.columns:
        roll = (roll.groupBy(*keys, "__epoch")
                .agg(F.first("hll").alias("hll")))
    merged = (roll.select(*cols).groupBy(*keys)
              .agg(F.hll_union_agg("hll").alias("hll")))
    atomic_overwrite(rollup_path,
                     lambda p: merged.write.mode("overwrite").parquet(p))


def hist_rollup_sink(stream: DataFrame, keys: list, col: str,
                     rollup_path: str, bins: int, lo: float, hi: float,
                     checkpoint_dir: str | None = None) -> Any:
    """foreachBatch sink maintaining a PERSISTENT mergeable histogram
    rollup table — the quantile companion to hll_rollup_sink, same LSM
    contract: each micro-batch is histogrammed at the (keys) grain
    (functions/sketches.py hist_rollup — same schema as the batch
    rollup) and APPENDED as an epoch-tagged fragment.  Bin counts merge
    by addition, and quantile_estimate already explodes + sums per
    (keys, lo, hi, bins), so fragments estimate correctly WITHOUT
    compaction — and `sketches.psi_drift` scores drift between two
    sink tables (e.g. today's vs yesterday's) directly on the
    fragments too; `compact_hist_rollup` dedups replayed epochs and
    folds the fragments back to one row per key.  lo/hi/bins must be fixed
    up front (a stream can't be min/max pre-scanned — pick the domain
    from history or business bounds); values outside clamp into the
    edge bins per the batch contract.  Returns the StreamingQuery."""
    import tempfile

    from ..functions.sketches import hist_rollup

    def _sketch_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (hist_rollup(batch_df, keys, col, bins=bins, lo=lo, hi=hi)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("append").parquet(rollup_path))

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="hist_sink_ckpt_")
    return (stream.writeStream.foreachBatch(_sketch_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start())


def compact_hist_rollup(spark: SparkSession, rollup_path: str,
                        keys: list) -> None:
    """rewrite a fragment-per-batch histogram rollup to one row per
    key: dedup replayed epochs (max one fragment per (keys, epoch)),
    then sum bin counts across fragments.  Same crash-safe swap as
    compact_hll_rollup."""
    from ..functions.maintenance import atomic_overwrite

    roll = spark.read.option("mergeSchema", "true").parquet(rollup_path)
    base = list(keys) + ["lo", "hi", "bins"]
    if "__epoch" in roll.columns:
        roll = (roll.groupBy(*base, "__epoch")
                .agg(F.first("hist").alias("hist")))
    merged = (
        roll.select(*base, F.explode("hist").alias("__bin", "__cnt"))
        .groupBy(*base, "__bin").agg(F.sum("__cnt").alias("__cnt"))
        .groupBy(*base)
        .agg(F.map_from_entries(F.array_sort(F.collect_list(
            F.struct(F.col("__bin"), F.col("__cnt"))))).alias("hist"))
        .select(*keys, "hist", "lo", "hi", "bins"))
    atomic_overwrite(rollup_path,
                     lambda p: merged.write.mode("overwrite").parquet(p))


def exact_dedup_sink(stream: DataFrame, id_col: str, text_col: str,
                     index_path: str, kept_path: str | None = None,
                     normalize: bool = False,
                     checkpoint_dir: str | None = None) -> Any:
    """foreachBatch STREAMING INGEST DEDUP against a persistent
    exact-hash index (functions/dedup.py exact_hash_index /
    exact_dedup_against): each micro-batch is deduped against the
    index, the surviving (novel-text) rows' hashes APPEND to the index
    — old text is never replayed — and, when `kept_path` is given, the
    surviving rows themselves append there, so the kept table IS the
    deduplicated corpus as it streams in.

    Replay safety: appended index fragments carry the epoch id; the
    per-batch read pre-merges fragments (min keep_id per hash), so a
    replayed epoch's duplicate fragment cannot multiply join rows, and
    `compact_exact_index` rewrites the index to one row per hash.
    State story at 100 TB: the streaming side holds no state at all —
    durability is the appended parquet, and the per-batch index join
    ships only (32-hex, id) rows.  Returns the StreamingQuery."""
    import tempfile

    from ..functions.dedup import exact_dedup_against, exact_hash_index

    def _dedup_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        id_type = batch_df.schema[id_col].dataType.simpleString()
        try:
            idx = (spark.read.parquet(index_path)
                   .groupBy("text_hash")
                   .agg(F.min("keep_id").alias("keep_id")))
        except Exception:
            idx = spark.createDataFrame(
                [], f"text_hash string, keep_id {id_type}")
        tagged = exact_dedup_against(batch_df, idx, id_col, text_col,
                                     normalize=normalize)
        keep_ids = (tagged.where(F.col("dup_of").isNull())
                    .select(F.col("id").alias("__keep")))
        survivors = batch_df.join(
            keep_ids, batch_df[id_col] == F.col("__keep"), "leftsemi")
        (exact_hash_index(survivors, id_col, text_col,
                          normalize=normalize)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("append").parquet(index_path))
        if kept_path is not None:
            survivors.withColumn("__epoch", F.lit(int(epoch_id))) \
                .write.mode("append").parquet(kept_path)

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="exact_dedup_ckpt_")
    return (stream.writeStream.foreachBatch(_dedup_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start())


def compact_exact_index(spark: SparkSession, index_path: str) -> None:
    """rewrite an exact-dedup index to one row per hash (min keep_id
    across fragments — idempotent under epoch replays).  Same
    crash-safe swap as the sketch-table compactors."""
    from ..functions.maintenance import atomic_overwrite

    roll = spark.read.option("mergeSchema", "true").parquet(index_path)
    merged = (roll.groupBy("text_hash")
              .agg(F.min("keep_id").alias("keep_id")))
    atomic_overwrite(index_path,
                     lambda p: merged.write.mode("overwrite").parquet(p))


def cms_rollup_sink(stream: DataFrame, keys: list, col: str,
                    rollup_path: str, width: int = 2048, depth: int = 4,
                    seed: str = "cm",
                    checkpoint_dir: str | None = None) -> Any:
    """foreachBatch sink maintaining a PERSISTENT mergeable count-min
    rollup (functions/sketches.py cms_rollup — same schema, so batch
    and streaming fragments compose): each micro-batch's sketch
    appends as an epoch-tagged fragment; cell counts merge by addition
    (cms_merge / cms_estimate already re-aggregate cells), so append
    IS merge — the same LSM contract as hll_rollup_sink, with
    compact_cms_rollup folding fragments back to one row per key and
    deduping replayed epochs.  Zero streaming aggregation state; the
    frequency table of a 100 TB event stream lives as ≤ depth·width
    cells per key grain."""
    import tempfile

    from ..functions.sketches import cms_rollup

    def _sketch_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (cms_rollup(batch_df, keys, col, width=width, depth=depth,
                    seed=seed)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("append").parquet(rollup_path))

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="cms_sink_ckpt_")
    return (stream.writeStream.foreachBatch(_sketch_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start())


def compact_cms_rollup(spark: SparkSession, rollup_path: str,
                       keys: list) -> None:
    """fold a fragment-per-batch count-min rollup to one row per key:
    dedup replayed epochs, then add cells element-wise (the
    cms_merge algebra) — same crash-safe swap as compact_hll_rollup."""
    from ..functions.maintenance import atomic_overwrite
    from ..functions.sketches import cms_merge

    roll = spark.read.option("mergeSchema", "true").parquet(rollup_path)
    if "__epoch" in roll.columns:
        roll = (roll.groupBy(*keys, "width", "depth", "__epoch")
                .agg(F.first("cms").alias("cms"), F.first("n").alias("n")))
    merged = cms_merge(roll, list(keys)) \
        .select(*keys, "cms", "n", "width", "depth")
    atomic_overwrite(rollup_path,
                     lambda p: merged.write.mode("overwrite").parquet(p))


def kmv_rollup_sink(stream: DataFrame, keys: list, col: str,
                    rollup_path: str, k: int = 128, seed: str = "kmv",
                    checkpoint_dir: str | None = None) -> Any:
    """foreachBatch sink maintaining a PERSISTENT mergeable KMV
    distinct sketch (functions/sketches.py kmv_rollup — same schema):
    fragments append per micro-batch, arrays union-merge to the k
    smallest (kmv_merge), and because KMV supports INTERSECTION the
    compacted table can answer "users in BOTH day X and day Y" — the
    question the HLL sink can't.  Same LSM/epoch-dedup contract."""
    import tempfile

    from ..functions.sketches import kmv_rollup

    def _sketch_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (kmv_rollup(batch_df, keys, col, k=k, seed=seed)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("append").parquet(rollup_path))

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="kmv_sink_ckpt_")
    return (stream.writeStream.foreachBatch(_sketch_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start())


def compact_kmv_rollup(spark: SparkSession, rollup_path: str,
                       keys: list) -> None:
    """fold a fragment-per-batch KMV rollup to one row per key: dedup
    replayed epochs, then union-merge arrays to the k smallest —
    same crash-safe swap as compact_hll_rollup."""
    from ..functions.maintenance import atomic_overwrite
    from ..functions.sketches import kmv_merge

    roll = spark.read.option("mergeSchema", "true").parquet(rollup_path)
    if "__epoch" in roll.columns:
        roll = (roll.groupBy(*keys, "k", "__epoch")
                .agg(F.first("kmv").alias("kmv")))
    merged = kmv_merge(roll, list(keys)).select(*keys, "kmv", "k")
    atomic_overwrite(rollup_path,
                     lambda p: merged.write.mode("overwrite").parquet(p))


def upsert_sink(stream: DataFrame, table_path: str, keys: list,
                partition_col: str | None = None,
                order_col: str | None = None,
                n_buckets: int | None = None,
                check_moves: bool = True,
                key_bloom_path: str | None = None,
                zonemap_cols: list | None = None,
                checkpoint_dir: str | None = None,
                commit: str = "auto") -> Any:
    """foreachBatch sink maintaining an SCD-1 SNAPSHOT table: each
    micro-batch merges into the parquet table at `table_path` via
    maintenance.upsert — same-key rows replace (latest batch wins;
    `order_col` resolves duplicates WITHIN a batch), novel keys
    insert.  With `partition_col` the merge is partition-pruned
    (maintenance.upsert_partitioned): a batch touching one day's
    partitions reads and rewrites only those directories — the
    streaming CDC-apply pattern where table cost scales with the
    change, not the table.  With `n_buckets` (no natural partition
    column) the table is laid out as md5-key hive buckets
    (maintenance.write_bucketed) and each merge prunes to the bucket
    directories the batch's keys hash into — the scale path for
    unpartitioned tables; without either, every batch rewrites the
    full snapshot (fine for small dimension tables only).

    `check_moves` (default True, partitioned path only) rejects CDC
    updates that change the partition column — without it the old row
    survives in the unread partition and the key silently duplicates.
    Pass `key_bloom_path` to keep the guard map-only per batch (a
    snapshot-committed key bloom under either commit protocol,
    bootstrapped by the first guarded merge), or check_moves=False
    only when the pipeline is partition-stable by construction.  The
    bucketed path needs no guard: a key's bucket is a pure function
    of the key.

    `zonemap_cols` keeps a file-level zone map (sources/zonemap.py)
    over the snapshot table fresh after every merge: the first batch
    builds it, later batches run update_zonemap once (partitioned and
    bucketed merges run it inside upsert_partitioned) — footer-scanning
    only the files the merge rewrote, so manifest maintenance costs the
    CHANGE like the merge itself, and selective readers prune with
    read_skipping while the stream runs (a crash between merge and
    manifest update just leaves unknown files, which the pruner always
    reads — stale-safe by the zone-map contract).

    Replayed batches are idempotent for deterministic inputs (the
    same rows upsert to the same state), which is the foreachBatch
    exactly-once contract — test_streaming kills a query mid-epoch
    and restarts from the checkpoint to exercise it.  Under the
    pointer protocol this composes with MULTI-WRITER safety: a batch
    job racing this sink on the same table serializes on the
    generation claim; since round 10 a lost claim REBASES when the
    two writers touched disjoint partition dirs (both land, no
    restart — the steady state for a streaming sink and a nightly
    batch on different partitions), and only an overlapping-dir race
    fails the micro-batch with ConcurrentCommitError, after which
    Spark restarts the query from the checkpoint and the replayed
    epoch recomputes against the new head — idempotent by the same
    contract, never silent.  All rewrites go
    through the crash-safe swap (maintenance.atomic_overwrite /
    _swap_partition_dirs) — or, with `commit="pointer"` (the
    object-store mode; "auto" picks it when the table's filesystem
    lacks atomic rename), through the manifest-flip protocol: batches
    APPEND fresh files and one pointer write commits, read back with
    maintenance.read_manifested.  The first batch bootstraps the
    table.  Returns the started StreamingQuery."""
    import os
    import tempfile

    from ..functions.maintenance import (_read_manifest,
                                         atomic_overwrite, is_bucketed,
                                         manifest_bootstrap,
                                         read_commit,
                                         upsert, upsert_bucketed,
                                         upsert_partitioned,
                                         write_bucketed)
    if partition_col and n_buckets:
        raise ValueError("upsert_sink: partition_col and n_buckets are "
                         "mutually exclusive layouts")
    if commit == "pointer" and not (partition_col or n_buckets):
        raise ValueError("upsert_sink: commit='pointer' needs a "
                         "partitioned or bucketed layout (the manifest "
                         "is keyed on partition directories)")

    from ..fsops import get_fs
    _fs = get_fs(table_path)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # the partitioned and bucketed merges refresh an existing zone
        # map themselves (upsert_partitioned); only the full rewrite
        # below leaves it to this sink
        full_rewrite = False
        if not _fs.isdir(table_path):
            out = batch_df
            if order_col is not None:
                cols = [c for c in batch_df.columns
                        if c not in keys and c != order_col]
                out = (batch_df.groupBy(*keys)
                       .agg(*[F.max_by(c, order_col).alias(c)
                              for c in cols],
                            F.max(order_col).alias(order_col))
                       .select(*batch_df.columns))
            if n_buckets:
                write_bucketed(out, table_path, list(keys), n_buckets)
                if commit == "pointer":
                    manifest_bootstrap(table_path, "__bucket")
            else:
                w = out.write.mode("overwrite")
                if partition_col:
                    w = w.partitionBy(partition_col)
                w.parquet(table_path)
                if commit == "pointer" and partition_col:
                    manifest_bootstrap(table_path, partition_col)
                    if key_bloom_path is not None:
                        # seed the snapshot-committed bloom with the
                        # first batch's keys so the very next merge's
                        # move guard is already map-only
                        from ..functions.maintenance import \
                            bloom_append_snapshot
                        bloom_append_snapshot(spark, key_bloom_path,
                                              out, list(keys))
        elif partition_col:
            upsert_partitioned(spark, table_path, batch_df, keys,
                               partition_col, order_col=order_col,
                               check_moves=check_moves,
                               key_bloom_path=key_bloom_path,
                               commit=commit)
        elif n_buckets or is_bucketed(table_path):
            upsert_bucketed(spark, table_path, batch_df, list(keys),
                            order_col=order_col, commit=commit)
        else:
            if read_commit(table_path) is not None:
                raise ValueError(
                    "upsert_sink: table is pointer-committed but the "
                    "sink has no partition_col/n_buckets — the "
                    "unpartitioned full-rewrite path would raw-scan "
                    "superseded files and destroy the manifest; "
                    "restart the sink with the table's layout")
            target = spark.read.parquet(table_path)
            merged = upsert(target, batch_df.select(*target.columns)
                            if order_col is None else batch_df,
                            keys, order_col=order_col)
            atomic_overwrite(
                table_path,
                lambda p: merged.write.mode("overwrite").parquet(p))
            full_rewrite = True
        if zonemap_cols:
            from ..sources.zonemap import (ZONEMAP_DIR, build_zonemap,
                                           update_zonemap)
            zp = os.path.join(table_path, ZONEMAP_DIR)
            if _read_manifest(zp, fs=_fs) is None:
                build_zonemap(spark, table_path, list(zonemap_cols))
            elif full_rewrite:
                update_zonemap(spark, table_path)

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="upsert_sink_ckpt_")
    return (stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start())


def scd2_sink(stream: DataFrame, table_path: str, keys: list,
              effective_col: str,
              n_buckets: int = 64,
              checkpoint_dir: str | None = None,
              commit: str = "auto") -> Any:
    """foreachBatch sink maintaining an SCD-2 HISTORY table: where
    upsert_sink keeps only the latest row per key, this keeps every
    version — each micro-batch closes changed current rows (valid_to =
    the change's effective time) and opens new ones, so any past state
    of the stream reconstructs with maintenance.scd2_asof.

    Layout (the piece that makes history maintenance scale): the table
    splits into `<path>/current` — an md5-key-BUCKETED table of open
    rows, so each batch reads and rewrites only the bucket directories
    its keys hash into (maintenance.overwrite_partitions; never the
    full live keyset) — and `<path>/closed`, APPEND-ONLY parquet
    fragments of finished versions tagged with the writing epoch.
    Closed rows are immutable by SCD-2's nature, so history growth
    costs appends, never rewrites.  Per-batch cost = touched buckets +
    closed-version count; table size appears nowhere.

    Exactly-once: closed fragments append BEFORE the current buckets
    swap, so a crash between the two replays into duplicate closed
    fragments, never lost ones; replayed rows dedupe on (keys,
    valid_from) at read time (read_scd2) and fold away in
    compact_scd2_closed — the same LSM fragment + epoch-dedup
    compaction contract as the sketch sinks.  The current-side merge
    runs upsert_scd2(retroactive="skip"), which absorbs a replayed
    batch's already-applied updates (their effective time equals the
    key's current valid_from) — deterministic inputs replay to the
    identical table.  Effective times must be monotone per key across
    batches (the stream's event-time order); genuinely late updates
    are dropped by the same skip, so late-capable pipelines should
    route them to a batch history rebuild instead.  Under the pointer
    protocol the current-side flip carries the multi-writer CAS: a
    batch job racing this sink loses or wins the generation claim —
    a losing micro-batch fails with ConcurrentCommitError and the
    checkpoint replay recomputes against the new head (the closed
    side is append-only and dedupes on replay regardless).

    Returns the started StreamingQuery."""
    import os
    import tempfile

    from ..functions.maintenance import (_resolve_commit, bucket_expr,
                                         manifest_bootstrap,
                                         overwrite_partitions,
                                         read_commit, read_manifested,
                                         recover_table, scd2_init,
                                         upsert_scd2)

    from ..fsops import get_fs

    cur_path = os.path.join(table_path, "current")
    closed_path = os.path.join(table_path, "closed")
    _fs = get_fs(table_path)
    _SPEC = {"keys": list(keys), "n_buckets": int(n_buckets),
             "seed": "bkt"}

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _fs.mkdirs(table_path)
        # an existing table's on-disk spec wins over the constructor
        # params (a table bootstrapped by scd2_bootstrap may use a
        # different bucket count; buckets MUST hash consistently)
        spec_file0 = os.path.join(cur_path, "_bucket_spec.json")
        if _fs.exists(spec_file0):
            import json
            disk = json.loads(_fs.read_text(spec_file0))
            if list(disk["keys"]) != list(keys):
                raise ValueError(
                    f"scd2_sink: table at {table_path} is keyed on "
                    f"{disk['keys']}, not {list(keys)}")
            _SPEC.update(n_buckets=int(disk["n_buckets"]),
                         seed=disk["seed"])
        bkt = bucket_expr(list(keys), _SPEC["n_buckets"], _SPEC["seed"])
        # commit protocol for the CURRENT table's bucket rewrites:
        # rename swap on atomic-rename stores, manifest flip on object
        # stores OR on a table whose current side already carries a
        # _commit.json (closed fragments are append-only either way)
        mode = _resolve_commit(cur_path, _fs, commit, "scd2_sink")
        pointer = (mode == "pointer")
        if not _fs.isdir(cur_path):
            # bootstrap: chain the first batch's own versions against
            # an empty (schema-only) history
            target = scd2_init(batch_df.where(F.lit(False)),
                               effective_col)
        else:
            touched = [r[0] for r in batch_df.select(
                bkt.alias("__b")).distinct().collect()]
            if pointer:
                if read_commit(cur_path, fs=_fs) is None:
                    manifest_bootstrap(cur_path, "__bucket", fs=_fs)
                # manifest-level pruning: only the touched buckets'
                # committed files enter the file list — per-batch
                # driver cost stays batch-sized however many buckets
                # (and files) the table accretes
                cur_full = read_manifested(spark, cur_path, fs=_fs,
                                           partition_values=touched)
            else:
                recover_table(cur_path, fs=_fs)
                cur_full = spark.read.parquet(cur_path)
            cur = (cur_full
                   .where(F.col("__bucket").isin(touched))
                   .drop("__bucket"))
            vt = cur.schema["valid_from"].dataType
            target = (cur.withColumn("valid_to",
                                     F.lit(None).cast(vt))
                      .withColumn("is_current", F.lit(True)))
        hist = upsert_scd2(target, batch_df, list(keys),
                           effective_col, retroactive="skip")
        # two consumers below: realize the batch-bounded result once
        # (a lost executor here just fails the batch -> epoch replay)
        hist = hist.localCheckpoint(eager=True)
        # 1) closed versions append first (duplicates dedupe on read)
        closed = hist.where(~F.col("is_current")) \
            .withColumn("__epoch", F.lit(int(epoch_id)))
        closed.write.mode("append").parquet(closed_path)
        # 2) current buckets swap (crash between 1 and 2 replays safely)
        cur_new = (hist.where(F.col("is_current"))
                   .drop("valid_to", "is_current")
                   .withColumn("__bucket", bkt))
        overwrite_partitions(spark, cur_path, cur_new, "__bucket",
                             fs=_fs, commit=mode)
        spec_file = os.path.join(cur_path, "_bucket_spec.json")
        if not _fs.exists(spec_file):
            import json
            # atomic per the filesystem (temp+rename on posix/HDFS,
            # one PUT on object stores) so a crash mid-write can't
            # leave a corrupt spec inside the table
            _fs.write_text_atomic(spec_file, json.dumps(_SPEC))

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="scd2_sink_ckpt_")
    return (stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start())


def scd2_bootstrap(spark: SparkSession, table_path: str,
                   snapshot: DataFrame, keys: list,
                   effective_col: str, n_buckets: int = 64,
                   assume_unique: bool = False) -> None:
    """Fast-path SCD-2 bootstrap from an existing snapshot: a history
    whose every key has a SINGLE open version needs no lag/lead — the
    init is scd2_init's narrow projection, so bootstrap costs exactly
    the bucketed WRITE.  The scd2_sink first-batch path instead runs
    upsert_scd2 (a Window.partitionBy(keys) sort over the whole load,
    needed only when one batch can carry several versions of a key);
    for a snapshot load that window does nothing but cost — SCALE.md
    records the measured gap.  Start scd2_sink on the same table_path
    afterwards: the sink adopts the on-disk bucket spec.

    `assume_unique=True` skips the duplicate-key guard (one map-side
    combined agg — cheap next to the write, but skippable when
    uniqueness is guaranteed by construction, e.g. the snapshot is a
    primary-keyed export)."""
    import os

    from ..functions.maintenance import scd2_init, write_bucketed

    if not assume_unique:
        dup = (snapshot.groupBy(*keys)
               .agg(F.count(F.lit(1)).alias("__n"))
               .where(F.col("__n") > 1).limit(1).count())
        if dup:
            raise ValueError(
                "scd2_bootstrap: snapshot carries duplicate keys — a "
                "window-free bootstrap needs one open version per "
                "key; dedupe first (upsert with order_col) or feed "
                "the load through scd2_sink's first-batch path")
    cur = scd2_init(snapshot, effective_col).drop(
        "valid_to", "is_current")
    from ..fsops import get_fs
    get_fs(table_path).mkdirs(table_path)
    write_bucketed(cur, os.path.join(table_path, "current"),
                   list(keys), n_buckets)


def read_scd2(spark: SparkSession, table_path: str,
              keys: list | None = None) -> DataFrame:
    """Read an scd2_sink table back as one SCD-2 history frame
    (keys + attrs + valid_from + valid_to + is_current) — composes
    with maintenance.scd2_asof / scd2_current.  Closed fragments
    dedupe on (keys, valid_from) keeping the newest epoch, so a
    replayed micro-batch's duplicate appends are invisible (the same
    epoch-dedup contract the sketch sinks' readers have; fold the
    fragments down with compact_scd2_closed)."""
    import os

    from ..functions.maintenance import recover_table

    from ..fsops import get_fs
    from ..functions.maintenance import read_commit, read_manifested

    fs = get_fs(table_path)
    cur_path = os.path.join(table_path, "current")
    closed_path = os.path.join(table_path, "closed")
    if read_commit(cur_path, fs=fs) is not None:
        # pointer-commit current table (scd2_sink commit="pointer")
        cur = read_manifested(spark, cur_path, fs=fs).drop("__bucket")
    else:
        recover_table(cur_path, fs=fs)
        cur = spark.read.parquet(cur_path).drop("__bucket")
    vt = cur.schema["valid_from"].dataType
    cur = (cur.withColumn("valid_to", F.lit(None).cast(vt))
           .withColumn("is_current", F.lit(True)))
    if not fs.isdir(closed_path):
        return cur
    if keys is None:
        import json
        keys = json.loads(fs.read_text(
            os.path.join(cur_path, "_bucket_spec.json")))["keys"]
    closed = spark.read.parquet(closed_path)
    attrs = [c for c in closed.columns
             if c not in set(keys) | {"valid_from", "__epoch"}]
    closed = (closed.groupBy(*keys, "valid_from")
              .agg(*[F.max_by(c, "__epoch").alias(c) for c in attrs])
              .select(*cur.columns))
    return cur.unionByName(closed)


def compact_scd2_closed(spark: SparkSession, table_path: str,
                        keys: list | None = None) -> None:
    """Fold the closed-version fragments of an scd2_sink table down to
    one row per (keys, valid_from) — replayed-epoch duplicates drop,
    small files merge — via the crash-safe swap.  Run periodically,
    like the sketch-rollup compactors."""
    import json
    import os

    from ..functions.maintenance import atomic_overwrite, recover_table

    from ..fsops import get_fs

    fs = get_fs(table_path)
    closed_path = os.path.join(table_path, "closed")
    recover_table(closed_path, fs=fs)
    if not fs.isdir(closed_path):
        return
    if keys is None:
        keys = json.loads(fs.read_text(os.path.join(
            table_path, "current", "_bucket_spec.json")))["keys"]
    closed = spark.read.parquet(closed_path)
    attrs = [c for c in closed.columns
             if c not in set(keys) | {"valid_from", "__epoch"}]
    folded = (closed.groupBy(*keys, "valid_from")
              .agg(*[F.max_by(c, "__epoch").alias(c) for c in attrs],
                   F.max("__epoch").alias("__epoch"))
              .select(*closed.columns)
              .localCheckpoint(eager=True))
    atomic_overwrite(
        closed_path,
        lambda p: folded.write.mode("overwrite").parquet(p))
