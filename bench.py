"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _scale_probe_ordered(spark, sf_dir):
    """ungrouped ordered ops over the full lineitem order stream —
    exercises the range-bucketed two-pass machinery
    (operators/ordered.py) at bench scale; not a registry query (the
    registry rotation window is full this round)."""
    from dask_expr_spark.sources.io import read_parquet

    li = (read_parquet(spark, f"{sf_dir}/lineitem.parquet")
          [["l_orderkey", "l_linenumber", "l_extendedprice"]]
          .set_index("l_orderkey"))
    run = li.cumsum(columns=["l_extendedprice"],
                    order_by=["l_orderkey", "l_linenumber"])
    prev = run.shift(columns=["l_extendedprice"], periods=1,
                     order_by=["l_orderkey", "l_linenumber"])
    return prev.to_spark().agg(
        {"l_extendedprice": "sum"})


def _scale_probe_ordered_ckpt(spark, sf_dir):
    """same probe with the one-flag parquet checkpoint on
    (dask_expr_spark.ordered.checkpoint): the bucketed frame is
    spilled once and both two-pass consumers reread it pruned —
    measures the single-scan plan the 100 TB guidance recommends."""
    from dask_expr_spark.operators.ordered import CHECKPOINT_CONF
    spark.conf.set(CHECKPOINT_CONF, "true")
    try:
        return _scale_probe_ordered(spark, sf_dir)
    finally:
        spark.conf.set(CHECKPOINT_CONF, "false")


def _scale_probe_expanding_holistic(spark, sf_dir):
    """ungrouped expanding median over the order stream — exercises the
    bucketed prefix plan (ordered.expanding_holistic) that replaced the
    last global row-stream window in round 3."""
    from dask_expr_spark.sources.io import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_totalprice"]]
    med = o.expanding(order_by="o_orderkey").median(["o_totalprice"])
    return med.to_spark().agg({"o_totalprice_rmedian": "sum"})


def _scale_probe_expanding_approx(spark, sf_dir):
    """the O(bins) APPROXIMATE expanding quantile on the same stream as
    scale_probe_expanding_median — the documented 100 TB alternative the
    exact-path guard (ordered.MAX_EXACT_EXPANDING_CONF) points at;
    benched side-by-side so the trade is measured, not asserted."""
    from dask_expr_spark.sources.io import read_parquet

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_totalprice"]]
    med = o.expanding(order_by="o_orderkey").quantile(
        0.5, ["o_totalprice"], approx=True, bins=256)
    return med.to_spark().agg({"o_totalprice_rq50": "sum"})


def _minhash_pipeline(spark, sf_dir):
    """the production MinHash+LSH candidate pipeline on its own. The
    registry query dedup_minhash_lsh gained a containment oracle in
    round 3 (it now ALSO runs the exact-Jaccard join), so its timing is
    no longer comparable with BENCH_r02; this probe keeps measuring
    what r02's number measured."""
    from dask_expr_spark.functions import dedup as DD
    from dask_expr_spark.sources.io import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    return DD.minhash_dedup_pairs(
        docs, "doc_id", "text", k=3, num_perm=32, bands=8, threshold=0.7
    ).select("id_a", "id_b")


def _ann_lsh_pipeline(spark, sf_dir):
    """production hyperplane-LSH ANN pipeline alone (the registry's
    ann_lsh_bucketed added an exact-top-1 containment oracle in round
    3; this probe stays comparable with BENCH_r02)."""
    from dask_expr_spark.functions import similarity as SIM
    from dask_expr_spark.sources.io import read_parquet
    from pyspark.sql import functions as F

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.lsh_bucketed_topk(
        emb, queries, dim=64, k=5, num_tables=24, planes_per_table=4
    ).select("query_id", "neighbor_id")


def _ann_lsh_auto_pipeline(spark, sf_dir):
    """the PRODUCTION LSH configuration (planes_per_table='auto', the
    round-6 default) — benched on the x10 corpus where auto-sizing is
    what keeps bucket depth constant; _ann_lsh_pipeline above keeps the
    frozen-p sf0.1 number comparable with BENCH_r02."""
    from pyspark.sql import functions as F

    from dask_expr_spark.functions import similarity as SIM
    from dask_expr_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.lsh_bucketed_topk(
        emb, queries, dim=64, k=5, num_tables=24,
        planes_per_table="auto",
    ).select("query_id", "neighbor_id")


def _semantic_dedup_ivf(spark, sf_dir):
    """semantic dedup with IVF (Lloyd) cells — exercises the iterative
    trainer + map-only cell assignment (functions/similarity.py
    _train_ivf_cells/_nearest_cells), which the registry's LSH-cell
    semantic_dedup_kept query never touches (round-5 VERDICT item 7:
    regressions in the Lloyd rounds must surface in bench_diff)."""
    from dask_expr_spark.functions import similarity as SIM
    from dask_expr_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    return SIM.semantic_dedup(
        emb, dim=64, threshold=0.45, method="ivf", num_cells=8,
        lloyd_iters=2).groupBy().count()


def _ann_inline_probe(name):
    """DETAIL-only wrappers for the inline-train ANN registry queries
    (VERDICT r8 item 4): every round they were the only >1.3x bench
    flags and every round the flag adjudicated as k-means training
    jitter (isolated spread 19-32 s on identical code, SCALE.md).  The
    registry keeps them for correctness; the printed line carries the
    persisted steady-state twins (ann_*_persisted); the inline numbers
    keep being measured here so a real regression still lands in
    BENCH_DETAIL.json — without phantom-flagging every bench_diff."""
    def run(spark, sf_dir):
        from dask_expr_spark.queries import collect_queries
        return collect_queries()[name][0](spark, sf_dir)
    return run


def _profile_lineitem(spark, sf_dir):
    """one-pass 16-column profile of lineitem (functions/quality.py
    profile_table, HLL distincts + approx percentiles) — the data-
    quality family's bench anchor; regression here means per-column
    state or the single-agg plan broke."""
    from dask_expr_spark.functions.quality import profile_table

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return profile_table(li, exact_distinct=False)


def _connected_components_star(spark, sf_dir):
    """large-star/small-star components over the MinHash candidate
    pairs — times the O(log n) iterative rounds (functions/dedup.py
    connected_components_star), the scale path for deep chains."""
    from dask_expr_spark.functions import dedup as DD
    from dask_expr_spark.sources.io import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    pairs = DD.minhash_dedup_pairs(
        docs, "doc_id", "text", k=3, num_perm=32, bands=8, threshold=0.7
    ).select("id_a", "id_b")
    return DD.connected_components_star(pairs).groupBy().agg(
        {"comp": "max", "id": "count"})


# ---------------------------------------------------------------------------
# Steady-state ANN entries (round 8, VERDICT r7 item 5): the plain
# ann_pq_topk / ann_ivfpq_topk entries time inline train+encode every
# run, which misrepresents the operator's steady state (the index is
# built once and persisted at 100 TB).  These entries read pre-built
# artifacts (_ensure_ann_artifacts, untimed, cached per boot) and
# measure ONLY the probe+gather cost.  They print in the main bench
# line (not probes) so BENCH_r{N} records them.
# ---------------------------------------------------------------------------


def _ann_cache_dir(sf_dir: str) -> str:
    return os.path.join(sf_dir, "_ann_cache")


def _corpus_fingerprint(sf_dir: str) -> str:
    """cheap identity of the embeddings corpus the index was built
    from: per-file (name, size, mtime).  _ensure_x10 regenerates the
    corpus whenever the replica dir is cleared, and a stale persisted
    index would silently misreport the steady-state entries (ADVICE
    r8) — the _DONE marker stores this and mismatches force a
    rebuild."""
    import glob
    import hashlib

    h = hashlib.sha256()
    root = os.path.join(sf_dir, "embeddings.parquet")
    for fp in sorted(glob.glob(os.path.join(root, "*.parquet"))
                     or ([root] if os.path.isfile(root) else [])):
        st = os.stat(fp)
        h.update(f"{os.path.basename(fp)}:{st.st_size}:"
                 f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _ensure_ann_artifacts(spark, sf_dir: str) -> None:
    """train + encode once per corpus generation (untimed): PQ
    codebook (npy), PQ codes, IVF centroids, and the coded-cells
    index.  The _DONE marker is keyed on the corpus fingerprint, so a
    regenerated x10 corpus invalidates the cache instead of serving a
    stale index."""
    import numpy as np
    import shutil

    from dask_expr_spark.functions import similarity as SIM
    from pyspark.sql import functions as F

    cache = _ann_cache_dir(sf_dir)
    done = os.path.join(cache, "_DONE")
    fp = _corpus_fingerprint(sf_dir)
    if os.path.exists(done):
        with open(done) as f:
            if f.read().strip() == fp:
                return
        shutil.rmtree(cache, ignore_errors=True)   # stale: rebuild
    os.makedirs(cache, exist_ok=True)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cb = np.asarray(SIM.pq_train(emb, 64, m=16))
    np.save(os.path.join(cache, "pq_codebook.npy"), cb)
    SIM.pq_encode(emb, cb).write.mode("overwrite") \
        .parquet(os.path.join(cache, "pq_codes.parquet"))
    vv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    SIM.as_double(F.col("embedding")).alias("__vv"))
    cents = SIM._train_ivf_cells(vv, "neighbor_id", "__vv", 16, 1)
    cents.write.mode("overwrite") \
        .parquet(os.path.join(cache, "ivf_centroids.parquet"))
    v_cells = SIM._nearest_cells(vv, cents, "neighbor_id", "__vv", 1)
    (SIM.pq_encode(v_cells.select("neighbor_id", "cell",
                                  F.col("__vv").alias("__v")),
                   cb, id_col="neighbor_id", vec_col="__v")
     .join(v_cells.select("neighbor_id", "cell"), "neighbor_id")
     .select(F.col("neighbor_id").alias("vec_id"), "pq_code", "cell")
     .write.mode("overwrite")
     .parquet(os.path.join(cache, "ivfpq_coded_cells.parquet")))
    with open(done, "w") as f:
        f.write(fp)


def _ann_pq_topk_persisted(spark, sf_dir):
    """PQ/ADC retrieval against the persisted codebook+codes — the
    steady-state scan-only cost (train+encode untimed)."""
    import numpy as np

    from dask_expr_spark.functions import similarity as SIM
    from pyspark.sql import functions as F

    cache = _ann_cache_dir(sf_dir)
    cb = np.load(os.path.join(cache, "pq_codebook.npy"))
    codes = spark.read.parquet(os.path.join(cache, "pq_codes.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.pq_topk(emb, queries, dim=64, k=5, m=16,
                       codebook=cb, codes=codes) \
        .select("query_id", "neighbor_id")


def _ann_ivfpq_topk_persisted(spark, sf_dir):
    """IVF-PQ against the persisted centroids+coded-cells index —
    probe + m-byte gather only (train/encode untimed)."""
    import numpy as np

    from dask_expr_spark.functions import similarity as SIM
    from pyspark.sql import functions as F

    cache = _ann_cache_dir(sf_dir)
    cb = np.load(os.path.join(cache, "pq_codebook.npy"))
    cents = spark.read.parquet(
        os.path.join(cache, "ivf_centroids.parquet"))
    coded = spark.read.parquet(
        os.path.join(cache, "ivfpq_coded_cells.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.ivfpq_topk(emb, queries, dim=64, k=5, m=16,
                          codebook=cb, coded_cells=coded,
                          centroids=cents) \
        .select("query_id", "neighbor_id")


class Entry(NamedTuple):
    """One row of the bench plan (see ENTRIES)."""
    fn: Callable | None = None   # None: the registry query of this name
    corpus: str = "sf"           # "sf" | "x10" | "x100"
    action: str = "collect"      # "collect" | "noop"
    probe: bool = False          # BENCH_DETAIL.json only, not the line


# ---------------------------------------------------------------------------
# The bench plan: every timed entry, in run order.
#
# corpus: "sf" runs on $SPARK_GRAFT_SF_DIR itself (median of REPEATS).
#   "x10"/"x100" run on a key-offset replica universe (_ensure_x10 /
#   _ensure_x100, median of 3) and print as name + "_x10"/"_x100", so
#   bench_diff never compares them with sf0.1 numbers.  Measured
#   cross-boot host noise is ±50% on sub-second entries (SCALE.md), so
#   entries whose sf0.1 median ran under 2 s ride x10, and the ones
#   x10 still left sub-second (0.47-0.95 s) ride x100.  Kept on sf
#   although fast: semantic_dedup_kept (its 4-cell geometry goes
#   quadratic within cells at x10; semantic_dedup_ivf covers the
#   family) and ann_lsh_pipeline (frozen planes, comparable with
#   BENCH_r02; ann_lsh_auto_pipeline is the x10 LSH entry).
# action: "collect" for small aggregates.  "noop" writes to the noop
#   sink, which computes every column of every row and keeps none: the
#   two entries with large results (r11: scd2_history_orders 1.79M rows
#   at x100, cdc_between_snapshots 345k at x10) spent more time building
#   Row objects on the driver than computing (OPTIMIZATION_r11.md).
# probe: timed and kept in BENCH_DETAIL.json, never on the printed line.
# ---------------------------------------------------------------------------
_SF, _X10, _X100 = Entry(), Entry(corpus="x10"), Entry(corpus="x100")

ENTRIES: dict[str, Entry] = {
    "q1_pricing_summary": _X10,
    "q3_shipping_priority": _X10,
    "q5_revenue_by_nation": _X10,
    "q6_forecast_revenue": _X100,
    "join_broadcast_part": _X10,
    "join_semi": _X10,
    "window_user_sessions": _X10,
    "asof_purchase_click": _X10,
    "resample_hourly": _X100,
    "dedup_exact_docs": _X100,
    "dedup_ngram_jaccard": _SF,
    "text_stats_by_lang": _X100,
    "text_token_frequencies": _X100,
    "ann_cosine_topk": _X10,
    "text_lm_perplexity": _X10,
    "text_bm25_search": _X10,
    "semantic_dedup_kept": _SF,
    "dedup_substring_spans": _SF,
    "q2_min_cost_supplier": _X10,
    "q11_important_stock": _X100,
    "q20_potential_promotion": _X10,
    "heavy_hitter_tokens": _X10,
    "hll_rollup_users": _X10,
    "hist_rollup_price_quantiles": _X10,
    "sample_weighted_orders": _X100,
    "dedup_incremental_minhash": _SF,
    "dedup_exact_incremental": _X100,
    "sample_n_per_group_orders": _X100,
    "drift_price_psi": _X100,
    "cms_custkey_counts": _X100,
    "kmv_distinct_slices": _X100,
    "dedup_bloom_incremental": _X100,
    "upsert_orders_scd1": _X100,
    "ann_mmr_rerank": _X10,
    "cms_join_cardinality": _X100,
    "diff_after_upsert": _X100,
    "profile_from_rollups_orders": _X100,
    "upsert_bucketed_roundtrip": _X10,
    "snapshot_time_travel": _X10,
    "scd2_history_orders": Entry(corpus="x100", action="noop"),
    "cdc_between_snapshots": Entry(corpus="x10", action="noop"),
    "zonemap_skipping_dates": _X10,
    "split_temporal_events": _X100,
    "zonemap_zorder_trailing": _X10,
    "cdc_apply_roundtrip": _X10,
    "upsert_pointer_roundtrip": _X10,
    "zonemap_snapshot_version": _X10,
    "delete_where_orders": _X10,
    "manifest_sharded_upsert": _X10,
    "zonemap_after_delete": _X10,
    "multicol_pointer_upsert": _X10,
    "disjoint_rebase_upsert": _X10,
    "pointer_time_travel": _X10,
    "cdc_between_generations": _X10,
    "upsert_pointer_bloom": _X10,
    "ann_pq_topk_persisted": Entry(_ann_pq_topk_persisted, "x10"),
    "ann_ivfpq_topk_persisted": Entry(_ann_ivfpq_topk_persisted, "x10"),
    "scale_probe_ordered_cumsum_shift":
        Entry(_scale_probe_ordered, probe=True),
    "scale_probe_ordered_ckpt": Entry(_scale_probe_ordered_ckpt, probe=True),
    "scale_probe_expanding_median":
        Entry(_scale_probe_expanding_holistic, "x10", probe=True),
    "scale_probe_expanding_approx":
        Entry(_scale_probe_expanding_approx, probe=True),
    "dedup_minhash_pipeline": Entry(_minhash_pipeline, probe=True),
    "ann_lsh_pipeline": Entry(_ann_lsh_pipeline, probe=True),
    "ann_lsh_auto_pipeline": Entry(_ann_lsh_auto_pipeline, "x10", probe=True),
    "semantic_dedup_ivf": Entry(_semantic_dedup_ivf, probe=True),
    "components_star_pipeline":
        Entry(_connected_components_star, probe=True),
    "profile_lineitem": Entry(_profile_lineitem, probe=True),
    "ann_pq_topk_inline":
        Entry(_ann_inline_probe("ann_pq_topk"), "x10", probe=True),
    "ann_pq_rerank_inline":
        Entry(_ann_inline_probe("ann_pq_rerank"), "x10", probe=True),
    "ann_ivfpq_topk_inline":
        Entry(_ann_inline_probe("ann_ivfpq_topk"), "x10", probe=True),
}

# median of REPEATS on the sf corpus; the multi-second replica entries
# take a median of 3 (scheduling jitter is under 10% there).  5 since
# round 4: median-of-3 still let one slow run shift the middle on a
# shared host (phantom 1.3-1.5x movers on sub-second queries)
REPEATS = 5
# a fresh JVM every RECYCLE_EVERY entries, so no entry runs in an aged
# one (in-session JVM aging inflated later entries 1.3-3x, r5-r9)
RECYCLE_EVERY = 10


def resolve(name: str, registry) -> tuple[Callable, Entry]:
    """(fn, entry) for a bench entry name without its corpus suffix.
    A registry query outside ENTRIES resolves to the plain sf corpus
    with a collect."""
    e = ENTRIES.get(name, _SF)
    if e.fn is None and name not in registry:
        raise KeyError(f"unknown bench entry {name}")
    return e.fn or registry[name][0], e


def run_action(df, action: str) -> None:
    """An entry's timed action on its built DataFrame: collect, so
    nothing short-circuits, or the noop sink (see ENTRIES)."""
    if action == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        df.collect()


def plan(registry) -> list[tuple[str, Callable, Entry, int]]:
    """(printed name, fn, entry, reps) for every entry, in run order."""
    out = []
    for name in ENTRIES:
        fn, e = resolve(name, registry)
        printed = name if e.corpus == "sf" else f"{name}_{e.corpus}"
        out.append((printed, fn, e, REPEATS if e.corpus == "sf" else 3))
    return out


# ---------------------------------------------------------------------------
# Replica universes for the x10/x100 corpora: every fact table is
# replicated with CONSISTENT foreign-key offsets so joins keep their
# selectivity; the dims nation/region are shared.  x100 replicates
# everything but embeddings (the vector entries are bound by their
# cosine workload, not the corpus scan).
# ---------------------------------------------------------------------------
X10_OFF = 1_000_000_000
X10_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
X10_COPY = ["nation", "region"]

X100_TABLES = [t for t in X10_KEYS if t != "embeddings"]


def _replicate(base, name: str, keys: list, replicas: int):
    """one-scan replication: explode a 0..replicas-1 sequence, stride
    every key column by replica*OFF (foreign keys stay consistent),
    marker-token documents / perturb embeddings so near-dup and ANN
    structure stays realistic instead of collapsing to exact dups."""
    from pyspark.sql import functions as F

    # repartition BEFORE the explode: a small sf0.1 parquet reads as
    # 1-2 partitions, and exploding x100 inside one task serializes
    # the whole materialization
    r = base.repartition(32).withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
    for k in keys:
        r = r.withColumn(k, F.col(k) + F.col("__r").cast("long")
                         * F.lit(X10_OFF))
    if name == "documents":
        r = r.withColumn(
            "text",
            F.when(F.col("__r") > 0,
                   F.concat(F.lit("replica"), F.col("__r").cast("string"),
                            F.lit(" "), F.col("text")))
            .otherwise(F.col("text")))
    if name == "embeddings":
        r = r.withColumn(
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda x, j: x + F.col("__r").cast("double") * F.lit(1e-3)
                * F.cos(j.cast("double") + F.col("__r").cast("double"))))
    return r.drop("__r")


def _ensure_replica(spark, sf_dir: str, dst: str, replicas: int,
                    tables: list) -> str:
    """materialize a replica universe once per boot (untimed)."""
    import glob

    os.makedirs(dst, exist_ok=True)
    for name in X10_COPY:
        out = os.path.join(dst, f"{name}.parquet")
        if not glob.glob(os.path.join(out, "*.parquet")) and not (
                os.path.isfile(out)):
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")) \
                .write.mode("overwrite").parquet(out)
    for name in tables:
        keys = X10_KEYS[name]
        out = os.path.join(dst, f"{name}.parquet")
        if glob.glob(os.path.join(out, "*.parquet")) or os.path.isfile(out):
            continue
        base = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        _replicate(base, name, keys, replicas) \
            .repartition(32).write.mode("overwrite").parquet(out)
    return dst


def _ensure_x10(spark, sf_dir: str) -> str:
    return _ensure_replica(
        spark, sf_dir,
        os.environ.get("SPARK_GRAFT_BENCH_X10_DIR", "/tmp/dx_bench_x10"),
        10, list(X10_KEYS))


def _ensure_x100(spark, sf_dir: str) -> str:
    return _ensure_replica(
        spark, sf_dir,
        os.environ.get("SPARK_GRAFT_BENCH_X100_DIR", "/tmp/dx_bench_x100"),
        100, X100_TABLES)


def _warm_session(spark, registry) -> None:
    """JVM/codegen warmup on the smallest SF so timings measure the
    query, not session startup — run once per (re)started session.

    Covers BOTH sides of the engine: the read/agg path (q1) and the
    write/maintenance machinery (partitioned parquet write, pointer
    commit + claim, snapshot CAS, bloom index/probe/merge, sort-merge
    join, window, localCheckpoint).  Rationale (OPTIMIZATION_r10.md,
    guide §1): phase-profiling showed every first touch of the write
    path in a fresh JVM runs 2-3x slower than steady state (JIT +
    codegen compilation), and with per-cohort JVM recycling the first
    entry after every recycle was sampling that compilation cost, not
    the query (cdc_between_snapshots: 8.7-12.2 s as cohort-first in
    driver-shape runs vs 4.6 s isolated-warm on identical code)."""
    import shutil
    import tempfile

    registry["q1_pricing_summary"][0](spark, "/root/testdata/sf0.001").collect()
    # spawn the Python/Arrow UDF worker pool once (local[N] forks N
    # workers on first pandas-UDF use; they're reused afterwards) so
    # the first UDF-bearing query isn't charged for pool startup
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _warm(s):
        return s * 1.0

    spark.range(0, 1024, 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32"))) \
        .select(_warm(F.col("id").cast("double"))).collect()

    from dask_expr_spark.functions import maintenance as M

    tmp = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        path = os.path.join(tmp, "t")
        bloom = os.path.join(tmp, "bloom")
        # partitioned write (dynamic-partition writer + rebalance/AQE)
        (o.hint("rebalance", "o_orderpriority").write.mode("overwrite")
         .partitionBy("o_orderpriority").parquet(path))
        M.manifest_bootstrap(path, "o_orderpriority")
        upd = (o.where(F.col("o_orderkey") % 7 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") + 1.0))
        # first guarded upsert bootstraps the bloom (snapshot CAS +
        # bloom_index build); second exercises probe + merge + append
        for _ in range(2):
            M.upsert_partitioned(spark, path, upd, ["o_orderkey"],
                                 "o_orderpriority", commit="pointer",
                                 key_bloom_path=bloom)
        M.read_manifested(spark, path).groupBy("o_orderstatus") \
            .agg(F.count(F.lit(1))).collect()
        M.vacuum_manifested(path, keep_claims=1)
        # sort-merge join codegen (sf0.001 would broadcast otherwise)
        th = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            (o.select("o_orderkey", "o_custkey")
             .join(o.select("o_orderkey", "o_totalprice"), "o_orderkey")
             .groupBy().count().collect())
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", th)
        # window + local checkpoint paths
        from pyspark.sql import Window
        w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
        (o.withColumn("__rn", F.row_number().over(w))
         .where(F.col("__rn") <= 3).localCheckpoint(eager=True)
         .count())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _resolved_local_dir() -> str:
    from dask_expr_spark.session import _local_dir
    return _local_dir() or "<spark-default>"


def _foreign_java_cpu() -> tuple[int, float]:
    """(count, cumulative CPU seconds) of java processes that are NOT
    descendants of this bench process.  Observability for the round-10
    first-cohort adjudication (VERDICT r10 items 1/8): a stray JVM
    left behind by an earlier harness step (e.g. a test run killed at
    its time budget — the r10 pytest run was truncated with no clean
    shutdown) competes with the first bench cohort for cores and then
    dies, producing exactly the "slow cohort 1, plans unchanged, fast
    at 8 cores later" signature.  Recording the foreign-JVM CPU delta
    per entry lets the next adjudication separate session position
    from host contamination.  /proc scan, ~ms, never raises."""
    me = os.getpid()
    tck = float(os.sysconf("SC_CLK_TCK") or 100)
    count, jiffies = 0, 0
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return (0, 0.0)
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            # ancestry walk: skip JVMs we own (our session + recycler)
            cur, ours = int(p), False
            for _ in range(64):
                if cur == me:
                    ours = True
                    break
                if cur <= 1:
                    break
                with open(f"/proc/{cur}/stat") as fh:
                    st = fh.read()
                cur = int(st[st.rindex(")") + 2:].split()[1])
            if ours:
                continue
            with open(f"/proc/{p}/stat") as fh:
                st = fh.read()
            rest = st[st.rindex(")") + 2:].split()
            jiffies += int(rest[11]) + int(rest[12])  # utime + stime
            count += 1
        except (OSError, ValueError, IndexError):
            continue
    return (count, jiffies / tck)


def _recycle_session(spark):
    """Replace the bench session with one in a FRESH JVM (VERDICT r9
    item 4): five straight rounds spent adjudication effort on driver
    flags that vanished in isolated re-runs — in-session JVM aging
    (old-gen garbage, fragmented heap) inflates later entries 1.3-3x.
    A plain spark.stop()+getOrCreate reuses the py4j gateway JVM, so
    the aging survives; shutting the gateway down forces a new JVM and
    every entry cohort runs young by construction."""
    from pyspark import SparkContext

    from dask_expr_spark.session import get_spark

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        # shutdown() alone leaves the JVM process alive (and burning
        # CPU on its dead py4j server loop): the round-10 baseline run
        # accumulated SEVEN live JVMs holding 6-14 GB RSS each and
        # ~300% CPU apiece, which inflated every co-running entry.
        # Kill the process explicitly — gateway.proc is the Popen
        # pyspark's launch_gateway attaches.
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.terminate()
                proc.wait(timeout=30)
            except Exception:
                try:
                    proc.kill()
                except Exception:
                    pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    return get_spark("dask_expr_spark_bench")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # tmpfs shuffle scratch is opt-in at the library level (ADVICE r10:
    # RAM-backed spill is the wrong default for arbitrary hosts).  The
    # BENCH opts in explicitly: this box's /tmp volume sustains
    # ~333 MB/s and collapses under writeback (OPTIMIZATION_r10.md O13
    # A/B: 150M-row full-outer diff 24.6 s → 4.7-6.1 s on tmpfs), the
    # bench's shuffles peak far below the 16 GiB capacity gate, and the
    # resolved dir is recorded in BENCH_DETAIL.json.  An explicit
    # SPARK_GRAFT_LOCAL_DIR still wins (session._local_dir).
    os.environ.setdefault("SPARK_GRAFT_TMPFS_SCRATCH", "1")
    from dask_expr_spark.queries import collect_queries
    from dask_expr_spark.session import get_spark

    spark = get_spark("dask_expr_spark_bench")
    registry = collect_queries()
    runnables = plan(registry)

    # no warmup here: this first session only does UNTIMED setup work
    # (replica builds, ANN artifacts) and is recycled before entry 1 —
    # the timed cohorts each get a fresh JVM + _warm_session below
    x10_dir = _ensure_x10(spark, sf_dir)
    x100_dir = _ensure_x100(spark, sf_dir)
    _ensure_ann_artifacts(spark, x10_dir)     # untimed index build
    dirs = {"sf": sf_dir, "x10": x10_dir, "x100": x100_dir}
    # Cohort-1 symmetry (VERDICT r10 item 1): the untimed setup above
    # (replica materialization, ANN index training, warmup) ages the
    # initial JVM in exactly the way the per-cohort recycler exists to
    # prevent — cohorts 2+ always start in a fresh warmed JVM, while
    # cohort 1 used to start in the JVM that had just built ~2 GB of
    # replica corpora.  Measured r11 A/B (driver shape, 32 cores, first
    # 10 entries): 14.86 s total when the replicas were built in the
    # same JVM vs 9.12 s when they were cached — q3 4.19→2.29, q5
    # 2.67→1.47, resample 1.29→0.86 — so entry 1 now gets the same
    # fresh JVM every other cohort gets.
    spark = _recycle_session(spark)
    _warm_session(spark, registry)
    timings: dict[str, float] = {}
    detail_entries: dict[str, dict] = {}
    since_recycle = 0
    cohort, pos = 1, 0
    fj_start_n, fj_cpu_prev = _foreign_java_cpu()
    for name, fn, e, reps in runnables:
        qdir = dirs[e.corpus]
        if since_recycle >= RECYCLE_EVERY:
            spark = _recycle_session(spark)
            _warm_session(spark, registry)
            since_recycle = 0
            cohort += 1
            pos = 0
        since_recycle += 1
        pos += 1
        # drop caches left by previous queries (dedup/LSH ops cache
        # reused frames) so queries are measured in isolation, and ask
        # for a full GC OUTSIDE the timed section — after ~30 queries
        # in one JVM, accumulated garbage charged 1.5-2x inflation to
        # whichever query happened to trigger the collection (round-4
        # isolated-session runs measured dedup_substring_spans 7.3 s
        # vs 13.4 s inside an aged bench session)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        # flush deferred writeback OUTSIDE the timed section: the
        # write-heavy composites leave hundreds of MB of dirty pages
        # behind, and on this box's ~333 MB/s volume the kernel's
        # flusher then throttles the NEXT entries' writes — measured
        # as multi-entry slowdown clusters in driver-shape runs
        # (zonemap cohort 6.1 -> 16.9 s on identical code).  Each
        # entry still pays for its own I/O; it just stops paying for
        # its predecessor's.
        os.sync()
        raw = []   # execution order, kept for BENCH_DETAIL adjudication
        for _ in range(reps):
            t0 = time.perf_counter()
            run_action(fn(spark, qdir), e.action)
            raw.append(time.perf_counter() - t0)
        # adaptive top-up: entries that are genuinely fast even on the
        # x100 corpus (pruned columnar scans of 60M rows run ~0.5 s on
        # 32 cores) get extra repeats instead of yet-more data — a
        # median-of-7 over a 0.5 s query is cheap and tightens the
        # sub-second jitter the r5 noise analysis measured
        if sorted(raw)[len(raw) // 2] < 2.0:
            for _ in range(max(0, 7 - reps)):
                t0 = time.perf_counter()
                run_action(fn(spark, qdir), e.action)
                raw.append(time.perf_counter() - t0)
        # unstable-spread top-up (round 10): host/JVM noise bursts are
        # ONE-SIDED (they only ever slow a rep down), and with 3 reps a
        # burst spanning two of them shifts the median 2-4x on
        # identical code (five rounds of adjudicated phantom flags).
        # When the spread says the sample is contaminated, two more
        # reps pull the median back toward steady state; quiet entries
        # never pay.  Both medians and the raw rep vector go to
        # BENCH_DETAIL (ADVICE r10: a genuinely bimodal regression has
        # this spread signature too — the record lets adjudication
        # tell the two apart instead of discarding the slow reps).
        runs = sorted(raw)
        med_pre = runs[len(runs) // 2]
        topped = 0
        if med_pre >= 2.0 and (runs[-1] - runs[0]) > 0.4 * med_pre:
            for _ in range(2):
                t0 = time.perf_counter()
                run_action(fn(spark, qdir), e.action)
                raw.append(time.perf_counter() - t0)
            topped = 2
        runs = sorted(raw)
        timings[name] = round(runs[len(runs) // 2], 4)
        fj_n, fj_cpu = _foreign_java_cpu()
        detail_entries[name] = {
            "median": timings[name],
            "median_pre_topup": round(med_pre, 4),
            "topped_up": topped,
            "reps": [round(r, 3) for r in raw],
            "cohort": cohort,
            "pos_in_cohort": pos,
            "foreign_jvm_cpu_s": round(fj_cpu - fj_cpu_prev, 2),
            "foreign_jvms": fj_n,
            "corpus": e.corpus,
            "action": e.action,
        }
        fj_cpu_prev = fj_cpu

    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # The driver records only the last 2,000 chars of stdout; round 7's
    # line outgrew that (56 entries at 4-decimal precision) and the
    # official record lost its parsed totals.  The printed line now
    # carries ONLY registry entries at 2-decimal precision with compact
    # separators, and the full-precision record (registry + local
    # probes + corpus dirs) goes to BENCH_DETAIL.json next to bench.py.
    probe_names = {n for n, _fn, e, _reps in runnables if e.probe}
    queries = {n: v for n, v in timings.items() if n not in probe_names}
    probes = {n: v for n, v in timings.items() if n in probe_names}
    line_q = {n: round(v, 2) for n, v in queries.items()}
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_query_wall_time_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": queries,
                "probes": probes,
                "sf": sf_val,
                "repeats": REPEATS,
                "x10_dir": x10_dir,
                "x100_dir": x100_dir,
                # which shuffle scratch this run actually used (VERDICT
                # r10 item 9) + foreign-JVM contamination trace (item 8)
                "local_dir": _resolved_local_dir(),
                "foreign_jvms_at_start": fj_start_n,
                "entries": detail_entries,
            }, fh, indent=1)
    payload = {
        "metric": "headline_query_wall_time_total",
        "value": round(sum(line_q.values()), 2),
        "unit": "sec",
        "queries": line_q,
        "sf": sf_val,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces for future growth
        payload["queries"] = {n: round(v, 1) for n, v in line_q.items()}
        line = json.dumps(payload, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
