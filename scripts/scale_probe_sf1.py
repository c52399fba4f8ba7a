"""sf1 scale spot-check (VERDICT r3 item 7): replicate sf0.1 ~10x into
/tmp and time the nonlinear-risk queries at both scales, reporting the
wall-time ratio vs the replication factor ("x linear").

Replication is key-shifted and content-perturbed so candidate structure
scales LINEARLY, the way a larger corpus actually would:

- relational tables: keys shifted by a per-replica stride (join/group
  cardinality scales 10x, key distribution preserved per slice);
- documents: every token of replica r>0 gets an ``_r`` suffix, giving
  each replica a disjoint shingle vocabulary — near-dup groups replicate
  per-slice instead of forming 10-copy cliques (a verbatim 10x copy
  would grow candidate PAIRS 45x and measure the data generator, not
  the engine);
- embeddings: replica vectors are deterministically rotated
  (index+id-seeded cosine offsets) so LSH buckets don't collapse into
  10x-deep piles with 100x pair blowup.

Everything is JVM-side column expressions; the build itself is a bench
of the engine's write path.  Usage:

    python scripts/scale_probe_sf1.py            # build (if absent) + probe
    SPARK_GRAFT_PROBE_REPLICAS=10 ...            # replication factor
    SPARK_GRAFT_PROBE_REBUILD=1 ...              # force rebuild
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
R = int(os.environ.get("SPARK_GRAFT_PROBE_REPLICAS", "10"))
PROBE_DIR = os.environ.get(
    "SPARK_GRAFT_PROBE_DIR", f"/tmp/spark_graft_sfprobe_x{R}")
STRIDE = 100_000_000  # > any key in sf0.1..sf1


def _replicate(spark, table: str, key_shifts: dict[str, int], extra=None):
    src = spark.read.parquet(f"{BASE}/{table}.parquet")
    reps = spark.range(R).withColumnRenamed("id", "__r")
    # spread the UNEXPANDED source across the cores first (a tiny
    # shuffle of the base rows), then expand map-only and write
    # straight out — a post-expansion repartition would push the full
    # R× row set through a shuffle sourced from however few splits the
    # base parquet has (at R=1000 that was 60 GB through 3 straggling
    # tasks). Same rule as production: never shuffle what you just
    # fanned out.
    n_out = 32 if R <= 20 else 64
    df = src.repartition(n_out).crossJoin(F.broadcast(reps))
    for col, stride in key_shifts.items():
        df = df.withColumn(col, (F.col(col) + F.col("__r") * stride).cast("long"))
    if extra is not None:
        df = extra(df)
    df = df.drop("__r").select(*src.columns)
    out = f"{PROBE_DIR}/{table}.parquet"
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def _perturb_documents(df):
    # replica 0 keeps the original text; replicas r>0 suffix every token
    # with _r so shingle vocabularies are disjoint across replicas.
    remapped = F.array_join(
        F.transform(F.split(F.col("text"), " "),
                    lambda x: F.concat(x, F.lit("_"), F.col("__r"))), " ")
    txt = F.when(F.col("__r") == 0, F.col("text")).otherwise(remapped)
    return (df.withColumn("text", txt)
              .withColumn("n_chars", F.length("text")))


def _perturb_embeddings(df):
    # per-replica SIGNED PERMUTATION of the dimensions — an orthogonal
    # transform, so every WITHIN-replica pairwise cosine is preserved
    # EXACTLY (the base corpus's near-dup structure replicates per
    # slice) while cross-replica pairs decorrelate to ~0 cosine. The
    # earlier additive 0.05-rotation left the R copies of each base
    # vector mutually near-dup: at R=1000 every vector sat in a
    # 1000-deep TRUE-duplicate clique, the genuine pair count grew
    # ~R² (any correct engine must emit them all), and the ×1000
    # semantic-dedup probe measured the generator, not the engine.
    # a_r odd ⇒ i ↦ (i·a+b) mod dim is a bijection.
    dim = 64
    a = (F.col("__r") % 31) * 2 + 1
    b = F.col("__r") % dim
    pert = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.when(((F.col("__r") * 2654435761 + i * 40503) % 7) < 3,
                   F.lit(-1.0)).otherwise(F.lit(1.0))
            * F.element_at(F.col("embedding"),
                           ((i * a + b) % dim).cast("int") + 1)
        ).cast("float"))
    vec = F.when(F.col("__r") == 0, F.col("embedding")).otherwise(pert)
    return df.withColumn("embedding", vec)


def build(spark) -> dict[str, int]:
    counts = {}
    # o_custkey is NOT shifted: the customer dim is copied unscaled, so
    # replicated orders must keep valid FKs (each customer simply owns
    # R x orders — the "facts grow faster than dims" shape). Shifting
    # it orphaned 90% of orders at the first join and understated the
    # relational probe ratios (round-4 review finding).
    counts["lineitem"] = _replicate(spark, "lineitem", {"l_orderkey": STRIDE})
    counts["orders"] = _replicate(spark, "orders", {"o_orderkey": STRIDE})
    counts["events"] = _replicate(
        spark, "events", {"event_id": STRIDE, "user_id": 10_000_000})
    counts["documents"] = _replicate(
        spark, "documents", {"doc_id": 10_000_000}, extra=_perturb_documents)
    counts["embeddings"] = _replicate(
        spark, "embeddings", {"vec_id": 10_000_000}, extra=_perturb_embeddings)
    # dims copied UNSCALED (facts grow faster than dims in practice) so
    # the relational queries (q1/q3/q5/q9 probes) run against this dir
    import shutil
    for t in ("region", "nation", "customer", "supplier", "part"):
        src, dst = f"{BASE}/{t}.parquet", f"{PROBE_DIR}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy(src, dst)
    return counts


def main() -> None:
    from dask_expr_spark.queries import collect_queries
    from dask_expr_spark.session import get_spark
    import bench

    spark = get_spark("dask_expr_spark_sf1_probe")
    if os.environ.get("SPARK_GRAFT_PROBE_REBUILD") or not os.path.isdir(PROBE_DIR):
        t0 = time.perf_counter()
        counts = build(spark)
        print(f"built {PROBE_DIR} in {time.perf_counter()-t0:.1f}s: {counts}",
              file=sys.stderr)

    registry = collect_queries()

    import math

    # the documented scale contract: cells sized to the corpus
    # (~constant vectors/cell at BOTH points), so the within-cell /
    # within-bucket pair stage stays bounded while cell COUNT absorbs
    # growth.  planes: +log2(R) hyperplanes at the probe scale
    # (R=10 -> 3+3=6, matching the original x10 probe; R=100 -> 10).
    probe_planes = 3 + int(round(math.log2(R)))
    probe_cells = max(16, int(16 * R * 0.4))  # R=10 -> 64 (original x10)

    def _semantic_dedup(spark, d):
        # resolver="star" at BOTH scales: at ×1000 the duplicate graph
        # picks up rare cross-replica edges that chain components past
        # labelprop's diameter guard (which correctly REFUSED rather
        # than emit wrong labels) — large-star/small-star is the
        # documented deep-chain path and keeps base/probe comparable.
        from dask_expr_spark.functions import similarity as SIM
        planes = probe_planes if d == PROBE_DIR else 3
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        return SIM.semantic_dedup(
            emb, dim=64, threshold=0.45, method="lsh", num_planes=planes,
            seed=7, resolver="star").groupBy().count()

    def _substring_spans(spark, d):
        from dask_expr_spark.functions import dedup as DD
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return (DD.duplicated_spans(docs, "doc_id", "text", k=12)
                .agg({"dup_tokens": "sum"}))

    def _lsh_ann_sized(spark, d):
        # the documented LSH sizing contract: planes_per_table="auto"
        # keeps expected bucket depth ~target_bucket_rows at any corpus
        # size (one count() job).  The fixed-planes ann_lsh_pipeline
        # probe stays in the table as the measured superlinearity trap.
        from dask_expr_spark.functions import similarity as SIM
        from pyspark.sql import functions as F2
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        queries = emb.filter(F2.col("vec_id") % 100 == 0)
        return SIM.lsh_bucketed_topk(
            emb, queries, dim=64, k=5, num_tables=24,
            planes_per_table="auto").select("query_id", "neighbor_id")

    def _ivf_ann(spark, d):
        # cells sized to corpus (like the semantic-dedup probe)
        from dask_expr_spark.functions import similarity as SIM
        from pyspark.sql import functions as F2
        cells = probe_cells if d == PROBE_DIR else 16
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        queries = emb.filter(F2.col("vec_id") % 100 == 0)
        return SIM.ivf_topk(emb, queries, dim=64, k=5, num_cells=cells,
                            nprobe=4).select("query_id", "neighbor_id")

    def _incremental_dedup(spark, d):
        # the PIPELINE only (index build + batch-vs-index candidates +
        # signature verify), not the exact-Jaccard containment oracle
        # the registry query adds for correctness checking
        from pyspark.sql import functions as F2

        from dask_expr_spark.functions import dedup as DD
        docs = spark.read.parquet(f"{d}/documents.parquet")
        old = docs.where(F2.col("doc_id") % 10 != 0)
        new = docs.where(F2.col("doc_id") % 10 == 0)
        ib, isg = DD.minhash_index(old, "doc_id", "text", k=3,
                                   num_perm=32, bands=8)
        return DD.minhash_dedup_against(
            new, ib, isg, "doc_id", "text", k=3, num_perm=32, bands=8,
            threshold=0.7).select("id_new", "id_index")

    def _simhash_pipeline(spark, d):
        # FROZEN 16-bit chunk keys — the measured superlinearity trap
        # (birthday collisions past ~1e5 docs); aggregate to a count so
        # the blown-up candidate set doesn't also blow up the driver
        from dask_expr_spark.functions import dedup as DD
        from pyspark.sql import functions as F2
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return (DD.simhash_bucket_pairs(docs, "doc_id", "text")
                .where(F2.col("hamming") <= 3).groupBy().count())

    def _simhash_blocks(spark, d):
        # the documented sizing contract: Manku blocks=6 (20 tables of
        # ~32-bit keys) — same Hamming<=3 guarantee, collision-free keys
        from dask_expr_spark.functions import dedup as DD
        from pyspark.sql import functions as F2
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return (DD.simhash_bucket_pairs(docs, "doc_id", "text",
                                        blocks=6, max_hamming=3)
                .where(F2.col("hamming") <= 3).groupBy().count())

    probes = {
        "dedup_ngram_jaccard": registry["dedup_ngram_jaccard"][0],
        "dedup_minhash_pipeline": bench.ENTRIES["dedup_minhash_pipeline"].fn,
        "ann_lsh_pipeline": bench.ENTRIES["ann_lsh_pipeline"].fn,
        "ann_lsh_sized_planes": _lsh_ann_sized,
        "scale_probe_ordered_cumsum_shift":
            bench.ENTRIES["scale_probe_ordered_cumsum_shift"].fn,
        "scale_probe_expanding_median":
            bench.ENTRIES["scale_probe_expanding_median"].fn,
        "scale_probe_expanding_approx":
            bench.ENTRIES["scale_probe_expanding_approx"].fn,
        "semantic_dedup_sized_cells": _semantic_dedup,
        "dedup_substring_spans": _substring_spans,
        # query-family coverage beyond the nonlinear-risk set
        "asof_purchase_click": registry["asof_purchase_click"][0],
        "resample_hourly": registry["resample_hourly"][0],
        "text_lm_perplexity": registry["text_lm_perplexity"][0],
        "text_bm25_search": registry["text_bm25_search"][0],
        "ann_ivf_sized_cells": _ivf_ann,
        "q1_pricing_summary": registry["q1_pricing_summary"][0],
        "q3_shipping_priority": registry["q3_shipping_priority"][0],
        "q5_revenue_by_nation": registry["q5_revenue_by_nation"][0],
        "q9_profit_by_nation": registry["q9_profit_by_nation"][0],
        "stream_tumbling_counts": registry["stream_tumbling_counts"][0],
        "stream_stateful_totals": registry["stream_stateful_totals"][0],
        # two-pass Misra-Gries: pass-1 summaries and the pass-2 recount
        # both scan the full token stream; candidates stay ≤ m/partition
        # regardless of scale (at the probe the per-replica vocab is
        # disjoint, so no token clears phi of the ×R stream and the
        # correct output is empty — pass 2 still runs in full because
        # the CANDIDATE set from pass 1 is never empty)
        "heavy_hitter_tokens": registry["heavy_hitter_tokens"][0],
        # incremental dedup: index 90% of the corpus, dedupe the other
        # 10% against it — cost should scale with (batch + index band
        # rows joined), NOT quadratically in the corpus
        "dedup_incremental_minhash": _incremental_dedup,
        # SimHash chunk-bucket candidates (the one dedup family without
        # a ×100 row until round 5) — pipeline only, xxhash production
        # hashes, no containment oracle side
        "dedup_simhash_pipeline": _simhash_pipeline,
        "dedup_simhash_blocks": _simhash_blocks,
    }
    only = os.environ.get("SPARK_GRAFT_PROBE_ONLY")
    if only:
        keep = [s.strip() for s in only.split(",")]
        probes = {n: f for n, f in probes.items()
                  if any(k in n for k in keep)}

    # warmup: codegen + the Python/Arrow UDF worker pool (same as
    # bench.py — an unwarmed pool once charged ~10 s to the first
    # UDF-bearing probe and produced a phantom sublinear ratio)
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = BASE
    registry["q1_pricing_summary"][0](spark, warm_dir).collect()
    from pyspark.sql import functions as F  # noqa: F811
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _warm(s):
        return s * 1.0

    spark.range(0, 1024, 1, 32).select(
        _warm(F.col("id").cast("double"))).collect()

    results = {}
    for name, fn in probes.items():
        row = {}
        for label, d in (("base", BASE), ("probe", PROBE_DIR)):
            spark.catalog.clearCache()
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, d).collect()
                runs.append(time.perf_counter() - t0)
            runs.sort()
            row[label] = round(runs[len(runs) // 2], 3)
        row["ratio"] = round(row["probe"] / row["base"], 2)
        row["x_linear"] = round(row["ratio"] / R, 2)
        results[name] = row
        print(f"{name}: {row}", file=sys.stderr)

    print(json.dumps({"replicas": R, "base": BASE, "results": results}))
    print("\n| query | sf0.1 s | x%d s | ratio | x linear |" % R,
          file=sys.stderr)
    print("|---|---|---|---|---|", file=sys.stderr)
    for n, row in results.items():
        print(f"| {n} | {row['base']} | {row['probe']} | {row['ratio']} "
              f"| {row['x_linear']} |", file=sys.stderr)


if __name__ == "__main__":
    main()
