"""Round-6b operators: count-min rollup, KMV distinct/intersection
sketch, sharded Bloom index, and the upsert maintenance family.
Randomized differential nets against exact answers / pandas oracles,
plus the structural invariants each sketch's contract promises
(CMS never under-counts; KMV merges associatively; Bloom has NO false
negatives and merges to the exact union bitmap; upsert preserves the
prefilter-free answer and untouched partitions byte-identically)."""

from __future__ import annotations

import math
import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_expr_spark.functions.sketches import (
    bloom_fold_segments, bloom_index, bloom_probe, cms_estimate, cms_merge,
    cms_rollup, kmv_estimate, kmv_intersect, kmv_merge, kmv_rollup)


# ---------------------------------------------------------------- CMS

def _zipf_tokens(rng, n_vals, n_rows):
    return [f"t{min(int(rng.paretovariate(1.2)), n_vals)}"
            for _ in range(n_rows)]


@pytest.mark.slow
def test_cms_never_undercounts_randomized(spark):
    rng = random.Random(60)
    for trial in range(3):
        rows = [(tok, rng.choice("ab")) for tok in
                _zipf_tokens(rng, 500, 4000)]
        sdf = (spark.createDataFrame(rows, "tok string, g string")
               .repartition(rng.choice([1, 7, 32])))
        width, depth = rng.choice([(64, 3), (256, 4), (1024, 2)])
        roll = cms_rollup(sdf, ["g"], "tok", width=width, depth=depth)
        probe = sdf.select("tok").distinct()
        est = cms_estimate(roll, probe, "tok", width=width, depth=depth)
        exact = sdf.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
        j = est.join(exact, "tok")
        under = j.where(F.col("freq_est") < F.col("n")).count()
        assert under == 0, f"trial {trial}: CMS under-counted"
        # classic bound: overestimate ≤ ceil(e/width · n) w.p.
        # 1-(1/2)^depth per item; allow the tiny tail a slack factor
        n_tot = len(rows)
        bound = math.ceil(math.e / width * n_tot)
        viol = j.where(F.col("freq_est") > F.col("n") + 3 * bound).count()
        assert viol == 0, f"trial {trial}: CMS blew the error bound"


def test_cms_merge_equals_full_build(spark):
    rows = [(f"t{i % 97}", "a" if i % 2 else "b") for i in range(3000)]
    sdf = spark.createDataFrame(rows, "tok string, g string")
    full = cms_rollup(sdf.drop("g"), [], "tok", width=128, depth=4)
    halves = cms_rollup(sdf, ["g"], "tok", width=128, depth=4)
    merged = cms_merge(halves, [])
    a = full.select("cms", "n", "width", "depth").collect()[0]
    b = merged.select("cms", "n", "width", "depth").collect()[0]
    assert dict(a["cms"]) == dict(b["cms"])  # cell-exact merge
    assert a["n"] == b["n"]


def test_cms_skips_nulls_and_global_keys(spark):
    rows = [("x",), ("x",), (None,), ("y",)]
    sdf = spark.createDataFrame(rows, "tok string")
    roll = cms_rollup(sdf, [], "tok", width=32, depth=2)
    assert roll.collect()[0]["n"] == 3
    probe = spark.createDataFrame([("x",), ("zz",)], "tok string")
    got = {r["tok"]: r["freq_est"]
           for r in cms_estimate(roll, probe, "tok",
                                 width=32, depth=2).collect()}
    assert got["x"] >= 2
    # an absent value can only collide upward, never negative
    assert got["zz"] >= 0


# ---------------------------------------------------------------- KMV

def test_kmv_estimate_accuracy_randomized(spark):
    rng = random.Random(61)
    for trial, k in [(0, 64), (1, 128)]:
        n_distinct = rng.randint(2000, 6000)
        rows = [(rng.randint(0, n_distinct - 1),) for _ in range(12000)]
        sdf = (spark.createDataFrame(rows, "v bigint")
               .repartition(rng.choice([1, 5, 32])))
        roll = kmv_rollup(sdf, [], "v", k=k)
        est = kmv_estimate(roll).collect()[0]["distinct_est"]
        exact = sdf.distinct().count()
        # 4 standard errors of the (k-1)/U_(k) estimator
        tol = 4.0 / math.sqrt(k - 2)
        assert abs(est - exact) <= tol * exact, \
            f"trial {trial}: est {est} vs exact {exact}"


def test_kmv_unsaturated_is_exact(spark):
    sdf = spark.createDataFrame([(i % 37,) for i in range(500)], "v int")
    roll = kmv_rollup(sdf, [], "v", k=128)
    assert kmv_estimate(roll).collect()[0]["distinct_est"] == 37


def test_kmv_merge_equals_full_build(spark):
    rows = [(i % 3000, "a" if i % 2 else "b") for i in range(9000)]
    sdf = spark.createDataFrame(rows, "v bigint, g string")
    full = kmv_rollup(sdf.drop("g"), [], "v", k=64)
    split = kmv_rollup(sdf, ["g"], "v", k=64)
    merged = kmv_merge(split, [])
    assert (sorted(full.collect()[0]["kmv"])
            == sorted(merged.collect()[0]["kmv"]))


def test_kmv_intersect_randomized(spark):
    rng = random.Random(62)
    for trial in range(2):
        n = 5000
        overlap = rng.uniform(0.2, 0.7)
        a_vals = list(range(n))
        b_vals = list(range(int(n * (1 - overlap)), int(n * (2 - overlap))))
        a = spark.createDataFrame([(v,) for v in a_vals], "v bigint")
        b = spark.createDataFrame([(v,) for v in b_vals], "v bigint")
        ra = kmv_rollup(a, [], "v", k=256)
        rb = kmv_rollup(b, [], "v", k=256)
        got = kmv_intersect(ra, rb).collect()[0]
        exact = len(set(a_vals) & set(b_vals))
        # intersection estimates carry ~2x the union estimator's
        # relative error; 5 stderr of k=256 ≈ 31%, floor for tiny sets
        assert abs(got["inter_est"] - exact) <= max(0.31 * exact, 50), \
            f"trial {trial}: {got['inter_est']} vs {exact}"


# -------------------------------------------------------------- Bloom

def test_bloom_no_false_negatives_randomized(spark):
    rng = random.Random(63)
    for trial in range(2):
        n = rng.randint(500, 3000)
        keys = rng.sample(range(10 ** 9), n)
        sdf = spark.createDataFrame([(k,) for k in keys], "k bigint")
        fpp = rng.choice([0.3, 0.05, 0.01])
        idx = bloom_index(sdf, "k", fpp=fpp, expected=n)
        probe = bloom_probe(sdf, idx, "k")
        fn = probe.where(~F.col("maybe_in_index")).count()
        assert fn == 0, f"trial {trial}: false negative at fpp={fpp}"


def test_bloom_probe_plan_stays_codegen(spark):
    """The probe's k bit tests are unrolled into a plain AND chain; a
    higher-order forall would be CodegenFallback and copy the shard
    bitmap per probe row (45.9 -> 2.6 s at the x10 scale —
    OPTIMIZATION_r10.md O11).  Pin the plan shape: no lambda/HOF node,
    and the bit tests live inside WholeStageCodegen."""
    members = spark.range(0, 2000).withColumnRenamed("id", "k")
    idx = bloom_index(members, "k", fpp=0.01, expected=2000)
    pr = bloom_probe(members, idx, "k")
    plan = pr._jdf.queryExecution().executedPlan().toString()
    # no HOF node anywhere (forall/exists/transform render as
    # lambdafunction(...) in the plan) — their presence would mean
    # CodegenFallback and the per-row bitmap copy are back
    assert "forall" not in plan and "lambdafunction" not in plan, plan
    # the unrolled bit tests are plain expressions in the projection
    assert "element_at" in plan, plan


def test_bloom_fp_rate_near_design(spark):
    n = 4000
    members = spark.range(0, n).withColumnRenamed("id", "k")
    others = spark.range(n, 3 * n).withColumnRenamed("id", "k")
    idx = bloom_index(members, "k", fpp=0.02, expected=n)
    pr = bloom_probe(others, idx, "k")
    fp = pr.where(F.col("maybe_in_index")).count()
    rate = fp / (2 * n)
    assert rate <= 0.06, f"fp rate {rate} far above design 0.02"


def test_bloom_merge_equals_union_build(spark):
    a = spark.range(0, 1000).withColumnRenamed("id", "k")
    b = spark.range(800, 2000).withColumnRenamed("id", "k")
    n_union = 2000
    ia = bloom_index(a, "k", fpp=0.01, expected=n_union)
    ib = bloom_index(b, "k", fpp=0.01, expected=n_union)
    merged = bloom_fold_segments(ia.unionByName(ib))
    direct = bloom_index(a.unionByName(b), "k", fpp=0.01,
                         expected=n_union)
    # hash positions are deterministic, so folding the two indexes
    # must produce the EXACT bitmap of the one-shot union build
    ma = {r["shard"]: list(r["words"]) for r in merged.collect()}
    md = {r["shard"]: list(r["words"]) for r in direct.collect()}
    assert ma == md


def test_bloom_probe_empty_shard_is_definite_absent(spark):
    # a 1-key index leaves most shards empty; keys routing to an
    # absent shard row must probe False, not null/error
    one = spark.createDataFrame([(42,)], "k bigint")
    idx = bloom_index(one, "k", fpp=0.01, expected=1, num_shards=4)
    pr = bloom_probe(spark.range(0, 200).withColumnRenamed("id", "k"),
                     idx, "k")
    assert pr.where(F.col("maybe_in_index").isNull()).count() == 0
    assert pr.where((F.col("k") == 42) & ~F.col("maybe_in_index")) \
             .count() == 0


def test_bloom_prefiltered_dedup_answer_preserving(spark):
    from dask_expr_spark.functions.dedup import (
        exact_dedup_against, exact_dedup_against_bloom, exact_hash_index)

    rng = random.Random(64)
    texts = [f"doc body {rng.randint(0, 300)}" for _ in range(800)]
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    old = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    index = exact_hash_index(old, "doc_id", "text")
    bloom = bloom_index(index, "text_hash", fpp=0.1)
    plain = exact_dedup_against(batch, index, "doc_id", "text")
    pre = exact_dedup_against_bloom(batch, index, bloom,
                                    "doc_id", "text")
    assert plain.exceptAll(pre).count() == 0
    assert pre.exceptAll(plain).count() == 0


# ------------------------------------------------------------- upsert

def _pandas_upsert(target: pd.DataFrame, updates: pd.DataFrame,
                   key: str) -> pd.DataFrame:
    kept = target[~target[key].isin(updates[key])]
    return pd.concat([kept, updates], ignore_index=True)


def test_upsert_randomized_differential(spark):
    from dask_expr_spark.functions.maintenance import upsert

    rng = random.Random(65)
    for trial in range(3):
        n = rng.randint(50, 400)
        tgt = pd.DataFrame({
            "k": range(n),
            "v": [rng.random() for _ in range(n)],
            "s": [rng.choice("xyz") for _ in range(n)]})
        upd_keys = rng.sample(range(2 * n), rng.randint(1, n))
        upd = pd.DataFrame({
            "k": upd_keys,
            "v": [round(rng.random(), 6) for _ in upd_keys],
            "s": [rng.choice("pq") for _ in upd_keys]})
        got = (upsert(spark.createDataFrame(tgt),
                      spark.createDataFrame(upd), ["k"])
               .toPandas().sort_values("k").reset_index(drop=True))
        exp = (_pandas_upsert(tgt, upd, "k")
               .sort_values("k").reset_index(drop=True))
        pd.testing.assert_frame_equal(
            got[["k", "v", "s"]], exp[["k", "v", "s"]],
            check_dtype=False)


def test_upsert_order_col_picks_latest(spark):
    from dask_expr_spark.functions.maintenance import upsert

    tgt = spark.createDataFrame([(1, "old"), (2, "old")], "k int, v string")
    upd = spark.createDataFrame(
        [(1, "v1", 1), (1, "v2", 2), (3, "v1", 1)],
        "k int, v string, ver int")
    got = {r["k"]: r["v"]
           for r in upsert(tgt, upd, ["k"], order_col="ver").collect()}
    assert got == {1: "v2", 2: "old", 3: "v1"}


def test_upsert_partitioned_untouched_files_identical(spark, tmp_path):
    from dask_expr_spark.functions.maintenance import upsert_partitioned

    rows = [(i, f"p{i % 4}", float(i)) for i in range(400)]
    sdf = spark.createDataFrame(rows, "k bigint, part string, v double")
    path = str(tmp_path / "t")
    sdf.write.mode("overwrite").partitionBy("part").parquet(path)

    def snap(only_untouched=True):
        out = {}
        for root, _d, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    if only_untouched and "part=p1" in p:
                        continue
                    out[p] = os.path.getsize(p)
        return out

    before = {p: s for p, s in snap(False).items() if "part=p1" not in p}
    upd = spark.createDataFrame(
        [(5, "p1", 99.0), (10001, "p1", 1.0)],
        "k bigint, part string, v double")
    touched = upsert_partitioned(spark, path, upd, ["k"], "part")
    assert touched == ["p1"]
    after = {p: s for p, s in snap(False).items() if "part=p1" not in p}
    assert before == after  # untouched partitions byte-stable
    back = spark.read.parquet(path)
    assert back.count() == 401
    assert back.where((F.col("k") == 5)).collect()[0]["v"] == 99.0


def test_upsert_partitioned_rejects_partition_moves(spark, tmp_path):
    from dask_expr_spark.functions.maintenance import upsert_partitioned

    sdf = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, part string, v double")
    path = str(tmp_path / "t")
    sdf.write.mode("overwrite").partitionBy("part").parquet(path)
    mover = spark.createDataFrame([(2, "a", 9.0)],
                                  "k bigint, part string, v double")
    with pytest.raises(ValueError, match="partition-moving"):
        upsert_partitioned(spark, path, mover, ["k"], "part")


def test_upsert_partitioned_empty_updates_noop(spark, tmp_path):
    from dask_expr_spark.functions.maintenance import upsert_partitioned

    sdf = spark.createDataFrame([(1, "a", 1.0)],
                                "k bigint, part string, v double")
    path = str(tmp_path / "t")
    sdf.write.mode("overwrite").partitionBy("part").parquet(path)
    empty = spark.createDataFrame([], "k bigint, part string, v double")
    assert upsert_partitioned(spark, path, empty, ["k"], "part") == []
    assert spark.read.parquet(path).count() == 1


# ---------------------------------------------------------------- MMR

def _mmr_reference(cand, k, lam):
    """slow pure-python MMR: cand = list of (id, rel, vec)."""
    import numpy as np

    cand = sorted(cand, key=lambda t: t[0])
    V = np.asarray([c[2] for c in cand], dtype="float64")
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    chosen, out = set(), []
    maxsim = [0.0] * len(cand)
    for r in range(min(k, len(cand))):
        best, best_s = None, None
        for i, (cid, rel, _v) in enumerate(cand):
            if i in chosen:
                continue
            s = lam * rel - (1.0 - lam) * maxsim[i]
            if best is None or s > best_s:  # strict > keeps smallest id
                best, best_s = i, s
        out.append((cand[best][0], r + 1, best_s))
        chosen.add(best)
        sims = V @ V[best]
        for i in range(len(cand)):
            maxsim[i] = max(maxsim[i], float(sims[i]))
    return out


def test_mmr_rerank_randomized_differential(spark):
    import numpy as np

    from dask_expr_spark.functions.similarity import mmr_rerank

    rng = random.Random(66)
    rows, want = [], {}
    for qid in range(6):
        n = rng.randint(3, 25)
        cand = []
        for i in range(n):
            vec = [rng.gauss(0, 1) for _ in range(8)]
            rel = rng.uniform(0, 1)
            cand.append((i, rel, vec))
        if qid == 0 and n >= 6:
            # adversarial ties: two identical vectors with identical
            # relevance — selection must break to the smaller id
            cand[3] = (3, 0.9, list(cand[2][2]))
            cand[2] = (2, 0.9, cand[2][2])
        for cid, rel, vec in cand:
            rows.append((qid, cid, rel, vec))
        want[qid] = _mmr_reference(cand, k=5, lam=0.7)
    sdf = spark.createDataFrame(
        rows, "qid int, cid int, rel double, vec array<double>")
    got = mmr_rerank(sdf, "qid", "cid", "rel", "vec", k=5, lam=0.7)
    for r in got.collect():
        wid, wrank, wscore = [
            (c, rk, s) for c, rk, s in want[r["qid"]]
            if rk == r["rank"]][0]
        assert r["cid"] == wid, (r["qid"], r["rank"], r["cid"], wid)
        assert abs(r["mmr"] - wscore) < 1e-9


def test_mmr_first_pick_is_pure_relevance_argmax(spark):
    from dask_expr_spark.functions.similarity import mmr_rerank

    rows = [(1, 10, 0.3, [1.0, 0.0]), (1, 11, 0.8, [0.0, 1.0]),
            (1, 12, 0.8, [0.5, 0.5])]
    sdf = spark.createDataFrame(
        rows, "qid int, cid int, rel double, vec array<double>")
    got = mmr_rerank(sdf, "qid", "cid", "rel", "vec", k=2, lam=0.3) \
        .orderBy("rank").collect()
    assert got[0]["cid"] == 11  # rel tie 11 vs 12 → smaller id
    # second pick at lam=0.3: 12 scores 0.3·0.8 − 0.7·cos(11,12)≈−0.25,
    # 10 scores 0.3·0.3 − 0.7·0 = 0.09 → diversity flips to 10
    assert got[1]["cid"] == 10


# ------------------------------------------------- fast_hash sampling

def test_sample_fast_hash_partition_invariant(spark):
    """fast_hash=True keeps everything in the sampling contract except
    engine portability: exact n, partitioning/row-order invariance,
    and a different (but deterministic) draw from the md5 path."""
    from dask_expr_spark.functions.sampling import (
        sample_n, sample_n_per_group, sample_n_weighted)

    rows = [(i, f"g{i % 4}", float(1 + i % 7)) for i in range(2000)]
    a = spark.createDataFrame(rows, "id bigint, g string, w double")
    b = a.repartition(17)

    for fn in (lambda d: sample_n(d, 50, "id", fast_hash=True),
               lambda d: sample_n_weighted(d, 50, "id", "w",
                                           fast_hash=True)):
        ga = sorted(r["id"] for r in fn(a).collect())
        gb = sorted(r["id"] for r in fn(b).collect())
        assert len(ga) == 50 and ga == gb

    pg_a = sample_n_per_group(a, "g", "id", 10, fast_hash=True)
    pg_b = sample_n_per_group(b.repartition(3), "g", "id", 10,
                              salts=8, fast_hash=True)
    sa = sorted((r["g"], r["id"]) for r in pg_a.collect())
    sb = sorted((r["g"], r["id"]) for r in pg_b.collect())
    assert sa == sb  # salt- and partitioning-invariant
    from collections import Counter
    assert set(Counter(g for g, _ in sa).values()) == {10}

    slow = sorted(r["id"] for r in sample_n(a, 50, "id").collect())
    fast = sorted(r["id"] for r in sample_n(a, 50, "id",
                                            fast_hash=True).collect())
    assert slow != fast  # genuinely different hash streams


# ------------------------------------- CMS inner product / table_diff

def test_cms_inner_product_never_underestimates(spark):
    from dask_expr_spark.functions.sketches import cms_inner_product

    rng = random.Random(67)
    for trial in range(2):
        rows_a = [(rng.randint(0, 200),) for _ in range(3000)]
        rows_b = [(rng.randint(100, 400),) for _ in range(2500)]
        a = spark.createDataFrame(rows_a, "v bigint")
        b = spark.createDataFrame(rows_b, "v bigint")
        ra = cms_rollup(a, [], "v", width=256, depth=4)
        rb = cms_rollup(b, [], "v", width=256, depth=4)
        got = cms_inner_product(ra, rb).collect()[0]
        exact = a.join(b, "v").count()
        assert got["join_est"] >= exact, f"trial {trial}: underestimate"
        # CM inner-product bound: overshoot ≤ (e/width)·|A|·|B| w.h.p.
        bound = math.e / 256 * len(rows_a) * len(rows_b)
        assert got["join_est"] <= exact + 3 * bound
        assert (got["n_a"], got["n_b"]) == (len(rows_a), len(rows_b))


def test_cms_inner_product_disjoint_domains(spark):
    from dask_expr_spark.functions.sketches import cms_inner_product

    a = spark.range(0, 500).withColumnRenamed("id", "v")
    b = spark.range(100000, 100500).withColumnRenamed("id", "v")
    ra = cms_rollup(a, [], "v", width=1024, depth=4)
    rb = cms_rollup(b, [], "v", width=1024, depth=4)
    est = cms_inner_product(ra, rb).collect()[0]["join_est"]
    # exact join is 0; the estimate is only hash-collision noise
    assert est is not None and est <= math.e / 1024 * 500 * 500 * 3


def test_table_diff_randomized(spark):
    from dask_expr_spark.functions.maintenance import table_diff

    rng = random.Random(68)
    for trial in range(2):
        n = rng.randint(100, 500)
        before = [(i, rng.random(), rng.choice("xy")) for i in range(n)]
        changed = set(rng.sample(range(n), rng.randint(0, n // 2)))
        removed = set(rng.sample(sorted(set(range(n)) - changed),
                                 rng.randint(0, n // 4)))
        added = rng.randint(0, 50)
        after = [(i, v + 1.0, s) if i in changed else (i, v, s)
                 for i, v, s in before if i not in removed]
        after += [(n + j, 0.5, "z") for j in range(added)]
        d = table_diff(
            spark.createDataFrame(before, "k int, v double, s string"),
            spark.createDataFrame(after, "k int, v double, s string"),
            ["k"]).collect()[0]
        assert d["n_added"] == added and d["n_removed"] == len(removed)
        assert d["n_changed"] == len(changed)
        assert d["n_unchanged"] == n - len(changed) - len(removed)


def test_table_diff_null_semantics(spark):
    from dask_expr_spark.functions.maintenance import table_diff

    before = spark.createDataFrame(
        [(1, None), (2, "a"), (3, None)], "k int, v string")
    after = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None)], "k int, v string")
    d = table_diff(before, after, ["k"]).collect()[0]
    # null→value and value→null are changes; null→null is unchanged
    assert (d["n_changed"], d["n_unchanged"]) == (2, 1)


# ------------------------------------ compaction / streaming upsert

def test_compact_parquet_data_identical(spark, tmp_path):
    from dask_expr_spark.functions.maintenance import compact_parquet

    rows = [(i, f"s{i % 5}", float(i)) for i in range(5000)]
    sdf = spark.createDataFrame(rows, "k bigint, s string, v double")
    path = str(tmp_path / "t")
    sdf.repartition(40).write.mode("overwrite").parquet(path)
    before, after = compact_parquet(spark, path, target_mb=512)
    assert before == 40 and after < 40
    back = spark.read.parquet(path)
    assert back.count() == 5000
    assert back.exceptAll(sdf).count() == 0
    assert sdf.exceptAll(back).count() == 0


def test_compact_parquet_partitioned(spark, tmp_path):
    from dask_expr_spark.functions.maintenance import compact_parquet

    rows = [(i, f"p{i % 3}", float(i)) for i in range(3000)]
    sdf = spark.createDataFrame(rows, "k bigint, part string, v double")
    path = str(tmp_path / "t")
    sdf.repartition(30).write.mode("overwrite") \
        .partitionBy("part").parquet(path)
    before, after = compact_parquet(spark, path, target_mb=512,
                                    partition_col="part")
    assert after < before
    back = spark.read.parquet(path)
    assert back.count() == 3000
    assert sorted(r["part"] for r in
                  back.select("part").distinct().collect()) \
        == ["p0", "p1", "p2"]


def test_upsert_sink_replay_idempotent(spark, tmp_path):
    import pandas as pd

    from dask_expr_spark.streaming import ops as S

    src = str(tmp_path / "src")
    table = str(tmp_path / "table" / "t")
    for i in range(3):
        pdf = pd.DataFrame({
            "k": list(range(i * 10, i * 10 + 10)) + [0, 1],
            "v": [float(i)] * 12,
            "ver": [i] * 12,
        })
        spark.createDataFrame(pdf).coalesce(1).write.mode("append") \
            .parquet(src)
    schema = spark.read.parquet(src).schema

    def run(ckpt):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = S.upsert_sink(stream, table, ["k"], order_col="ver",
                          checkpoint_dir=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "ckpt1"))
    snap1 = {r["k"]: (r["v"], r["ver"])
             for r in spark.read.parquet(table).collect()}
    # 30 novel keys; 0 and 1 re-upserted every batch -> last ver wins
    assert len(snap1) == 30
    assert snap1[0][1] == 2 and snap1[1][1] == 2
    assert snap1[5] == (0.0, 0) and snap1[25] == (2.0, 2)

    # replay the whole source against the EXISTING table (fresh
    # checkpoint = every batch re-applies): state must not change
    run(str(tmp_path / "ckpt2"))
    snap2 = {r["k"]: (r["v"], r["ver"])
             for r in spark.read.parquet(table).collect()}
    assert snap1 == snap2
