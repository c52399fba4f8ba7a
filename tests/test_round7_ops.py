"""Round-7 durability + hardening tests: crash-injected atomic table
swaps (whole-table, per-partition, sketch compactors), the bucketed
unpartitioned upsert, the bloom-backed partition-move guard, and the
round-6 ADVICE regressions (kmv_intersect one-sided groups,
mmr_rerank zero-norm embeddings, per-directory compaction targets)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_expr_spark.functions import maintenance as M


def _mk_table(spark, path, n=60, parts=("a", "b", "c")):
    pdf = pd.DataFrame({
        "k": range(n),
        "v": [float(i) for i in range(n)],
        "part": [parts[i % len(parts)] for i in range(n)],
    })
    (spark.createDataFrame(pdf).write.mode("overwrite")
     .partitionBy("part").parquet(path))
    return pdf


def _snap(spark, path):
    return {r["k"]: (r["v"], r["part"])
            for r in spark.read.parquet(path).collect()}


# ------------------------------------------------- crash-safe swaps

def test_atomic_overwrite_crash_before_promote(spark, tmp_path,
                                               monkeypatch):
    """kill between write-new and any rename: table untouched,
    recover_table clears the debris."""
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    before = _snap(spark, path)
    df2 = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [9.9],
                                              "part": ["a"]}))

    real_rename = os.rename

    def boom(src, dst):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(RuntimeError):
        M.atomic_overwrite(
            path, lambda p: df2.write.mode("overwrite").parquet(p))
    monkeypatch.setattr(os, "rename", real_rename)
    assert os.path.isdir(path + "__new")      # debris present
    M.recover_table(path)
    assert not os.path.isdir(path + "__new")
    assert _snap(spark, path) == before


def test_atomic_overwrite_crash_between_renames(spark, tmp_path,
                                                monkeypatch):
    """kill after the old table renamed aside but before the promote:
    the table is momentarily absent; recover_table rolls the old one
    back (the uncommitted new data is dropped)."""
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    before = _snap(spark, path)
    df2 = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [9.9],
                                              "part": ["a"]}))

    real_rename = os.rename
    calls = []

    def one_then_boom(src, dst):
        if calls:
            raise RuntimeError("injected crash")
        calls.append(1)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", one_then_boom)
    with pytest.raises(RuntimeError):
        M.atomic_overwrite(
            path, lambda p: df2.write.mode("overwrite").parquet(p))
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.isdir(path)            # the transient state
    assert os.path.isdir(path + "__old")
    assert M.recover_table(path)
    assert _snap(spark, path) == before


def test_atomic_overwrite_crash_before_cleanup(spark, tmp_path):
    """promote completed, old copy still on disk: recover drops the
    trash and keeps the NEW table."""
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    df2 = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [9.9],
                                              "part": ["a"]}))
    df2.write.parquet(path + "__staged")
    # construct the post-promote state by hand
    os.rename(path, path + "__old")
    os.rename(path + "__staged", path)
    M.recover_table(path)
    assert not os.path.isdir(path + "__old")
    assert _snap(spark, path) == {1: (9.9, "a")}


def test_partition_swap_crash_mid_loop(spark, tmp_path, monkeypatch):
    """kill a multi-partition upsert between a partition's two renames:
    every partition is either fully old or fully new, recover_table
    restores the one caught in between, and retrying the SAME batch
    converges to the correct final state."""
    path = str(tmp_path / "t")
    pdf = _mk_table(spark, path)
    upd = spark.createDataFrame(pd.DataFrame({
        "k": [0, 1, 2], "v": [100.0, 101.0, 102.0],
        "part": ["a", "b", "c"]}))

    real_rename = os.rename
    state = {"n": 0}

    def boom_on_third(src, dst):
        # renames come in (aside, promote) pairs per partition; crash
        # right after partition #1 promoted and partition #2 moved aside
        state["n"] += 1
        if state["n"] == 3:
            real_rename(src, dst)      # partition 2's aside rename
            raise RuntimeError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", boom_on_third)
    with pytest.raises(RuntimeError):
        M.upsert_partitioned(spark, path, upd, ["k"], "part",
                             check_moves=False)
    monkeypatch.setattr(os, "rename", real_rename)

    M.recover_table(path)
    got = _snap(spark, path)
    assert set(got) == set(range(len(pdf)))   # no row lost anywhere
    for k, (v, part) in got.items():
        assert v in (float(k), 100.0 + k)     # fully old or fully new
    # retry the batch: converges
    M.upsert_partitioned(spark, path, upd, ["k"], "part",
                         check_moves=False)
    got = _snap(spark, path)
    assert got[0] == (100.0, "a") and got[1] == (101.0, "b") \
        and got[2] == (102.0, "c")
    assert got[5] == (5.0, "c")


def test_compact_rollup_crash_recoverable(spark, tmp_path, monkeypatch):
    """sketch-table compaction: kill between the old table's rename
    aside and the promote — the rollup is recoverable and estimates
    still answer (the round-6 rmtree-then-move pattern lost it)."""
    from dask_expr_spark.functions.sketches import hll_estimate, hll_rollup
    from dask_expr_spark.streaming import ops as S

    roll = str(tmp_path / "roll")
    df = spark.createDataFrame(pd.DataFrame({
        "g": ["x"] * 50 + ["y"] * 50, "u": list(range(50)) * 2}))
    for epoch in (0, 1):
        (hll_rollup(df, ["g"], "u").withColumn("__epoch", F.lit(epoch))
         .write.mode("append").parquet(roll))
    want = {r["g"]: r["distinct_est"]
            for r in hll_estimate(spark.read.parquet(roll),
                                  ["g"]).collect()}

    real_rename = os.rename
    calls = []

    def one_then_boom(src, dst):
        if calls:
            raise RuntimeError("injected crash")
        calls.append(1)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", one_then_boom)
    with pytest.raises(RuntimeError):
        S.compact_hll_rollup(spark, roll, ["g"])
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.isdir(roll)            # caught mid-swap
    assert M.recover_table(roll)
    got = {r["g"]: r["distinct_est"]
           for r in hll_estimate(spark.read.parquet(roll),
                                 ["g"]).collect()}
    assert got == want
    # compaction retried: folds to one row per key, estimates unchanged
    S.compact_hll_rollup(spark, roll, ["g"])
    compacted = spark.read.parquet(roll)
    assert compacted.count() == 2
    got = {r["g"]: r["distinct_est"]
           for r in hll_estimate(compacted, ["g"]).collect()}
    assert got == want


# ------------------------------------------------- bucketed upsert

def test_upsert_bucketed_prunes_and_merges(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(pd.DataFrame({
        "k": range(200), "v": [0.0] * 200}))
    M.write_bucketed(base, path, ["k"], 16)
    assert M.is_bucketed(path)
    import glob
    before = {f: os.path.getsize(f)
              for f in glob.glob(path + "/__bucket=*/*.parquet")}
    upd = spark.createDataFrame(pd.DataFrame({
        "k": [3, 7, 500], "v": [30.0, 70.0, 500.0]}))
    touched = M.upsert_bucketed(spark, path, upd, ["k"])
    assert 0 < len(touched) <= 3              # at most one dir per key
    after = {f: os.path.getsize(f)
             for f in glob.glob(path + "/__bucket=*/*.parquet")}
    tdirs = tuple(f"__bucket={b}{os.sep}" for b in touched)
    for f, sz in after.items():
        if not any(d in f for d in tdirs):
            assert before.get(f) == sz        # untouched buckets intact
    got = {r["k"]: r["v"]
           for r in M.read_bucketed(spark, path).collect()}
    assert len(got) == 201
    assert got[3] == 30.0 and got[7] == 70.0 and got[500] == 500.0
    assert got[4] == 0.0


def test_upsert_bucketed_key_mismatch_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [0.0]}))
    M.write_bucketed(base, path, ["k"], 4)
    with pytest.raises(ValueError, match="bucketed on"):
        M.upsert_bucketed(spark, path, base, ["v"])


def test_compact_preserves_bucket_spec(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(pd.DataFrame({
        "k": range(100), "v": [1.0] * 100}))
    M.write_bucketed(base, path, ["k"], 8)
    M.compact_parquet(spark, path, target_mb=512,
                      partition_col="__bucket")
    assert M.is_bucketed(path)                # sidecar survived the swap
    upd = spark.createDataFrame(pd.DataFrame({"k": [5], "v": [9.0]}))
    M.upsert_bucketed(spark, path, upd, ["k"])
    got = {r["k"]: r["v"] for r in M.read_bucketed(spark, path).collect()}
    assert got[5] == 9.0 and len(got) == 100


# ------------------------------------------ per-directory compaction

def test_compact_parquet_per_partition_file_bound(spark, tmp_path):
    """partitioned compaction: each hive directory folds to ITS OWN
    byte target — a wide table can never fan out to
    n_target × n_partitions files (round-6 ADVICE)."""
    import glob
    path = str(tmp_path / "t")
    pdf = pd.DataFrame({
        "k": range(300), "v": [float(i) for i in range(300)],
        "part": [("a", "b", "c")[i % 3] for i in range(300)]})
    (spark.createDataFrame(pdf).repartition(20).write
     .mode("overwrite").partitionBy("part").parquet(path))
    nb = len(glob.glob(path + "/part=*/*.parquet"))
    assert nb >= 30                           # plenty of small files
    before, after = M.compact_parquet(spark, path, target_mb=512,
                                      partition_col="part")
    assert before == nb
    # 512 MB target on KB of data -> exactly one file per directory
    for d in glob.glob(path + "/part=*"):
        assert len(glob.glob(d + "/*.parquet")) == 1
    got = {r["k"]: (r["v"], r["part"])
           for r in spark.read.parquet(path).collect()}
    assert got == {i: (float(i), ("a", "b", "c")[i % 3])
                   for i in range(300)}


# ------------------------------------------- bloom-backed move guard

def test_move_guard_bloom_skips_scan_for_inserts(spark, tmp_path,
                                                 monkeypatch):
    """with a key bloom, a pure-insert batch (all keys definitely
    absent) must NOT trigger the full-table key scan; a genuine move
    must still be rejected (via the exact fallback)."""
    path = str(tmp_path / "t")
    bloom = str(tmp_path / "bloom")
    _mk_table(spark, path)
    M.build_key_bloom(spark, path, ["k"], bloom, fpp=0.01)

    calls = []
    real = M._move_guard_full_scan

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(M, "_move_guard_full_scan", counted)

    inserts = spark.createDataFrame(pd.DataFrame({
        "k": [1000, 1001], "v": [1.0, 2.0], "part": ["a", "b"]}))
    M.upsert_partitioned(spark, path, inserts, ["k"], "part",
                         key_bloom_path=bloom)
    assert calls == []                        # no scan for pure inserts

    mover = spark.createDataFrame(pd.DataFrame({
        "k": [5], "v": [9.0], "part": ["a"]}))  # k=5 lives in part c
    with pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, path, mover, ["k"], "part",
                             key_bloom_path=bloom)
    assert len(calls) == 1                    # maybe-hit -> exact scan


def test_move_guard_bloom_append_keeps_no_false_negatives(spark,
                                                          tmp_path):
    """keys inserted THROUGH the guarded path land in the bloom, so a
    later attempt to move one of them is still rejected."""
    path = str(tmp_path / "t")
    bloom = str(tmp_path / "bloom")
    _mk_table(spark, path)
    M.build_key_bloom(spark, path, ["k"], bloom, fpp=0.01)
    inserts = spark.createDataFrame(pd.DataFrame({
        "k": [2000], "v": [1.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, inserts, ["k"], "part",
                         key_bloom_path=bloom)
    mover = spark.createDataFrame(pd.DataFrame({
        "k": [2000], "v": [2.0], "part": ["b"]}))
    with pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, path, mover, ["k"], "part",
                             key_bloom_path=bloom)


# ------------------------------------------------ ADVICE regressions

def test_kmv_intersect_one_sided_group_is_zero(spark):
    """a group present in only one rollup intersects EMPTY: inter_est
    must be 0 (not NULL) and union_est the present side's estimate
    (round-6 ADVICE: null concat poisoned one-sided groups)."""
    from dask_expr_spark.functions.sketches import kmv_intersect, kmv_rollup

    a = spark.createDataFrame(pd.DataFrame(
        {"g": ["both"] * 30 + ["only_a"] * 20,
         "u": list(range(30)) + list(range(20))}))
    b = spark.createDataFrame(pd.DataFrame(
        {"g": ["both"] * 30, "u": list(range(15, 45))}))
    ra = kmv_rollup(a, ["g"], "u", k=64)
    rb = kmv_rollup(b, ["g"], "u", k=64)
    got = {r["g"]: (r["inter_est"], r["union_est"])
           for r in kmv_intersect(ra, rb, ["g"]).collect()}
    assert got["only_a"] == (0, 20)           # unsaturated -> exact
    assert got["both"][0] == 15 and got["both"][1] == 45


def test_mmr_rerank_zero_vector_no_nan(spark):
    """one all-zero embedding must not inject NaN into the greedy
    selection (round-6 ADVICE: unguarded norm division)."""
    import math

    from dask_expr_spark.functions.similarity import mmr_rerank

    rows = [("q", i, 1.0 - 0.1 * i,
             [0.0, 0.0] if i == 2 else [1.0, float(i)])
            for i in range(5)]
    cand = spark.createDataFrame(rows, "q string, id int, rel double, "
                                       "emb array<double>")
    out = mmr_rerank(cand, "q", "id", "rel", "emb", k=4, lam=0.7)
    got = out.orderBy("rank").collect()
    assert len(got) == 4
    assert all(not math.isnan(r["mmr"]) for r in got)
    assert got[0]["id"] == 0                  # pure-relevance first pick


# --------------------------------------------- snapshot versioning

def test_snapshot_versioning_lifecycle(spark, tmp_path):
    path = str(tmp_path / "snap")
    d0 = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]}))
    d1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3],
                                             "v": [9.0, 2.0, 3.0]}))
    assert M.snapshot_write(d0, path) == 0
    assert M.snapshot_write(d1, path) == 1
    assert M.snapshot_read(spark, path).count() == 3          # current
    assert {r["v"] for r in
            M.snapshot_read(spark, path, 0).collect()} == {1.0, 2.0}
    assert [h["version"] for h in M.snapshot_history(path)] == [0, 1]


def test_snapshot_crashed_commit_invisible_and_reclaimed(spark,
                                                         tmp_path):
    """a version directory without a manifest flip (crash before the
    os.replace) must be unreadable, and the NEXT write reclaims its
    number."""
    path = str(tmp_path / "snap")
    d0 = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1.0]}))
    M.snapshot_write(d0, path)
    orphan = os.path.join(path, "_v00000001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "partial"), "w") as f:
        f.write("junk")
    with pytest.raises(ValueError, match="not available"):
        M.snapshot_read(spark, path, 1)
    assert M.snapshot_read(spark, path).count() == 1          # live intact
    assert M.snapshot_write(d0, path) == 1                    # reclaimed
    assert M.snapshot_read(spark, path, 1).count() == 1


def test_snapshot_vacuum_keeps_current(spark, tmp_path):
    path = str(tmp_path / "snap")
    d = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1.0]}))
    for _ in range(4):
        M.snapshot_write(d, path)
    assert M.snapshot_vacuum(path, keep=2) == [0, 1]
    assert [h["version"] for h in M.snapshot_history(path)] == [2, 3]
    with pytest.raises(ValueError):
        M.snapshot_read(spark, path, 0)
    assert M.snapshot_read(spark, path, 2).count() == 1
    assert M.snapshot_read(spark, path).count() == 1
    # keep larger than history: no-op
    assert M.snapshot_vacuum(path, keep=10) == []


# ----------------------------------------- profile from rollups

def test_profile_from_rollups_matches_profile_table(spark):
    """moments/hist/hll rollups built at a finer grain and merged must
    reproduce profile_table's exact fields and land its approximate
    fields within the documented bounds."""
    from dask_expr_spark.functions.quality import (profile_from_rollups,
                                                   profile_table)
    from dask_expr_spark.functions.sketches import (hist_rollup,
                                                    hll_rollup,
                                                    moments_rollup)

    pdf = pd.DataFrame({
        "g": ["a", "b"] * 200,
        "x": [float(i % 37) for i in range(400)],
    })
    pdf.loc[::10, "x"] = None                 # nulls must be counted
    df = spark.createDataFrame(pdf)
    mom = moments_rollup(df, ["g"], "x")
    hst = hist_rollup(df, ["g"], "x", bins=64, lo=0.0, hi=37.0)
    hll = hll_rollup(df.withColumn("__s", F.col("x").cast("string")),
                     ["g"], "__s")
    got = profile_from_rollups(mom, hst, hll).collect()[0]
    ref = profile_table(df, ["x"]).collect()[0]
    assert got["n"] == ref["n"] and got["nulls"] == ref["nulls"]
    assert float(got["min_val"]) == float(ref["min_val"])
    assert float(got["max_val"]) == float(ref["max_val"])
    assert abs(got["mean"] - ref["mean"]) < 1e-9
    assert abs(got["stddev"] - ref["stddev"]) < 1e-9
    exact_p50 = df.agg(F.expr("percentile(x, 0.5)")).collect()[0][0]
    assert abs(got["q50"] - exact_p50) <= 37.0 / 64
    exact_d = df.where(F.col("x").isNotNull()).select("x") \
        .distinct().count()
    assert abs(got["distinct"] - exact_d) <= max(2, 0.1 * exact_d)
    # grouped: n splits exactly
    per_g = {r["g"]: r["n"]
             for r in profile_from_rollups(mom, hst, hll, ["g"]).collect()}
    assert per_g == {"a": 200, "b": 200}


def test_moments_rollup_merge_exact(spark):
    from dask_expr_spark.functions.sketches import (moments_merge,
                                                    moments_rollup)

    pdf = pd.DataFrame({"s": [("x", "y")[i % 2] for i in range(100)],
                        "v": [float(i) for i in range(100)]})
    df = spark.createDataFrame(pdf)
    merged = moments_merge(moments_rollup(df, ["s"], "v")).collect()[0]
    assert merged["n_rows"] == 100 and merged["n"] == 100
    assert merged["s1"] == sum(range(100))
    assert merged["min_v"] == 0.0 and merged["max_v"] == 99.0


# ------------------------------------------------- SCD-2 history

def _scd2_reference(events):
    """pandas oracle: events = [(key, value, ts)] applied in ts order
    per key with change-collapse; returns {key: [(v, from, to, cur)]}."""
    out: dict = {}
    for k, v, ts in sorted(events, key=lambda e: (e[0], e[2])):
        hist = out.setdefault(k, [])
        if hist and hist[-1][0] == v:
            continue
        if hist:
            hist[-1] = (hist[-1][0], hist[-1][1], ts, False)
        hist.append((v, ts, None, True))
    return out


@pytest.mark.slow
def test_scd2_randomized_differential(spark):
    """three sequential batches of random updates vs the pandas
    reference: full history equality (values, validity intervals,
    currency flags), independent of partitioning."""
    import random

    rng = random.Random(7)
    keys = list(range(30))
    base = [(k, rng.randint(0, 3), 0) for k in keys]
    events = list(base)
    hist = M.scd2_init(
        spark.createDataFrame(base, "k int, v int, ts int"), "ts")
    t = 0
    for _ in range(3):
        t += 10
        batch = [(k, rng.randint(0, 3), t + rng.randint(0, 5))
                 for k in rng.sample(keys, 12)]
        batch += [(100 + t, rng.randint(0, 3), t)]      # novel key
        events += batch
        hist = M.upsert_scd2(
            hist.repartition(5),
            spark.createDataFrame(batch, "k int, v int, ts int"),
            ["k"], "ts")
    want = _scd2_reference(events)
    got: dict = {}
    for r in hist.collect():
        got.setdefault(r["k"], []).append(
            (r["v"], r["valid_from"], r["valid_to"], r["is_current"]))
    got = {k: sorted(v, key=lambda x: x[1]) for k, v in got.items()}
    assert got == want


def test_scd2_noop_collapse_and_asof(spark):
    base = spark.createDataFrame([(1, "a", 0), (2, "b", 0)],
                                 "k int, v string, ts int")
    hist = M.scd2_init(base, "ts")
    upd = spark.createDataFrame(
        [(1, "a", 5), (1, "c", 9), (2, "b", 7)],  # two no-ops, one change
        "k int, v string, ts int")
    h2 = M.upsert_scd2(hist, upd, ["k"], "ts")
    rows = {(r["k"], r["v"]): (r["valid_from"], r["valid_to"],
                               r["is_current"]) for r in h2.collect()}
    assert rows == {(1, "a"): (0, 9, False), (1, "c"): (9, None, True),
                    (2, "b"): (0, None, True)}
    # as-of reconstruction at every epoch
    assert {(r["k"], r["v"]) for r in M.scd2_asof(h2, 0).collect()} \
        == {(1, "a"), (2, "b")}
    assert {(r["k"], r["v"]) for r in M.scd2_asof(h2, 8).collect()} \
        == {(1, "a"), (2, "b")}
    assert {(r["k"], r["v"]) for r in M.scd2_asof(h2, 9).collect()} \
        == {(1, "c"), (2, "b")}
    cur = M.scd2_current(h2)
    assert {(r["k"], r["v"]) for r in cur.collect()} \
        == {(1, "c"), (2, "b")}


def test_scd2_retroactive_rejected(spark):
    hist = M.scd2_init(spark.createDataFrame([(1, "a", 5)],
                                             "k int, v string, ts int"),
                       "ts")
    for bad_ts in (5, 3):                  # equal and older both reject
        upd = spark.createDataFrame([(1, "z", bad_ts)],
                                    "k int, v string, ts int")
        with pytest.raises(ValueError, match="retroactive"):
            M.upsert_scd2(hist, upd, ["k"], "ts")


def test_scd2_in_batch_chain_and_dedup(spark):
    """a single batch carrying several effective times for one key
    versions in order; duplicate (key, ts) pairs dedupe
    deterministically (greatest compare-struct wins)."""
    hist = M.scd2_init(spark.createDataFrame([(1, "a", 0)],
                                             "k int, v string, ts int"),
                       "ts")
    upd = spark.createDataFrame(
        [(1, "b", 2), (1, "c", 4), (1, "x", 6), (1, "z", 6)],
        "k int, v string, ts int")
    h2 = M.upsert_scd2(hist, upd, ["k"], "ts")
    rows = sorted((r["v"], r["valid_from"], r["valid_to"],
                   r["is_current"]) for r in h2.collect())
    assert rows == [("a", 0, 2, False), ("b", 2, 4, False),
                    ("c", 4, 6, False), ("z", 6, None, True)]


# ------------------------------------------------- row-level CDC

def test_cdc_rows_matches_manual(spark):
    before = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y"), (3, None, "z"), (4, 40.0, "w")],
        "k int, p double, s string")
    after = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 25.0, "y"), (3, 30.0, "z"), (5, 50.0, "v")],
        "k int, p double, s string")
    got = {r["k"]: (r["change_type"], r["p_before"], r["p_after"])
           for r in M.cdc_rows(before, after, ["k"]).collect()}
    assert got == {2: ("update", 20.0, 25.0),
                   3: ("update", None, 30.0),    # null->value = change
                   4: ("delete", 40.0, None),
                   5: ("insert", None, 50.0)}
    assert 1 not in got                           # unchanged filtered


def test_snapshot_cdc_between_versions(spark, tmp_path):
    path = str(tmp_path / "snap")
    base = spark.createDataFrame([(i, float(i)) for i in range(20)],
                                 "k int, p double")
    M.snapshot_write(base, path)
    v1 = M.upsert(base, spark.createDataFrame(
        [(3, 33.0), (25, 250.0)], "k int, p double"), ["k"])
    M.snapshot_write(v1, path)
    v2 = v1.where(F.col("k") % 7 != 0)
    M.snapshot_write(v2, path)
    got = {r["k"]: r["change_type"] for r in
           M.snapshot_cdc(spark, path, 0, 2, ["k"]).collect()}
    want = {3: "update", 25: "insert", 0: "delete", 7: "delete",
            14: "delete"}
    assert got == want
    # adjacent-version CDC composes: 0->1 then 1->2
    g01 = {r["k"]: r["change_type"] for r in
           M.snapshot_cdc(spark, path, 0, 1, ["k"]).collect()}
    assert g01 == {3: "update", 25: "insert"}


# ------------------------------------------------- zone maps

def _write_clustered(spark, sf_dir, path, n_files=12):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (o.repartitionByRange(n_files, "o_orderdate")
     .sortWithinPartitions("o_orderdate").write.parquet(path))
    return o


def test_zonemap_prunes_and_matches(spark, sf_dir, tmp_path):
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    o = _write_clustered(spark, sf_dir, path)
    Z.build_zonemap(spark, path, ["o_orderdate", "o_totalprice"])
    lo = o.agg(F.min("o_orderdate")).collect()[0][0]
    hi = o.agg(F.max("o_orderdate")).collect()[0][0]
    mid = lo + (hi - lo) / 3
    preds = [("o_orderdate", "between", (lo, mid))]
    surv, total = Z.zone_prune(spark, path, preds)
    assert 0 < len(surv) < total                  # real pruning
    got = Z.read_skipping(spark, path, preds)
    # the plan's scan is over the pruned file set exactly
    assert set(f.replace("file://", "") for f in got.inputFiles()) \
        == set(surv)
    want = spark.read.parquet(path).where(Z.pred_filter(preds))
    assert got.count() == want.count()
    a = got.toPandas().sort_values("o_orderkey").reset_index(drop=True)
    b = want.toPandas().sort_values("o_orderkey").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)],
                                  b[sorted(b.columns)])


def test_zonemap_ops_and_nulls(spark, tmp_path):
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    # three files: low values, high values, all-null
    spark.createDataFrame([(i, float(i)) for i in range(10)],
                          "k int, v double").coalesce(1) \
        .write.parquet(path)
    spark.createDataFrame([(i, float(i)) for i in range(100, 110)],
                          "k int, v double").coalesce(1) \
        .write.mode("append").parquet(path)
    spark.createDataFrame([(i, None) for i in range(200, 210)],
                          "k int, v double").coalesce(1) \
        .write.mode("append").parquet(path)
    Z.build_zonemap(spark, path, ["v"])
    cases = [
        ([("v", "=", 105.0)], 1, 1),
        ([("v", "in", [5.0, 105.0])], 2, 2),
        ([("v", "<", 3.0)], 1, 3),
        ([("v", ">=", 100.0)], 1, 10),
        ([("v", "isnull")], 1, 10),
        ([("v", "notnull")], 2, 20),
        ([("v", ">", 500.0)], 0, 0),
    ]
    for preds, want_files, want_rows in cases:
        surv, total = Z.zone_prune(spark, path, preds)
        assert total == 3
        assert len(surv) == want_files, (preds, surv)
        assert Z.read_skipping(spark, path, preds).count() == want_rows


def test_zonemap_stale_manifest_is_safe(spark, tmp_path):
    """files appended after the build are always read; files removed
    after the build are never referenced."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    spark.createDataFrame([(i, float(i)) for i in range(10)],
                          "k int, v double").coalesce(1) \
        .write.parquet(path)
    Z.build_zonemap(spark, path, ["v"])
    spark.createDataFrame([(99, 999.0)], "k int, v double") \
        .coalesce(1).write.mode("append").parquet(path)
    got = Z.read_skipping(spark, path, [("v", ">", 900.0)])
    assert [r["k"] for r in got.collect()] == [99]
    # compaction rewrites everything: stale manifest must not 404
    M.compact_parquet(spark, path, target_mb=512)
    got2 = Z.read_skipping(spark, path, [("v", ">", 900.0)])
    assert [r["k"] for r in got2.collect()] == [99]
    # rebuild restores pruning
    Z.build_zonemap(spark, path, ["v"])
    surv, total = Z.zone_prune(spark, path, [("v", ">", 900.0)])
    assert len(surv) == total == 1


def test_zonemap_string_and_partitioned(spark, tmp_path):
    """string min/max prune; hive layout keeps partition columns via
    basePath."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(40),
                        "name": [f"name{i:03d}" for i in range(40)],
                        "part": ["p1" if i < 20 else "p2"
                                 for i in range(40)]})
    (spark.createDataFrame(pdf).repartitionByRange(4, "name")
     .sortWithinPartitions("name")
     .write.partitionBy("part").parquet(path))
    Z.build_zonemap(spark, path, ["name"])
    preds = [("name", "between", ("name005", "name007"))]
    surv, total = Z.zone_prune(spark, path, preds)
    assert 0 < len(surv) < total
    got = Z.read_skipping(spark, path, preds)
    assert "part" in got.columns                 # basePath preserved it
    assert sorted(r["name"] for r in got.collect()) \
        == ["name005", "name006", "name007"]


# ------------------------------------------------- product quantization

def test_pq_roundtrip_determinism_and_recall(spark, sf_dir):
    from dask_expr_spark.functions import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    k = 5
    truth: dict = {}
    for r in SIM.cosine_topk_blocked(emb, q, k=k) \
            .filter(F.col("query_id") != F.col("neighbor_id")).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    res1 = SIM.pq_topk(emb, q, dim=64, k=k, m=16).collect()
    res2 = SIM.pq_topk(emb.repartition(13), q, dim=64, k=k,
                       m=16).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.neighbor_id,
                               round(r.adc, 9)) for r in rows)
    assert key(res1) == key(res2)               # partitioning-invariant
    per: dict = {}
    for r in res1:
        per.setdefault(r.query_id, set()).add(r.neighbor_id)
    hit = sum(len(truth[qi] & per.get(qi, set())) for qi in truth)
    tot = sum(len(truth[qi]) for qi in truth)
    assert hit / tot >= 0.6, f"pq m=16 recall {hit / tot}"
    # the steady-state path: persisted codes + codebook reuse
    cb = SIM.pq_train(emb, dim=64, m=16)
    codes = SIM.pq_encode(emb, cb).persist()
    res3 = SIM.pq_topk(emb, q, dim=64, k=k, m=16, codebook=cb,
                       codes=codes).collect()
    codes.unpersist()
    assert key(res3) == key(res1)
    # codes are genuinely small: m smallint entries per row
    row = codes.first()
    assert len(row["pq_code"]) == 16


def test_pq_dim_not_divisible_rejected(spark, sf_dir):
    from dask_expr_spark.functions import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        SIM.pq_train(emb, dim=64, m=7)


def test_pq_exact_rerank_recovers_exact_order(spark, sf_dir):
    """PQ's second stage: rerank from an ADC shortlist covering the
    whole corpus must reproduce the EXACT cosine top-k (same ids, same
    order) — and at any shortlist size recall >= plain ADC."""
    from dask_expr_spark.functions import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    k = 5
    n = emb.count()
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in SIM.cosine_topk(emb, q, k=k).collect()}
    full = SIM.pq_topk(emb, q, dim=64, k=k, m=8, exact_rerank=n)
    got = {(r.query_id, r.rank): r.neighbor_id for r in full.collect()}
    assert got == exact
    assert set(full.columns) == {"query_id", "neighbor_id", "cos",
                                 "adc", "rank"}

    def recall(rows):
        per: dict = {}
        for r in rows:
            per.setdefault(r.query_id, set()).add(r.neighbor_id)
        truth: dict = {}
        for (qi, _rk), ni in exact.items():
            truth.setdefault(qi, set()).add(ni)
        hit = sum(len(truth[qi] & per.get(qi, set())) for qi in truth)
        return hit / sum(len(truth[qi]) for qi in truth)

    plain = recall(SIM.pq_topk(emb, q, dim=64, k=k, m=8).collect())
    rr = recall(SIM.pq_topk(emb, q, dim=64, k=k, m=8,
                            exact_rerank=50).collect())
    assert rr >= plain - 1e-9, (rr, plain)


def test_update_zonemap_incremental(spark, tmp_path):
    """incremental manifest maintenance: appended files footer-scan in
    (only the delta), removed files drop, pruning stays sound and
    equal to a full rebuild."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    spark.createDataFrame([(i, float(i)) for i in range(10)],
                          "k int, v double").coalesce(1) \
        .write.parquet(path)
    Z.build_zonemap(spark, path, ["v"])
    assert Z.update_zonemap(spark, path) == (0, 0)     # current: no-op

    spark.createDataFrame([(i, float(i)) for i in range(100, 110)],
                          "k int, v double").coalesce(1) \
        .write.mode("append").parquet(path)
    added, dropped = Z.update_zonemap(spark, path)
    assert (added, dropped) == (1, 0)
    # the refreshed manifest prunes the new file correctly
    surv, total = Z.zone_prune(spark, path, [("v", ">=", 100.0)])
    assert total == 2 and len(surv) == 1
    assert Z.read_skipping(spark, path,
                           [("v", ">=", 100.0)]).count() == 10

    # compaction rewrites the files: update drops the old rows and
    # scans the new files; equal to a full rebuild
    M.compact_parquet(spark, path, target_mb=512)
    Z.build_zonemap(spark, path, ["v"])        # compaction dropped it
    spark.createDataFrame([(1, 500.0)], "k int, v double").coalesce(1) \
        .write.mode("append").parquet(path)
    added, dropped = Z.update_zonemap(spark, path)
    assert added == 1 and dropped == 0
    zp = os.path.join(path, Z.ZONEMAP_DIR)
    # rename-FS tables commit the manifest as a snapshot too
    assert os.path.exists(os.path.join(zp, "_manifest.json"))
    inc = {(r["file"], r["n_rows"]) for r in
           Z._read_manifest_df(spark, zp, None).collect()}
    Z.build_zonemap(spark, path, ["v"])
    full = {(r["file"], r["n_rows"]) for r in
            Z._read_manifest_df(spark, zp, None).collect()}
    assert inc == full


def test_ivfpq_recall_and_rerank_schema(spark, sf_dir):
    """IVF-PQ composition: recall floor vs exact (cells + codes +
    rerank), plain path returns adc, rerank path adds exact cos and
    ranks by it (per-query cos non-increasing in rank)."""
    from dask_expr_spark.functions import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    k = 5
    truth: dict = {}
    for r in SIM.cosine_topk_blocked(emb, q, k=k) \
            .filter(F.col("query_id") != F.col("neighbor_id")).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    plain = SIM.ivfpq_topk(emb, q, dim=64, k=k, m=16, num_cells=16,
                           nprobe=12)
    assert set(plain.columns) == {"query_id", "neighbor_id", "adc",
                                  "rank"}
    rr = SIM.ivfpq_topk(emb, q, dim=64, k=k, m=16, num_cells=16,
                        nprobe=12, exact_rerank=100)
    rows = rr.collect()
    assert set(rr.columns) == {"query_id", "neighbor_id", "cos", "adc",
                               "rank"}
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for lst in by_q.values():
        lst.sort()
        assert all(a[1] >= b[1] - 1e-12 for a, b in zip(lst, lst[1:]))
    per = {qi: {r.neighbor_id for r in rows if r.query_id == qi}
           for qi in truth}
    hit = sum(len(truth[qi] & per.get(qi, set())) for qi in truth)
    tot = sum(len(truth[qi]) for qi in truth)
    assert hit / tot >= 0.8, f"ivfpq rerank recall {hit / tot}"


def test_split_temporal_semantics(spark, sf_dir):
    """temporal split: train strictly older than cutoff-embargo, val
    at/after cutoff, embargo in between; derived-percentile cutoff
    hits the requested fraction; no row lost."""
    import datetime

    from dask_expr_spark.functions.sampling import split_temporal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = datetime.datetime(2024, 1, 20)
    s = split_temporal(ev, "ts", cutoff=cut, embargo="3 days")
    rows = s.select("ts", "split").collect()
    assert len(rows) == ev.count()
    lo = cut - datetime.timedelta(days=3)
    for r in rows:
        if r["split"] == "train":
            assert r["ts"] < lo
        elif r["split"] == "val":
            assert r["ts"] >= cut
        else:
            assert lo <= r["ts"] < cut
    # derived cutoff: val fraction within a row of the target
    s2 = split_temporal(ev, "ts", val_fraction=0.25)
    n = ev.count()
    v = s2.where(F.col("split") == "val").count()
    assert abs(v / n - 0.25) < 0.02
    # and the split is a strict time partition
    mx_train = s2.where(F.col("split") == "train") \
        .agg(F.max("ts")).collect()[0][0]
    mn_val = s2.where(F.col("split") == "val") \
        .agg(F.min("ts")).collect()[0][0]
    assert mx_train < mn_val


def test_snapshot_write_crash_before_flip(spark, tmp_path,
                                          monkeypatch):
    """snapshot commit protocol (round-9 CAS semantics): the commit
    point is the EXCLUSIVE claim of `_manifest.{n}.json`.  A crash
    BEFORE the claim (injected at os.link, the PosixFS exclusive-
    publish primitive) leaves the previous version live and the
    written directory an invisible orphan; a retry commits cleanly
    and takes the number.  A crash AFTER the claim but before the
    `_manifest.json` cache refresh (injected at os.replace) leaves
    the version COMMITTED — probe-forward readers resolve it."""
    path = str(tmp_path / "snap")
    v0 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, p double")
    assert M.snapshot_write(v0, path) == 0

    # --- crash at the commit point (the exclusive claim) ---------
    real_link = os.link

    def boom_link(src, dst):
        raise RuntimeError("injected crash at the commit point")

    monkeypatch.setattr(os, "link", boom_link)
    v1 = spark.createDataFrame([(1, 10.0)], "k int, p double")
    with pytest.raises(RuntimeError):
        M.snapshot_write(v1, path)
    monkeypatch.setattr(os, "link", real_link)

    # current is still v0; version 1 never became readable
    assert M.snapshot_history(path)[-1]["version"] == 0
    got = {r["k"]: r["p"] for r in M.snapshot_read(spark, path).collect()}
    assert got == {1: 1.0, 2: 2.0}
    with pytest.raises(ValueError, match="not available"):
        M.snapshot_read(spark, path, 1)

    # retry commits cleanly as version 1
    assert M.snapshot_write(v1, path) == 1
    got = {r["k"]: r["p"] for r in M.snapshot_read(spark, path).collect()}
    assert got == {1: 10.0}
    assert {v["version"] for v in M.snapshot_history(path)} == {0, 1}

    # --- crash AFTER the claim, before the cache refresh ---------
    real_replace = os.replace

    def boom_replace(src, dst):
        if dst.endswith("_manifest.json"):
            raise RuntimeError("injected crash after the claim")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom_replace)
    v2 = spark.createDataFrame([(1, 20.0)], "k int, p double")
    with pytest.raises(RuntimeError):
        M.snapshot_write(v2, path)
    monkeypatch.setattr(os, "replace", real_replace)
    # the claim IS the commit: version 2 is live via probe-forward
    assert M.snapshot_history(path)[-1]["version"] == 2
    got = {r["k"]: r["p"] for r in M.snapshot_read(spark, path).collect()}
    assert got == {1: 20.0}


def test_snapshot_vacuum_crash_mid_delete(spark, tmp_path,
                                          monkeypatch):
    """vacuum flips the manifest BEFORE deleting: a crash mid-delete
    strands directories (reclaimable by re-running vacuum) but never
    dangles a pointer — every manifest-listed version stays
    readable."""
    import shutil as _sh

    path = str(tmp_path / "snap")
    for i in range(3):
        M.snapshot_write(
            spark.createDataFrame([(i, float(i))], "k int, p double"),
            path)

    real = _sh.rmtree

    def boom(p, **kw):
        raise RuntimeError("injected crash mid-delete")

    monkeypatch.setattr(_sh, "rmtree", boom)
    with pytest.raises(RuntimeError):
        M.snapshot_vacuum(path, keep=1)
    monkeypatch.setattr(_sh, "rmtree", real)

    # the manifest committed: v0 and v1 are gone from history...
    live = {v["version"] for v in M.snapshot_history(path)}
    assert live == {2}
    # ...and every listed version still reads (no dangling pointer)
    assert M.snapshot_read(spark, path, 2).count() == 1
    # the stranded directory is reclaimed by the next write cycle or
    # an explicit re-vacuum; either way reads stay consistent
    assert M.snapshot_read(spark, path).count() == 1


def test_upsert_evolve_schema(spark):
    """schema evolution on the whole-table merge: a batch with a NEW
    column lands it on old rows as null; a batch MISSING a column
    leaves it null on inserted rows; order_col still resolves
    in-batch duplicates after widening."""
    target = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "k int, p double")
    upd = spark.createDataFrame(
        [(2, 20.0, "en", 0), (2, 22.0, "de", 1), (3, 30.0, "fr", 0)],
        "k int, p double, lang string, v int")
    got2 = {r["k"]: (r["p"], r["lang"], r["v"]) for r in
            M.upsert(target, upd, ["k"], order_col="v",
                     evolve_schema=True).collect()}
    assert got2 == {1: (1.0, None, None), 2: (22.0, "de", 1),
                    3: (30.0, "fr", 0)}
    # reverse direction: batch missing a target column
    upd2 = spark.createDataFrame([(4,)], "k int")
    got3 = {r["k"]: r["p"] for r in
            M.upsert(target, upd2, ["k"], evolve_schema=True).collect()}
    assert got3 == {1: 1.0, 2: 2.0, 4: None}
    # default stays strict: a batch MISSING a target column raises at
    # plan time (extra batch columns were always projected away)
    with pytest.raises(Exception):
        M.upsert(target, upd2, ["k"]).collect()


def test_zonemap_bucketed_table_and_partition_col_guard(spark,
                                                        tmp_path):
    """zone maps compose with the key-bucketed layout (`__bucket=N`
    hive dirs are data, not system dirs), and indexing a hive
    PARTITION column is rejected — its values live in dir names, so a
    footer manifest would unsoundly prune matching files."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(40), "v": [float(i) for i in range(40)]})
    M.write_bucketed(spark.createDataFrame(pdf), path, ["k"], 4)
    man = Z.build_zonemap(spark, path, ["v"])
    assert man.count() == len(Z._data_files(path)) > 0
    surv, total = Z.zone_prune(spark, path, [("v", ">=", 35.0)])
    assert 0 < len(surv) <= total
    got = Z.read_skipping(spark, path, [("v", ">=", 35.0)])
    assert sorted(r["v"] for r in got.collect()) \
        == [float(i) for i in range(35, 40)]
    with pytest.raises(ValueError, match="partition columns"):
        Z.build_zonemap(spark, path, ["__bucket"])


def test_upsert_sink_zonemap_maintenance(spark, tmp_path, monkeypatch):
    """the streaming CDC sink keeps the zone map fresh: first batch
    builds it, later batches update it delta-only (once per batch: no
    refresh finds nothing to do), and a pruned read over the live
    snapshot matches the plain filter after every epoch."""
    src = str(tmp_path / "src")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    from dask_expr_spark.sources import zonemap as Z
    from dask_expr_spark.streaming import ops as S

    calls = []
    build, update = Z.build_zonemap, Z.update_zonemap

    def counted(fn, kind):
        def run(*a, **kw):
            out = fn(*a, **kw)
            calls.append((kind, out if kind == "update" else None))
            return out
        return run

    monkeypatch.setattr(Z, "build_zonemap", counted(build, "build"))
    monkeypatch.setattr(Z, "update_zonemap", counted(update, "update"))

    def add_version(i):
        pdf = pd.DataFrame({
            "k": list(range(i * 100, i * 100 + 100)),
            "v": [float(i * 100 + j) for j in range(100)],
            "ver": [i] * 100,
        })
        (spark.createDataFrame(pdf).coalesce(1)
         .write.mode("append").parquet(src))

    add_version(0)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = S.upsert_sink(stream, table, ["k"], n_buckets=4,
                      order_col="ver", zonemap_cols=["v"],
                      checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        # the bootstrap epoch already built the zone map
        assert M._read_manifest(os.path.join(table, Z.ZONEMAP_DIR)) \
            is not None, calls
        add_version(1)
        add_version(2)
        q.processAllAvailable()
    finally:
        q.stop()
    assert [k for k, _ in calls] == ["build", "update", "update"], calls
    assert ("update", (0, 0)) not in calls, calls
    # manifest is current: update is a no-op
    assert update(spark, table) == (0, 0)
    preds = [("v", ">=", 250.0)]
    surv, total = Z.zone_prune(spark, table, preds)
    assert 0 < len(surv) < total
    got = Z.read_skipping(spark, table, preds).drop("__bucket")
    want = M.read_bucketed(spark, table).where(F.col("v") >= 250.0)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))


@pytest.mark.slow
def test_cdc_apply_roundtrip_randomized(spark):
    """the CDC loop law, randomized: for arbitrary before/after states
    (updates incl. null transitions, deletes, inserts),
    cdc_apply(before, cdc_rows(before, after)) == after; partial-
    column CDC is rejected."""
    import random

    rng = random.Random(13)
    for trial in range(3):
        before_rows = [(k, rng.choice([None, float(rng.randint(0, 5))]),
                        rng.choice("abc")) for k in range(40)]
        after_rows = []
        for k, p, s in before_rows:
            r = rng.random()
            if r < 0.2:
                continue                       # delete
            if r < 0.5:
                after_rows.append(
                    (k, rng.choice([None, float(rng.randint(0, 5))]),
                     rng.choice("abc")))       # maybe-update
            else:
                after_rows.append((k, p, s))   # unchanged
        after_rows += [(100 + trial * 10 + j, float(j), "n")
                       for j in range(3)]      # inserts
        before = spark.createDataFrame(before_rows,
                                       "k int, p double, s string")
        after = spark.createDataFrame(after_rows,
                                      "k int, p double, s string")
        cdc = M.cdc_rows(before, after, ["k"])
        applied = M.cdc_apply(before, cdc, ["k"])
        assert sorted(map(tuple, applied.collect())) \
            == sorted(map(tuple, after.collect())), f"trial {trial}"
    partial = M.cdc_rows(before, after, ["k"], compare_cols=["p"])
    with pytest.raises(ValueError, match="do not carry"):
        M.cdc_apply(before, partial, ["k"])


def test_scd2_delete_guard_and_skip(spark):
    """scd2_delete: retroactive deletes raise with a count (or drop
    under skip), unknown keys are ignored, and the closed row keeps
    its attributes with valid_to = the delete time."""
    import datetime

    import pandas as pd
    import pytest

    base = spark.createDataFrame(pd.DataFrame({
        "k": [1, 2, 3], "v": [1.0, 2.0, 3.0],
        "eff": [datetime.date(2020, 1, 1)] * 3}))
    hist = M.scd2_init(base, "eff")
    dels = spark.createDataFrame(pd.DataFrame({
        "k": [2, 99], "eff": [datetime.date(2021, 1, 1)] * 2}))
    out = M.scd2_delete(hist, dels, ["k"], "eff")
    rows = {r["k"]: (r["v"], r["valid_to"], r["is_current"])
            for r in out.collect()}
    assert rows[2] == (2.0, datetime.date(2021, 1, 1), False)
    assert rows[1][2] and rows[3][2] and rows[1][1] is None
    assert 99 not in rows and len(rows) == 3

    retro = spark.createDataFrame(pd.DataFrame({
        "k": [1], "eff": [datetime.date(2019, 1, 1)]}))
    with pytest.raises(ValueError, match="retroactive"):
        M.scd2_delete(hist, retro, ["k"], "eff")
    skipped = M.scd2_delete(hist, retro, ["k"], "eff",
                            retroactive="skip")
    assert skipped.where("k = 1 AND is_current").count() == 1


def test_scd2_null_current_rows_preserved(spark):
    """A malformed history row with NULL in is_current must not vanish:
    both scd2_delete and upsert_scd2 partition the history with a
    null-safe split that routes NULL-current rows to the closed side,
    preserved verbatim (ADVICE r8: the where(cur)/where(~cur) pair
    silently dropped them)."""
    import datetime

    import pandas as pd

    d0 = datetime.date(2020, 1, 1)
    hist = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2],
        "v": [1.0, 1.5, 2.0],
        "valid_from": [d0, datetime.date(2020, 6, 1), d0],
        "valid_to": [datetime.date(2020, 6, 1), None, None],
        "is_current": [False, True, None],
    })).withColumn("is_current", F.col("is_current").cast("boolean"))

    dels = spark.createDataFrame(pd.DataFrame({
        "k": [1, 2], "eff": [datetime.date(2021, 1, 1)] * 2}))
    out = M.scd2_delete(hist, dels, ["k"], "eff").collect()
    assert len(out) == 3                       # nothing vanished
    k2 = [r for r in out if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["is_current"] is None  # verbatim

    ups = spark.createDataFrame(pd.DataFrame({
        "k": [1, 2], "v": [9.0, 9.5],
        "eff": [datetime.date(2021, 1, 1)] * 2}))
    out2 = M.upsert_scd2(hist, ups, ["k"], "eff")
    # k=2's NULL-current row survives on the closed side; the update
    # for k=2 inserts as a novel current row (no current row existed)
    rows2 = out2.where("k = 2").collect()
    assert {r["is_current"] for r in rows2} == {None, True}
