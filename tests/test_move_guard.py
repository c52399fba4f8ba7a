"""The upsert move guard checks only the OUTSIDE dirs — the base
snapshot's committed partition dirs the batch does not touch — and a
batch that touches every committed dir runs no guard job at all.
Also pins the `order_col` merge that empties a touched dir: the
emptied dir commits as dropped under both protocols, so the row it
held never stays live next to its replacement."""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pytest

from dask_expr_spark.functions import maintenance as M

PROTOCOLS = ("pointer", "rename")


def _mk(spark, path, commit):
    """30 rows, k = 0..29, v = float(k), part = a/b/c by k % 3."""
    pdf = pd.DataFrame({"k": range(30), "v": [float(i) for i in range(30)],
                        "part": [("a", "b", "c")[i % 3] for i in range(30)]})
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .partitionBy("part").parquet(path)
    if commit == "pointer":
        M.manifest_bootstrap(path, "part")


def _read(spark, path, commit):
    df = (M.read_manifested(spark, path) if commit == "pointer"
          else spark.read.parquet(path))
    return sorted((r["k"], r["v"], r["part"]) for r in df.collect())


def _batch(spark, rows, cols=("k", "v", "part")):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)))


def _counted(monkeypatch, name):
    """Replace M.<name> with a wrapper recording each call's args."""
    calls = []
    real = getattr(M, name)

    def wrapper(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(M, name, wrapper)
    return calls


def _jobs(spark, fn) -> int:
    """Spark jobs `fn()` launches (its threads included: the bloom
    update inherits the job group), counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"move-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("commit", PROTOCOLS)
def test_batch_touching_every_dir_runs_no_guard(spark, tmp_path,
                                                monkeypatch, commit):
    """An update batch that touches every committed dir leaves no dir
    for a mover's old row: the guard reads no bloom and scans nothing,
    and the upsert launches fewer jobs than the same upsert with one
    partition left out (which does run the bloom probe)."""
    def setup(name):
        path, bloom = str(tmp_path / name), str(tmp_path / f"{name}_bloom")
        _mk(spark, path, commit)
        M.build_key_bloom(spark, path, ["k"], bloom)
        return path, bloom

    blooms = _counted(monkeypatch, "read_key_bloom")
    scans = _counted(monkeypatch, "_move_guard_full_scan")
    every, every_bloom = setup("every")
    n_every = _jobs(spark, lambda: M.upsert_partitioned(
        spark, every, _batch(spark, [(0, 100.0, "a"), (1, 101.0, "b"),
                                     (2, 102.0, "c")]),
        ["k"], "part", key_bloom_path=every_bloom, commit=commit))
    assert blooms == [] and scans == []
    partial, partial_bloom = setup("partial")
    n_partial = _jobs(spark, lambda: M.upsert_partitioned(
        spark, partial, _batch(spark, [(0, 100.0, "a"), (1, 101.0, "b")]),
        ["k"], "part", key_bloom_path=partial_bloom, commit=commit))
    assert len(blooms) == 1 and scans == []     # maybe-hits, all touched
    assert n_every < n_partial
    exp = [(k, float(k), "abc"[k % 3]) for k in range(3, 30)]
    assert _read(spark, every, commit) == sorted(
        exp + [(0, 100.0, "a"), (1, 101.0, "b"), (2, 102.0, "c")])
    # the skipped guard still keeps the bloom current: a later move of
    # an updated key out of its dir is refused
    with pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, every,
                             _batch(spark, [(0, 1.0, "b")]), ["k"],
                             "part", key_bloom_path=every_bloom,
                             commit=commit)


@pytest.mark.parametrize("commit", PROTOCOLS)
def test_mover_from_untouched_dir_scans_only_outside(spark, tmp_path,
                                                     monkeypatch, commit):
    """A key moved INTO a touched dir FROM an untouched one is still
    rejected, and the exact scan reads only the outside dirs' files."""
    path = str(tmp_path / "t")
    _mk(spark, path, commit)
    scans = _counted(monkeypatch, "_move_guard_full_scan")
    before = _read(spark, path, commit)
    # k=5 lives in part=c; the batch touches a and b only
    mover = _batch(spark, [(5, 9.0, "a"), (1, 10.0, "b")])
    with pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, path, mover, ["k"], "part",
                             commit=commit)
    assert len(scans) == 1
    files = scans[0][1].inputFiles()
    assert files and all("/part=c/" in f for f in files)
    assert _read(spark, path, commit) == before


@pytest.mark.parametrize("commit", PROTOCOLS)
def test_move_between_touched_dirs_lands_once(spark, tmp_path, commit):
    """A key moved between two dirs the batch both touches is no
    mover: the merge's anti join replaces its old row, so it lands
    exactly once, in its new dir."""
    path = str(tmp_path / "t")
    _mk(spark, path, commit)
    # k=0 moves a -> b; k=3 keeps the batch touching a
    M.upsert_partitioned(spark, path,
                         _batch(spark, [(0, 50.0, "b"), (3, 53.0, "a")]),
                         ["k"], "part", commit=commit)
    got = _read(spark, path, commit)
    assert [r for r in got if r[0] == 0] == [(0, 50.0, "b")]
    assert [r for r in got if r[0] == 3] == [(3, 53.0, "a")]
    assert len(got) == 30


@pytest.mark.parametrize("commit", PROTOCOLS)
def test_order_col_emptied_dir_commits_dropped(spark, tmp_path, commit):
    """`order_col` keeps a batch key's newest row; when that moves the
    key's only row out of a touched dir, the dir holds no merged row.
    It must commit as emptied: left alone, its old file stayed live and
    the key read back twice."""
    path = str(tmp_path / "t")
    spark.createDataFrame(pd.DataFrame({
        "k": [1, 2], "v": [1.0, 2.0], "part": ["a", "c"]})) \
        .write.partitionBy("part").parquet(path)
    if commit == "pointer":
        M.manifest_bootstrap(path, "part")
    batch = _batch(spark, [(1, 10.0, "a", 1), (1, 20.0, "b", 2)],
                   cols=("k", "v", "part", "ts"))
    parts = M.upsert_partitioned(spark, path, batch, ["k"], "part",
                                 order_col="ts", commit=commit)
    assert sorted(parts) == ["a", "b"]
    assert _read(spark, path, commit) == [(1, 20.0, "b"), (2, 2.0, "c")]
    if commit == "pointer":
        assert M.read_commit(path)["partitions"]["part=a"] == []
    else:
        assert not os.path.isdir(os.path.join(path, "part=a"))
        assert not os.path.isdir(path + "__drop")
