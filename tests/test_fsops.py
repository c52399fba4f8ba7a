"""Round-8 filesystem-seam tests: the durability layer runs against
the TableFS abstraction (fsops.py), the pointer-commit protocol is
object-store-safe (zero renames on table data), and the rename
protocols refuse to run where rename isn't atomic."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from dask_expr_spark.functions import maintenance as M
from dask_expr_spark import fsops


def _mk(spark, path, parts=("a", "b", "c")):
    pdf = pd.DataFrame({
        "k": range(30),
        "v": [float(i) for i in range(30)],
        "part": [parts[i % len(parts)] for i in range(30)]})
    df = spark.createDataFrame(pdf)
    df.write.mode("overwrite").partitionBy("part").parquet(path)
    return pdf


def _rows(df):
    return sorted((r["k"], r["v"], r["part"]) for r in df.collect())


class FakeObjectStoreFS(fsops.PosixFS):
    """PosixFS masquerading as an object store: rename FORBIDDEN
    (raises — proving the pointer protocol never needs one), and the
    manifest write is a direct single-object put, the way an S3 PUT
    commits (no temp+rename)."""

    scheme = "fake-s3"
    atomic_rename = False

    def __init__(self):
        self.renames = []

    def rename(self, src: str, dst: str) -> None:
        self.renames.append((src, dst))
        raise AssertionError(
            f"object store rename attempted: {src} -> {dst}")

    def write_text_atomic(self, path: str, text: str) -> None:
        with open(path, "w") as f:       # one PUT, no rename
            f.write(text)


# ------------------------------------------------------------ fsops

def test_posix_walk_files_skip_dir(tmp_path):
    fs = fsops.PosixFS()
    (tmp_path / "d" / "_skipme").mkdir(parents=True)
    (tmp_path / "d" / "keep").mkdir()
    (tmp_path / "d" / "a.parquet").write_bytes(b"xx")
    (tmp_path / "d" / "_skipme" / "b.parquet").write_bytes(b"yy")
    (tmp_path / "d" / "keep" / "c.parquet").write_bytes(b"zzz")
    got = dict(fs.walk_files(str(tmp_path / "d"),
                             skip_dir=lambda d: d.startswith("_")))
    names = {os.path.basename(p): s for p, s in got.items()}
    assert names == {"a.parquet": 2, "c.parquet": 3}


def test_list_stats_same_listing_on_both_filesystems(spark, tmp_path):
    """PosixFS and HadoopFS list the same relative paths and sizes (the
    read_parquet schema cache fingerprints either); mtimes agree up to
    each filesystem's unit (ns vs ms)."""
    d = tmp_path / "d"
    (d / "p=1").mkdir(parents=True)
    (d / "a.parquet").write_bytes(b"xx")
    (d / "p=1" / "b.parquet").write_bytes(b"yyy")
    posix = sorted(fsops.PosixFS().list_stats(str(d)))
    hadoop = sorted(fsops.get_fs(f"file://{d}", spark)
                    .list_stats(f"file://{d}"))
    assert [(r, s) for r, s, _ in posix] == \
        [("a.parquet", 2), ("p=1/b.parquet", 3)]
    assert [(r, s) for r, s, _ in hadoop] == [(r, s) for r, s, _ in posix]
    assert [m // 10**6 for _, _, m in posix] == [m for _, _, m in hadoop]
    one = f"file://{d}/a.parquet"
    assert [r for r, _, _ in fsops.get_fs(one, spark).list_stats(one)] \
        == ["a.parquet"]
    assert [r for r, _, _ in fsops.PosixFS().list_stats(str(d / "a.parquet"))] \
        == ["a.parquet"]


def test_scheme_resolution():
    assert fsops.scheme_of("/tmp/x") == "file"
    assert fsops.scheme_of("file:///tmp/x") == "file"
    assert fsops.scheme_of("s3a://bucket/k") == "s3a"
    assert fsops.scheme_of("hdfs://nn/x") == "hdfs"
    assert isinstance(fsops.get_fs("/tmp/x"), fsops.PosixFS)
    assert "s3a" not in fsops._RENAME_ATOMIC_SCHEMES
    assert "hdfs" in fsops._RENAME_ATOMIC_SCHEMES


def test_hadoop_fs_local_roundtrip(spark, tmp_path):
    """The JVM Hadoop FileSystem path, exercised against file:// (the
    one scheme this sandbox can reach) — the same code path an
    hdfs://, s3a:// or gs:// URI takes on a cluster."""
    root = f"file://{tmp_path}"
    fs = fsops.get_fs(root + "/t", spark=spark)
    assert isinstance(fs, fsops.HadoopFS)
    assert fs.atomic_rename          # file:// renames are atomic
    fs.mkdirs(root + "/t/sub")
    fs.write_text_atomic(root + "/t/m.json", '{"a": 1}')
    assert fs.exists(root + "/t/m.json")
    assert fs.isfile(root + "/t/m.json")
    assert json.loads(fs.read_text(root + "/t/m.json")) == {"a": 1}
    assert fs.listdir(root + "/t") == ["m.json", "sub"]
    fs.rename(root + "/t/m.json", root + "/t/m2.json")
    assert not fs.exists(root + "/t/m.json")
    assert fs.getsize(root + "/t/m2.json") == 8
    files = list(fs.walk_files(root + "/t"))
    assert [os.path.basename(p) for p, _ in files] == ["m2.json"]
    fs.delete(root + "/t")
    assert not fs.exists(root + "/t")


# ----------------------------------------- pointer-commit protocol

def test_pointer_upsert_matches_rename_upsert(spark, tmp_path):
    """Differential: the two commit protocols produce identical table
    content for the same batch."""
    p_ren, p_ptr = str(tmp_path / "ren"), str(tmp_path / "ptr")
    _mk(spark, p_ren)
    _mk(spark, p_ptr)
    M.manifest_bootstrap(p_ptr, "part")
    batch = spark.createDataFrame(pd.DataFrame({
        "k": [0, 3, 100], "v": [99.0, 98.0, 97.0],
        "part": ["a", "a", "b"]}))
    M.upsert_partitioned(spark, p_ren, batch, ["k"], "part",
                         commit="rename")
    M.upsert_partitioned(spark, p_ptr, batch, ["k"], "part",
                         commit="pointer")
    assert (_rows(spark.read.parquet(p_ren))
            == _rows(M.read_manifested(spark, p_ptr)))


def test_pointer_untouched_partition_files_not_rewritten(spark,
                                                         tmp_path):
    """Change-sized cost: a batch touching only part=a leaves part=b
    and part=c file sets byte-identical AND the manifest entries for
    them unchanged."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    man0 = M.manifest_bootstrap(path, "part")
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [123.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    man1 = M.read_commit(path)
    assert man1["generation"] == man0["generation"] + 1
    assert man1["partitions"]["part=b"] == man0["partitions"]["part=b"]
    assert man1["partitions"]["part=c"] == man0["partitions"]["part=c"]
    assert man1["partitions"]["part=a"] != man0["partitions"]["part=a"]


def test_pointer_commit_zero_renames_on_fake_object_store(spark,
                                                          tmp_path):
    """The object-store contract, end-to-end: with rename FORBIDDEN
    (FakeObjectStoreFS raises on any rename) and os.rename/os.replace
    instrumented, a full pointer-mode upsert + read + vacuum completes
    with zero renames of any path under the table — driver-side data
    moves simply do not exist in this protocol."""
    path = str(tmp_path / "t")
    pdf = _mk(spark, path)
    fake = FakeObjectStoreFS()
    M.manifest_bootstrap(path, "part", fs=fake)

    touched = []
    real_rename, real_replace = os.rename, os.replace

    def spy_rename(src, dst):
        touched.append(("rename", src))
        return real_rename(src, dst)

    def spy_replace(src, dst):
        touched.append(("replace", src))
        return real_replace(src, dst)

    os.rename, os.replace = spy_rename, spy_replace
    try:
        batch = spark.createDataFrame(pd.DataFrame(
            {"k": [1, 4, 200], "v": [55.0, 44.0, 33.0],
             "part": ["b", "b", "c"]}))
        # auto mode must route to pointer on a non-atomic-rename fs
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             fs=fake, commit="auto")
        got = _rows(M.read_manifested(spark, path, fs=fake))
        M.vacuum_manifested(path, fs=fake)
    finally:
        os.rename, os.replace = real_rename, real_replace

    exp = {(r.k): (r.v, r.part) for r in pdf.itertuples()}
    exp.update({1: (55.0, "b"), 4: (44.0, "b"), 200: (33.0, "c")})
    assert got == sorted((k, v, p) for k, (v, p) in exp.items())
    assert fake.renames == []           # fs-level: none attempted
    table_moves = [s for _, s in touched
                   if s.startswith(str(tmp_path))]
    assert table_moves == []            # os-level: none bypassed


# Crash cases: every pointer mutation the flip serves, each on its
# own bootstrapped table.  The delete rewrites part=a and empties
# part=c; the compaction table holds 3 files per dir.  The value is
# the number of dirs the mutation appends into (its pre-list calls).
_CRASH_OPS = {"upsert": 2, "delete": 1, "compact": 3}


def _mk_crash_table(spark, path, op):
    if op == "compact":
        pdf = pd.DataFrame({
            "k": range(30),
            "v": [float(i) for i in range(30)],
            "part": [("a", "b", "c")[i % 3] for i in range(30)]})
        for i in range(3):
            (spark.createDataFrame(pdf.iloc[10 * i:10 * (i + 1)])
             .coalesce(1).write.mode("append")
             .partitionBy("part").parquet(path))
    else:
        _mk(spark, path)
    M.manifest_bootstrap(path, "part")


def _crash_op(spark, path, op):
    from pyspark.sql import functions as F

    if op == "upsert":
        batch = spark.createDataFrame(pd.DataFrame(
            {"k": [6, 7], "v": [1.5, 2.5], "part": ["a", "b"]}))
        return M.upsert_partitioned(spark, path, batch, ["k"], "part",
                                    commit="pointer")
    if op == "delete":
        pred = (F.col("part") == "c") | \
            ((F.col("part") == "a") & (F.col("k") < 6))
        return M.delete_where(spark, path, pred, "part",
                              commit="pointer")
    return M.compact_manifested(spark, path)


def _disk_is_manifest(path):
    """Every parquet file on disk is a committed file (no orphan)."""
    fs = fsops.PosixFS()
    on_disk = {os.path.join(path, d, f)
               for d in M._list_part_dirs(fs, path, ["part"])
               for f in M._part_files(fs, path, d)}
    return on_disk == set(M.manifest_files(M.read_commit(path), path))


def test_pointer_crash_before_flip_old_generation_live(spark,
                                                       tmp_path,
                                                       monkeypatch):
    """Kill after the append but before the manifest flip, for an
    upsert, a delete_where and a compaction: readers still see the
    previous generation and vacuum clears the orphaned files of the
    crashed attempt.  The upsert's retry succeeds without adopting
    the orphans."""
    def boom(path_, man_, fs_, **kw):
        raise RuntimeError("injected crash before flip")

    for op in _CRASH_OPS:
        path = str(tmp_path / op)
        _mk_crash_table(spark, path, op)
        gen = M.read_commit(path)["generation"]
        before = _rows(M.read_manifested(spark, path))
        monkeypatch.setattr(M, "_write_commit", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            _crash_op(spark, path, op)
        monkeypatch.undo()
        # old generation fully readable, crash invisible
        assert M.read_commit(path)["generation"] == gen, op
        assert _rows(M.read_manifested(spark, path)) == before, op
        after = before
        if op == "upsert":
            # retry lands; the orphans of the crashed attempt are not
            # adopted
            _crash_op(spark, path, op)
            after = _rows(M.read_manifested(spark, path))
            assert (6, 1.5, "a") in after and (7, 2.5, "b") in after
            assert len(after) == len(before)
        # vacuum drops superseded + orphaned files; table unchanged
        assert M.vacuum_manifested(path) > 0, op
        assert _rows(M.read_manifested(spark, path)) == after, op
        assert _disk_is_manifest(path), op


def test_pointer_crash_mid_append_is_invisible(spark, tmp_path,
                                               monkeypatch):
    """Kill during the commit itself, on the first post-append
    listing, for an upsert, a delete_where and a compaction: manifest
    untouched, table readable, vacuum clears the debris."""
    real = M._part_files
    for op, n_pre in _CRASH_OPS.items():
        path = str(tmp_path / op)
        _mk_crash_table(spark, path, op)
        before = _rows(M.read_manifested(spark, path))
        gen = M.read_commit(path)["generation"]
        calls = []

        def crash_on_postlist(fs, p, d, n_pre=n_pre, calls=calls):
            # the first n_pre calls are the pre-listing of the dirs
            # the append writes into; crash on the first post-list
            calls.append(d)
            if len(calls) > n_pre:
                raise RuntimeError("injected crash mid-commit")
            return real(fs, p, d)

        monkeypatch.setattr(M, "_part_files", crash_on_postlist)
        with pytest.raises(RuntimeError, match="injected crash"):
            _crash_op(spark, path, op)
        monkeypatch.undo()
        assert len(calls) == n_pre + 1, op
        assert M.read_commit(path)["generation"] == gen, op
        assert _rows(M.read_manifested(spark, path)) == before, op
        assert M.vacuum_manifested(path) > 0, op
        assert _rows(M.read_manifested(spark, path)) == before, op
        assert _disk_is_manifest(path), op


def test_write_commit_called_only_by_bootstrap_and_flip():
    """Every pointer-table mutation commits through _append_and_flip:
    the generation claim (_write_commit) has exactly two call sites,
    manifest_bootstrap's generation 0 and the flip.  A parse of the
    module source, no Spark."""
    import ast

    tree = ast.parse(open(M.__file__).read())
    callers = []
    for fn in tree.body:
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "_write_commit"):
                callers.append(getattr(fn, "name", None))
    assert sorted(callers) == ["_append_and_flip", "manifest_bootstrap"]


def test_rename_protocol_refuses_non_atomic_fs(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    fake = FakeObjectStoreFS()
    with pytest.raises(ValueError, match="not atomic"):
        M.atomic_overwrite(path, lambda p: None, fs=fake)
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [5.0], "part": ["a"]}))
    with pytest.raises(ValueError, match="pointer"):
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             fs=fake, commit="rename")


def test_pointer_move_guard_still_fires(spark, tmp_path):
    """The partition-move guard works off read_manifested in pointer
    mode: a key living in part=a cannot be upserted under part=b."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    mover = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [9.0], "part": ["b"]}))   # k=0 lives in part=a
    with pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, path, mover, ["k"], "part",
                             commit="pointer")


def test_pointer_bootstrap_from_scratch(spark, tmp_path):
    """No table on disk: pointer-mode upsert bootstraps table AND
    manifest in one call."""
    path = str(tmp_path / "t")
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 2], "v": [1.0, 2.0], "part": ["a", "b"]}))
    parts = M.upsert_partitioned(spark, path, batch, ["k"], "part",
                                 commit="pointer")
    assert sorted(parts) == ["a", "b"]
    assert _rows(M.read_manifested(spark, path)) == [
        (1, 1.0, "a"), (2, 2.0, "b")]


def test_pointer_upsert_bucketed(spark, tmp_path):
    """The bucketed (pseudo-partition) path composes with the pointer
    protocol: same merge result as the rename path."""
    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(20),
                        "v": [float(i) for i in range(20)]})
    M.write_bucketed(spark.createDataFrame(pdf), path, ["k"],
                     n_buckets=4)
    M.manifest_bootstrap(path, "__bucket")
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [3, 50], "v": [30.0, 500.0]}))
    M.upsert_bucketed(spark, path, batch, ["k"], commit="pointer")
    got = sorted((r["k"], r["v"]) for r in
                 M.read_manifested(spark, path).drop("__bucket")
                 .collect())
    exp = {i: float(i) for i in range(20)}
    exp.update({3: 30.0, 50: 500.0})
    assert got == sorted(exp.items())


def test_hive_part_dir_rendering():
    assert M._hive_part_dir("p", "abc") == "p=abc"
    assert M._hive_part_dir("p", 7) == "p=7"
    assert M._hive_part_dir("p", None) == "p=__HIVE_DEFAULT_PARTITION__"
    # hive-unsafe characters escape exactly like Spark's writer
    assert M._hive_part_dir("p", "a/b") == "p=a%2Fb"
    assert M._hive_part_dir("p", "a:b") == "p=a%3Ab"


def test_pointer_hive_escaped_partition_values(spark, tmp_path):
    """Partition values containing hive-unsafe characters roundtrip:
    the dir-name rendering must agree with Spark's writer or the
    commit aborts pre-flip (asserted non-corrupting either way)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 2], "v": [1.0, 2.0], "part": ["x:1", "y/2"]}))
    M.upsert_partitioned(spark, path, df, ["k"], "part",
                         commit="pointer")
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [10.0], "part": ["x:1"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    assert _rows(M.read_manifested(spark, path)) == [
        (1, 10.0, "x:1"), (2, 2.0, "y/2")]


def test_zonemap_listing_goes_through_seam(spark, tmp_path,
                                           monkeypatch):
    """zonemap's file listing resolves through fsops.get_fs (the same
    client executors use on a cluster), not a hard-coded os.walk."""
    from dask_expr_spark.sources import zonemap as Z
    path = str(tmp_path / "t")
    _mk(spark, path)
    seen = []
    real = fsops.get_fs

    def spy(p, spark=None):
        seen.append(p)
        return real(p, spark)

    monkeypatch.setattr(fsops, "get_fs", spy)
    files = Z._data_files(path)
    assert files and all(f.endswith(".parquet") for f in files)
    assert seen == [path]


def test_compact_manifested_roundtrip(spark, tmp_path):
    """pointer-table compaction: committed rows identical before and
    after, file counts drop, no rename of any data file (compaction =
    append fresh coalesced files + one flip), vacuum then clears the
    superseded originals."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    # accrete small files: several single-row pointer upserts
    for i in range(4):
        batch = spark.createDataFrame(pd.DataFrame(
            {"k": [i * 3], "v": [100.0 + i], "part": ["a"]}))
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             commit="pointer")
    before_rows = _rows(M.read_manifested(spark, path))
    man0 = M.read_commit(path)
    fb, fa = M.compact_manifested(spark, path, target_mb=128)
    assert fa < fb
    man1 = M.read_commit(path)
    assert man1["generation"] == man0["generation"] + 1
    # only dirs that benefited were rewritten; rows identical
    assert len(man1["partitions"]["part=a"]) == 1
    assert _rows(M.read_manifested(spark, path)) == before_rows
    removed = M.vacuum_manifested(path)
    assert removed > 0
    assert _rows(M.read_manifested(spark, path)) == before_rows
    # second compaction is a no-op
    fb2, fa2 = M.compact_manifested(spark, path, target_mb=128)
    assert fb2 == fa2 == fa


def test_zonemap_over_pointer_table(spark, tmp_path):
    """zone maps compose with pointer tables: the file listing is the
    MANIFEST's (a directory walk would index superseded files and
    uncommitted orphans), and read_skipping equals the manifested
    filter."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    # create superseded files (a pointer upsert leaves the old
    # generation on disk until vacuum)
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [999.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    man = M.read_commit(path)
    committed = {os.path.join(path, d, f)
                 for d, fl in man["partitions"].items() for f in fl}
    listed = set(Z._data_files(path))
    assert listed == committed          # superseded files excluded
    Z.build_zonemap(spark, path, ["k"])
    preds = [("k", ">=", 20)]
    got = _rows(Z.read_skipping(spark, path, preds))
    exp = _rows(M.read_manifested(spark, path).where("k >= 20"))
    assert got == exp and len(exp) > 0


def test_upsert_sink_pointer_commit(spark, tmp_path):
    """streaming ingest into a pointer-commit bucketed table: the
    multi-batch result equals the rename-protocol sink's, and the
    table reads back through read_manifested."""
    import pandas as pd

    from dask_expr_spark.streaming import ops as S

    def feed(src):
        for i in range(3):
            pdf = pd.DataFrame({
                "k": list(range(8)),
                "v": [float(i * 10 + kk) for kk in range(8)]})
            (spark.createDataFrame(pdf).coalesce(1)
             .write.mode("append").parquet(src))
        return spark.read.parquet(src).schema

    src_a, src_b = str(tmp_path / "sa"), str(tmp_path / "sb")
    tbl_a, tbl_b = str(tmp_path / "ta"), str(tmp_path / "tb")
    schema = feed(src_a)
    feed(src_b)
    for src, tbl, commit in ((src_a, tbl_a, "rename"),
                             (src_b, tbl_b, "pointer")):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = S.upsert_sink(stream, tbl, ["k"], n_buckets=4,
                          checkpoint_dir=str(tmp_path / f"ck_{commit}"),
                          commit=commit)
        q.processAllAvailable()
        q.stop()
    a = sorted((r["k"], r["v"]) for r in
               spark.read.parquet(tbl_a).drop("__bucket").collect())
    b = sorted((r["k"], r["v"]) for r in
               M.read_manifested(spark, tbl_b).drop("__bucket")
               .collect())
    assert a == b and len(a) == 8


def test_zonemap_on_fake_object_store(spark, tmp_path):
    """the full zone-map lifecycle (build, prune, read, incremental
    update) on the rename-forbidden fake object store: the manifest
    commits as a snapshot-version + pointer write instead of the
    rename swap, and pruning stays provably sound."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(60),
                        "v": [float(i) for i in range(60)]})
    (spark.createDataFrame(pdf).repartitionByRange(6, "k")
     .sortWithinPartitions("k").write.parquet(path))
    fake = FakeObjectStoreFS()
    Z.build_zonemap(spark, path, ["k"], fs=fake)
    assert fake.renames == []
    preds = [("k", ">=", 50)]
    surv, total = Z.zone_prune(spark, path, preds, fs=fake)
    assert 0 < len(surv) < total
    got = sorted(r["k"] for r in
                 Z.read_skipping(spark, path, preds, fs=fake).collect())
    assert got == list(range(50, 60))
    # append new files -> incremental update, still rename-free
    extra = pd.DataFrame({"k": [100, 101], "v": [1.0, 2.0]})
    spark.createDataFrame(extra).coalesce(1).write.mode("append") \
        .parquet(path)
    added, gone = Z.update_zonemap(spark, path, fs=fake)
    assert added == 1 and gone == 0
    assert fake.renames == []
    got2 = sorted(r["k"] for r in
                  Z.read_skipping(spark, path, preds, fs=fake)
                  .collect())
    assert got2 == list(range(50, 60)) + [100, 101]


@pytest.mark.parametrize("commit", ["rename", "pointer"])
def test_delete_where_roundtrip(spark, tmp_path, commit):
    """row-level delete in both protocols: TRUE rows go, FALSE and
    NULL rows stay, untouched partitions never rewrite, and a
    partition deleted empty disappears entirely (no stale rows)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / f"t_{commit}")
    pdf = pd.DataFrame({
        "k": range(30),
        "v": [None if i % 10 == 0 else float(i) for i in range(30)],
        "part": [("a", "b", "c")[i % 3] for i in range(30)]})
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .partitionBy("part").parquet(path)
    if commit == "pointer":
        M.manifest_bootstrap(path, "part")

    def read_back():
        if commit == "pointer":
            return M.read_manifested(spark, path)
        return spark.read.parquet(path)

    # delete v > 20 — hits parts a/b/c?  values 21..29 spread over all
    # three parts; NULL-v rows (k=0,10,20) must survive
    parts, n_del = M.delete_where(
        spark, path, F.col("v") > 20, "part", commit=commit)
    got = sorted((r["k"], r["part"]) for r in read_back().collect())
    exp = sorted((i, ("a", "b", "c")[i % 3]) for i in range(30)
                 if i % 10 == 0 or i <= 20)
    assert got == exp
    assert n_del == sum(1 for i in range(30)
                        if i % 10 != 0 and i > 20)
    assert sorted(parts) == ["a", "b", "c"]

    # whole-partition delete: everything in part=b goes; part=c is
    # not a hit partition this time, so its files must not rewrite
    untouched_before = sorted(os.listdir(os.path.join(path, "part=c")))
    parts, n_del = M.delete_where(
        spark, path, F.col("part") == "b", "part", commit=commit)
    assert parts == ["b"]
    left = read_back()
    assert left.where("part = 'b'").count() == 0
    if commit == "rename":
        assert not os.path.isdir(os.path.join(path, "part=b"))
        assert not os.path.isdir(path + "__drop")
        # part=c was never a hit partition in this second delete
        assert sorted(os.listdir(os.path.join(path, "part=c"))) \
            == untouched_before
    else:
        assert M.read_commit(path)["partitions"]["part=b"] == []
    # no-match delete is a no-op
    assert M.delete_where(spark, path, F.col("k") > 10**9, "part",
                          commit=commit) == ([], 0)


def test_delete_where_empty_drop_crash_recovers(spark, tmp_path,
                                                monkeypatch):
    """crash mid whole-partition drop (rename protocol): the dir is
    either live or in __drop trash; recover_table clears the trash and
    never resurrects deleted rows."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk(spark, path)
    real_delete = fsops.PosixFS.delete

    def boom(self, p):
        if p.endswith("__drop"):
            raise RuntimeError("injected crash before trash cleanup")
        return real_delete(self, p)

    monkeypatch.setattr(fsops.PosixFS, "delete", boom)
    with pytest.raises(RuntimeError):
        M.delete_where(spark, path, F.col("part") == "b", "part",
                       commit="rename")
    monkeypatch.undo()
    # the rename out committed: part=b is gone, trash remains
    assert not os.path.isdir(os.path.join(path, "part=b"))
    assert os.path.isdir(path + "__drop")
    M.recover_table(path)
    assert not os.path.isdir(path + "__drop")
    assert not os.path.isdir(os.path.join(path, "part=b"))
    got = {r["part"] for r in spark.read.parquet(path).collect()}
    assert got == {"a", "c"}


def test_delete_where_bucketed_table(spark, tmp_path):
    """delete_where composes with the md5-bucketed layout: pass
    __bucket as the partition column and only hit buckets rewrite."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(40),
                        "v": [float(i) for i in range(40)]})
    M.write_bucketed(spark.createDataFrame(pdf), path, ["k"],
                     n_buckets=8)
    parts, n_del = M.delete_where(spark, path, F.col("v") >= 35.0,
                                  "__bucket", commit="rename")
    assert n_del == 5
    got = sorted(r["k"] for r in M.read_bucketed(spark, path).collect())
    assert got == list(range(35))
    # spec sidecar survives the partial rewrite
    assert M.is_bucketed(path)


def test_delete_where_discovery_scan_is_pruned(spark, tmp_path):
    """the hit-partition discovery scan reads only the predicate's
    columns + the partition column (pushed filter, pruned schema) —
    at 100 TB this pass is the cheap one by construction."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(50),
                        "v": [float(i) for i in range(50)],
                        "wide_payload": ["x" * 50] * 50,
                        "part": [str(i % 3) for i in range(50)]})
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .partitionBy("part").parquet(path)
    df = (spark.read.parquet(path)
          .where(F.col("v") > 45.0)
          .select("part").distinct())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(v,45.0)" in plan.split("PushedFilters")[1][:120]
    assert "wide_payload" not in plan.split("ReadSchema")[1][:200]


def test_rename_protocol_refused_on_pointer_table(spark, tmp_path):
    """operating the rename protocol on a pointer-commit table would
    read superseded/orphan files and duplicate rows — explicit
    commit='rename' is refused, and commit='auto' routes to pointer
    even on an atomic-rename filesystem."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [9.0], "part": ["a"]}))
    # superseded generation on disk
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    with pytest.raises(ValueError, match="pointer-committed"):
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             commit="rename")
    with pytest.raises(ValueError, match="pointer-committed"):
        M.delete_where(spark, path, F.col("k") == 0, "part",
                       commit="rename")
    with pytest.raises(ValueError, match="compact_manifested"):
        M.compact_parquet(spark, path, partition_col="part")
    # auto on posix routes to pointer BECAUSE the manifest exists;
    # row count must stay exact despite the superseded files on disk
    batch2 = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [8.0], "part": ["b"]}))
    M.upsert_partitioned(spark, path, batch2, ["k"], "part",
                         commit="auto")
    assert M.read_manifested(spark, path).count() == 30


def test_delete_where_all_rows_then_reinsert(spark, tmp_path):
    """emptying a pointer table entirely is a legal state: the table
    reads back as zero rows (schema from remaining on-disk files) and
    a later pointer upsert re-populates it."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    parts, n_del = M.delete_where(spark, path, F.lit(True), "part",
                                  commit="pointer")
    assert n_del == 30
    assert M.read_manifested(spark, path).count() == 0
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [1.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    assert _rows(M.read_manifested(spark, path)) == [(1, 1.0, "a")]


def test_pointer_bootstrap_resolves_order_col(spark, tmp_path):
    """a first-batch pointer bootstrap must apply the same in-batch
    duplicate-key resolution (order_col max_by) as the merge path."""
    path = str(tmp_path / "t")
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 1], "v": [10.0, 20.0], "part": ["a", "a"],
         "ts": [1, 2]}))
    parts = M.upsert_partitioned(spark, path, batch, ["k"], "part",
                                 order_col="ts", commit="pointer")
    assert parts == ["a"]
    got = [(r["k"], r["v"]) for r in
           M.read_manifested(spark, path).collect()]
    assert got == [(1, 20.0)]


def test_delete_where_boolean_partition_values(spark, tmp_path):
    """partition values whose str() rendering diverges from Spark's
    (booleans: Python 'True' vs hive 'true') still delete correctly —
    dirs are derived from real file paths, not re-rendered values."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(10),
                        "flag": [i % 2 == 0 for i in range(10)]})
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .partitionBy("flag").parquet(path)
    # whole-partition delete of flag=true (partition discovery reads
    # boolean dirs back as STRING 'true'/'false' — exactly the
    # rendering a str(True)-based dir lookup would miss)
    parts, n_del = M.delete_where(spark, path,
                                  F.col("flag") == "true",
                                  "flag", commit="rename")
    assert n_del == 5
    assert not os.path.isdir(os.path.join(path, "flag=true"))
    left = spark.read.parquet(path)
    assert left.count() == 5
    assert left.where("flag = 'true'").count() == 0


# --------------------------------------- round 9: multi-writer CAS

def test_write_text_exclusive_posix(tmp_path):
    fs = fsops.PosixFS()
    p = str(tmp_path / "claim.json")
    fs.write_text_exclusive(p, '{"g": 1}')
    assert json.loads(fs.read_text(p)) == {"g": 1}
    with pytest.raises(FileExistsError):
        fs.write_text_exclusive(p, '{"g": 2}')
    assert json.loads(fs.read_text(p)) == {"g": 1}    # loser changed nothing
    # no temp residue
    assert [f for f in os.listdir(tmp_path) if f.endswith(".tmp")] == []


def test_write_text_exclusive_hadoop_local(spark, tmp_path):
    """the JVM path: rename-onto-existing fails on Hadoop local fs,
    making the publish exclusive."""
    root = f"file://{tmp_path}"
    fs = fsops.get_fs(root + "/t", spark=spark)
    fs.mkdirs(root + "/t")
    fs.write_text_exclusive(root + "/t/c.json", '{"g": 1}')
    with pytest.raises(FileExistsError):
        fs.write_text_exclusive(root + "/t/c.json", '{"g": 2}')
    assert json.loads(fs.read_text(root + "/t/c.json")) == {"g": 1}
    assert [f for f in fs.listdir(root + "/t")
            if f.endswith(".tmp")] == []


def test_concurrent_commit_interleaved_loser_raises(spark, tmp_path):
    """the lost-update interleaving under STRICT single-log
    serialization (rebase=False), deterministically: writers A and B
    both read generation g; A commits g+1; B's flip (computed against
    the stale base) must RAISE even though the partitions are
    disjoint, the table must show exactly A's commit, and B's
    appended files must be vacuumable orphans."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    man_b = M.read_commit(path)               # B's stale snapshot

    batch_a = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [111.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, batch_a, ["k"], "part",
                         commit="pointer")    # A wins generation 1

    batch_b = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [222.0], "part": ["b"]}))
    fs = fsops.PosixFS()
    with pytest.raises(M.ConcurrentCommitError, match="generation 1"):
        M._append_and_flip(spark, path, batch_b, "part", man_b, fs,
                           ["part=b"], rebase=False)

    got = _rows(M.read_manifested(spark, path))
    assert (0, 111.0, "a") in got             # A's row committed
    assert (1, 222.0, "b") not in got         # B's row invisible
    assert (1, 1.0, "b") in got               # original row intact
    removed = M.vacuum_manifested(path)       # B's orphans clear
    assert removed > 0
    assert _rows(M.read_manifested(spark, path)) == got
    # B re-runs against the new head and succeeds
    M.upsert_partitioned(spark, path, batch_b, ["k"], "part",
                         commit="pointer")
    assert (1, 222.0, "b") in _rows(M.read_manifested(spark, path))


def test_concurrent_commit_api_level_loser_raises(spark, tmp_path,
                                                  monkeypatch):
    """the same lost-update interleaving through the PUBLIC API for
    both writers, on a CONFLICTING dir: B's upsert_partitioned
    computes its manifest, and a hook injected at B's claim point runs
    writer A's ENTIRE upsert_partitioned first (deterministic injected
    ordering — a thread race would also hit Spark's shared
    append-staging dir).  Both writers touch part=a, so the default
    rebase must REFUSE: exactly one commit lands (A's); B raises
    ConcurrentCommitError naming the overlapping dir; the loser
    re-runs against the new head and both batches apply."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    real = M._write_commit
    state = {"fired": False}

    def inject(p, man, fs, **kw):
        if not state["fired"]:
            state["fired"] = True            # A's inner claim is real
            batch_a = spark.createDataFrame(pd.DataFrame(
                {"k": [100], "v": [1.0], "part": ["a"]}))
            M.upsert_partitioned(spark, path, batch_a, ["k"], "part",
                                 commit="pointer")
        return real(p, man, fs, **kw)

    monkeypatch.setattr(M, "_write_commit", inject)
    batch_b = spark.createDataFrame(pd.DataFrame(
        {"k": [200], "v": [2.0], "part": ["a"]}))
    with pytest.raises(M.ConcurrentCommitError,
                       match=r"same partition dirs.*part=a"):
        M.upsert_partitioned(spark, path, batch_b, ["k"], "part",
                             commit="pointer")
    monkeypatch.setattr(M, "_write_commit", real)
    got = _rows(M.read_manifested(spark, path))
    assert (100, 1.0, "a") in got              # A (winner) landed
    assert (200, 2.0, "a") not in got          # B invisible
    # loser re-runs cleanly against the new head
    M.upsert_partitioned(spark, path, batch_b, ["k"], "part",
                         commit="pointer")
    got2 = _rows(M.read_manifested(spark, path))
    assert (100, 1.0, "a") in got2 and (200, 2.0, "a") in got2


def test_read_commit_probe_forward_and_cache_recovery(spark, tmp_path):
    """the claims are the truth, the `_commit.json` cache is an
    optimization: a stale cache (crash between claim and refresh)
    resolves forward to the newest claim, and a MISSING cache
    recovers from one root listing."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    man0 = M.read_commit(path)
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [9.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    # simulate the crash: cache rolled back to generation 0
    with open(os.path.join(path, "_commit.json"), "w") as f:
        f.write(json.dumps(man0))
    man = M.read_commit(path)
    assert int(man["generation"]) == 1         # probed forward
    assert (0, 9.0, "a") in _rows(M.read_manifested(spark, path))
    # cache missing entirely -> recover via listing
    os.remove(os.path.join(path, "_commit.json"))
    man = M.read_commit(path)
    assert int(man["generation"]) == 1
    assert (0, 9.0, "a") in _rows(M.read_manifested(spark, path))


def test_manifest_bootstrap_refuses_manifested_table(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    with pytest.raises(ValueError, match="already"):
        M.manifest_bootstrap(path, "part")


# ------------------------------------- round 9: sharded manifests

def test_sharded_manifest_roundtrip(spark, tmp_path, monkeypatch):
    """with sharding forced (MANIFEST_INLINE_MAX=0): dir file lists
    live in `_files.<id>.json` shards, the root holds only @pointers,
    a commit re-shards ONLY the touched dirs, reads resolve shards
    transparently, and vacuum clears superseded shards + claims."""
    monkeypatch.setattr(M, "MANIFEST_INLINE_MAX", 0)
    path = str(tmp_path / "t")
    pdf = _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    man0 = M.read_commit(path)
    assert all(isinstance(e, str) and e.startswith("@")
               for e in man0["partitions"].values())
    assert _rows(M.read_manifested(spark, path)) == sorted(
        map(tuple, pdf.itertuples(index=False)))

    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0, 100], "v": [50.0, 51.0], "part": ["a", "a"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    man1 = M.read_commit(path)
    assert man1["partitions"]["part=a"] != man0["partitions"]["part=a"]
    for d in ("part=b", "part=c"):             # untouched: same shard
        assert man1["partitions"][d] == man0["partitions"][d]
    got = _rows(M.read_manifested(spark, path))
    assert (0, 50.0, "a") in got and (100, 51.0, "a") in got

    # vacuum: superseded data files, the orphan shard of generation 0
    # for part=a, and the generation-0 claim all clear; reads stable
    removed = M.vacuum_manifested(path)
    assert removed > 0
    shard0 = man0["partitions"]["part=a"].lstrip("@")
    assert not os.path.exists(os.path.join(path, "part=a", shard0))
    shard1 = man1["partitions"]["part=a"].lstrip("@")
    assert os.path.exists(os.path.join(path, "part=a", shard1))
    claims = [f for f in os.listdir(path) if M._CLAIM_RE.match(f)]
    assert claims == ["_commit.00000001.json"]
    assert _rows(M.read_manifested(spark, path)) == got

    # the full lifecycle stays shard-aware: delete + compact
    from pyspark.sql import functions as F
    parts, n_del = M.delete_where(spark, path, F.col("k") == 100,
                                  "part", commit="pointer")
    assert n_del == 1
    fb, fa = M.compact_manifested(spark, path, target_mb=128)
    assert fa <= fb
    exp = [t for t in got if t[0] != 100]
    assert _rows(M.read_manifested(spark, path)) == sorted(exp)


def test_read_manifested_partition_pruning(spark, tmp_path):
    """partition_values prunes the FILE LIST, not just the rows: the
    pruned plan reads only the named dirs' files."""
    path = str(tmp_path / "t")
    pdf = _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    pruned = M.read_manifested(spark, path, partition_values=["a"])
    exp = sorted((k, v, p) for k, v, p in
                 map(tuple, pdf.itertuples(index=False)) if p == "a")
    assert _rows(pruned) == exp
    files = pruned.inputFiles()
    assert files and all("part=a" in f for f in files)
    # a value with no partition reads zero rows, correct schema
    empty = M.read_manifested(spark, path, partition_values=["zz"])
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "v", "part"}


# --------------------------- round 9: zone maps stay fresh on mutate

@pytest.mark.parametrize("commit", ["rename", "pointer"])
def test_zonemap_refreshes_after_delete_where(spark, tmp_path, commit,
                                              monkeypatch):
    """delete_where refreshes a present `_zonemap` inline (VERDICT r8
    item 6): after the delete, pruned reads are still exact AND the
    manifest has no rows for deleted files — the pruning benefit
    survives the mutation without a manual update_zonemap.  The
    refresh runs exactly once per delete, after the last filesystem
    change, whether partitions rewrite, empty out, or both."""
    from pyspark.sql import functions as F

    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / f"t_{commit}")
    pdf = pd.DataFrame({
        "k": range(60),
        "v": [float(i) for i in range(60)],
        "part": [("a", "b", "c")[i % 3] for i in range(60)]})
    (spark.createDataFrame(pdf).repartitionByRange(4, "k")
     .sortWithinPartitions("k")
     .write.partitionBy("part").parquet(path))
    if commit == "pointer":
        M.manifest_bootstrap(path, "part")
    Z.build_zonemap(spark, path, ["k"])

    def manifest_files():
        return set(Z._read_manifest_df(
            spark, os.path.join(path, Z.ZONEMAP_DIR),
            fsops.PosixFS()).select("file").toPandas()["file"])

    files0 = manifest_files()
    refreshes = []
    update = Z.update_zonemap

    def counted_update(*args, **kwargs):
        refreshes.append(1)
        return update(*args, **kwargs)

    monkeypatch.setattr(Z, "update_zonemap", counted_update)
    parts, n_del = M.delete_where(spark, path, F.col("k") < 30,
                                  "part", commit=commit)
    assert n_del == 30
    assert len(refreshes) == 1
    man_files = manifest_files()
    assert man_files != files0                 # refreshed, not stale
    live = set(Z._data_files(path))
    assert man_files == live                   # exactly the live files
    got = sorted(r["k"] for r in
                 Z.read_skipping(spark, path, [("k", ">=", 45)])
                 .collect())
    assert got == list(range(45, 60))
    surv, total = Z.zone_prune(spark, path, [("k", ">=", 45)])
    assert 0 < len(surv) < total               # pruning still bites

    # one delete that rewrites part=a (k=45) AND empties part=c
    parts, n_del = M.delete_where(
        spark, path, (F.col("part") == "c") | (F.col("k") == 45),
        "part", commit=commit)
    assert n_del == 11
    assert len(refreshes) == 2
    assert manifest_files() == set(Z._data_files(path))
    got = sorted(r["k"] for r in
                 Z.read_skipping(spark, path, [("k", ">=", 45)])
                 .collect())
    assert got == [k for k in range(46, 60) if k % 3 != 2]


def test_zonemap_rebuilds_across_compact_parquet(spark, tmp_path):
    """compact_parquet's whole-table swap replaces the in-table
    `_zonemap` dir; the compactor rebuilds it from the compacted
    files' footers so read_skipping keeps working and stays exact."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(80),
                        "v": [float(i) for i in range(80)]})
    (spark.createDataFrame(pdf).repartition(16)
     .write.parquet(path))
    Z.build_zonemap(spark, path, ["k"])
    fb, fa = M.compact_parquet(spark, path, target_mb=128)
    assert fa < fb                              # actually compacted
    got = sorted(r["k"] for r in
                 Z.read_skipping(spark, path, [("k", ">=", 70)])
                 .collect())
    assert got == list(range(70, 80))
    live = set(Z._data_files(path))
    man_files = set(Z._read_manifest_df(
        spark, os.path.join(path, Z.ZONEMAP_DIR),
        fsops.PosixFS()).select("file").toPandas()["file"])
    assert man_files == live


def test_zonemap_refreshes_after_compact_manifested(spark, tmp_path):
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({
        "k": range(60), "v": [float(i) for i in range(60)],
        "part": [("a", "b")[i % 2] for i in range(60)]})
    (spark.createDataFrame(pdf).repartition(8)
     .write.partitionBy("part").parquet(path))
    M.manifest_bootstrap(path, "part")
    Z.build_zonemap(spark, path, ["k"])
    fb, fa = M.compact_manifested(spark, path, target_mb=128)
    assert fa < fb
    live = set(Z._data_files(path))
    man_files = set(Z._read_manifest_df(
        spark, os.path.join(path, Z.ZONEMAP_DIR),
        fsops.PosixFS()).select("file").toPandas()["file"])
    assert man_files == live
    got = sorted(r["k"] for r in
                 Z.read_skipping(spark, path, [("k", "<", 5)])
                 .collect())
    assert got == list(range(5))


def test_snapshot_write_concurrent_loser_raises(spark, tmp_path,
                                                monkeypatch):
    """snapshot CAS: two writers from the same head — writer A's full
    snapshot_write is injected at B's claim point; B raises
    ConcurrentCommitError, its uniquely-named directory is removed
    (no data-dir collision is possible), A's version is live, and B's
    retry commits as the next version."""
    path = str(tmp_path / "snap")
    base = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [0.0]}))
    M.snapshot_write(base, path)

    real = fsops.PosixFS.write_text_exclusive
    state = {"fired": False}

    def inject(self, p, text):
        if not state["fired"] and "_manifest." in os.path.basename(p):
            state["fired"] = True
            M.snapshot_write(
                spark.createDataFrame(pd.DataFrame(
                    {"k": [1], "v": [111.0]})), path)
        return real(self, p, text)

    monkeypatch.setattr(fsops.PosixFS, "write_text_exclusive", inject)
    with pytest.raises(M.ConcurrentCommitError, match="re-run"):
        M.snapshot_write(
            spark.createDataFrame(pd.DataFrame(
                {"k": [1], "v": [222.0]})), path)
    monkeypatch.setattr(fsops.PosixFS, "write_text_exclusive", real)

    assert M.snapshot_history(path)[-1]["version"] == 1
    assert [r["v"] for r in M.snapshot_read(spark, path).collect()] \
        == [111.0]                      # A won; B never visible
    # B's orphan dir was deleted by its own loser path
    vdirs = [d for d in os.listdir(path) if d.startswith("_v")]
    assert len(vdirs) == 2              # v0 + A's v1 only
    # B retries cleanly as version 2
    assert M.snapshot_write(
        spark.createDataFrame(pd.DataFrame(
            {"k": [1], "v": [222.0]})), path) == 2
    assert [r["v"] for r in M.snapshot_read(spark, path).collect()] \
        == [222.0]


def test_vacuum_retention_guards_inflight_writers(spark, tmp_path):
    """vacuum_manifested(min_age_s=...): unreferenced-but-YOUNG files
    survive (they may be an in-flight writer's pre-claim appends — a
    racing vacuum deleting them would let that writer commit a
    manifest pointing at missing files); an aged vacuum then clears
    them.  The retention window is the Delta/Iceberg answer to the
    vacuum-vs-writer race."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [9.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")
    # simulate an in-flight writer's fresh pre-claim append
    inflight = os.path.join(path, "part=b", "inflight-000.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1")
    # retention window: nothing young is deleted (superseded files
    # from the upsert moments ago are also young — all kept)
    assert M.vacuum_manifested(path, min_age_s=3600) == 0
    assert os.path.exists(inflight)
    before = _rows(M.read_manifested(spark, path))
    # age everything and vacuum eagerly: orphans + superseded clear
    old = __import__("time").time() - 7200
    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (old, old))
    removed = M.vacuum_manifested(path, min_age_s=3600)
    assert removed > 0
    assert not os.path.exists(inflight)
    assert _rows(M.read_manifested(spark, path)) == before


def test_upsert_sink_pointer_sharded_manifests(spark, tmp_path,
                                               monkeypatch):
    """the streaming CDC-apply sink over a pointer table with sharding
    FORCED: multi-batch ingest works end-to-end, the root manifest
    holds only @shard pointers, and the table reads back exactly."""
    import pandas as pd

    from dask_expr_spark.streaming import ops as S

    monkeypatch.setattr(M, "MANIFEST_INLINE_MAX", 0)
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    for i in range(3):
        pdf = pd.DataFrame({
            "k": list(range(8)),
            "v": [float(i * 10 + kk) for kk in range(8)]})
        (spark.createDataFrame(pdf).coalesce(1)
         .write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = S.upsert_sink(stream, tbl, ["k"], n_buckets=4,
                      checkpoint_dir=str(tmp_path / "ck"),
                      commit="pointer")
    q.processAllAvailable()
    q.stop()
    man = M.read_commit(tbl)
    assert man is not None and all(
        isinstance(e, str) and e.startswith("@")
        for e in man["partitions"].values() if e)
    got = sorted((r["k"], r["v"]) for r in
                 M.read_manifested(spark, tbl).drop("__bucket")
                 .collect())
    assert len(got) == 8 and all(v >= 20.0 for _k, v in got)


@pytest.mark.parametrize("commit", ["rename", "pointer"])
def test_zonemap_refreshes_after_upsert(spark, tmp_path, commit):
    """plain upsert_partitioned also refreshes a present `_zonemap`
    (round 9 closes the whole staleness class, not just delete/
    compaction): after the merge the manifest lists exactly the live
    files and pruned reads stay exact."""
    from dask_expr_spark.sources import zonemap as Z

    path = str(tmp_path / f"t_{commit}")
    _mk(spark, path)
    if commit == "pointer":
        M.manifest_bootstrap(path, "part")
    Z.build_zonemap(spark, path, ["k"])
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0, 100], "v": [50.0, 51.0], "part": ["a", "a"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit=commit)
    live = set(Z._data_files(path))
    man_files = set(Z._read_manifest_df(
        spark, os.path.join(path, Z.ZONEMAP_DIR),
        fsops.PosixFS()).select("file").toPandas()["file"])
    assert man_files == live
    got = sorted(r["k"] for r in
                 Z.read_skipping(spark, path, [("k", ">=", 100)])
                 .collect())
    assert got == [100]


# ------------------------------ round 9: multi-column pointer tables

def _mk_multi(spark, path):
    pdf = pd.DataFrame({
        "k": range(60),
        "v": [float(i) for i in range(60)],
        "d": [("2024-01", "2024-02")[i % 2] for i in range(60)],
        "src": [("web", "api", "batch")[i % 3] for i in range(60)]})
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .partitionBy("d", "src").parquet(path)
    return pdf


def _rows4(df):
    return sorted((r["k"], r["v"], r["d"], r["src"])
                  for r in df.collect())


def test_multicol_pointer_lifecycle(spark, tmp_path):
    """multi-level hive layout (d=…/src=…) under the pointer protocol:
    bootstrap adopts the nested dirs, an upsert touches only its
    (d, src) leaves, pruned reads take tuple values, delete_where
    rewrites hit leaves and drops emptied ones, compaction coalesces
    per leaf, and vacuum clears superseded files + empty parents."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    pdf = _mk_multi(spark, path)
    man0 = M.manifest_bootstrap(path, ["d", "src"])
    assert all("/" in d for d in man0["partitions"])
    assert _rows4(M.read_manifested(spark, path)) == sorted(
        map(tuple, pdf.itertuples(index=False)))

    # upsert into one leaf: k=0 lives in (2024-01, web)
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0, 600], "v": [99.0, 98.0],
         "d": ["2024-01"] * 2, "src": ["web"] * 2}))
    M.upsert_partitioned(spark, path, batch, ["k"], ["d", "src"],
                         commit="pointer")
    man1 = M.read_commit(path)
    touched = "d=2024-01/src=web"
    assert man1["partitions"][touched] != man0["partitions"][touched]
    assert all(man1["partitions"][x] == man0["partitions"][x]
               for x in man0["partitions"] if x != touched)
    got = _rows4(M.read_manifested(spark, path))
    assert (0, 99.0, "2024-01", "web") in got
    assert (600, 98.0, "2024-01", "web") in got

    # pruned read on a tuple value
    pruned = M.read_manifested(spark, path,
                               partition_values=[("2024-01", "web")])
    assert {(r["d"], r["src"]) for r in pruned.collect()} \
        == {("2024-01", "web")}
    assert all("d=2024-01/src=web" in f for f in pruned.inputFiles())

    # move guard: k=1 lives in (2024-02, api); upserting it under a
    # different leaf must raise
    import pytest as _pytest
    moving = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [1.0], "d": ["2024-01"], "src": ["web"]}))
    with _pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, path, moving, ["k"], ["d", "src"],
                             commit="pointer")

    # delete: everything in src='batch' across both months -> those
    # two leaves empty out and drop from the manifest
    parts, n_del = M.delete_where(spark, path,
                                  F.col("src") == "batch",
                                  ["d", "src"], commit="pointer")
    assert n_del == 20 and len(parts) == 2
    man2 = M.read_commit(path)
    assert man2["partitions"]["d=2024-01/src=batch"] == []
    assert man2["partitions"]["d=2024-02/src=batch"] == []
    left = M.read_manifested(spark, path)
    assert left.where("src = 'batch'").count() == 0
    assert left.count() == 41  # 60 - 20 + 1 insert

    # row-level delete inside one leaf (kept rows rewrite there)
    parts, n_del = M.delete_where(spark, path,
                                  (F.col("k") % 2 == 1)
                                  & (F.col("src") == "web"),
                                  ["d", "src"], commit="pointer")
    assert n_del > 0
    assert M.read_manifested(spark, path) \
        .where("src = 'web' AND k % 2 = 1").count() == 0

    # compact + vacuum: equality preserved, superseded files and the
    # emptied leaves' dirs clear (parents too once both leaves drop)
    before = _rows4(M.read_manifested(spark, path))
    fb, fa = M.compact_manifested(spark, path, target_mb=512)
    assert fa <= fb
    removed = M.vacuum_manifested(path)
    assert removed > 0
    assert _rows4(M.read_manifested(spark, path)) == before
    assert not os.path.isdir(os.path.join(path, "d=2024-01/src=batch"))
    assert not os.path.isdir(os.path.join(path, "d=2024-02/src=batch"))


def test_multicol_requires_pointer_protocol(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk_multi(spark, path)
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [1.0], "d": ["2024-01"], "src": ["web"]}))
    with pytest.raises(ValueError, match="pointer-protocol only"):
        M.upsert_partitioned(spark, path, batch, ["k"], ["d", "src"],
                             commit="rename")
    with pytest.raises(ValueError, match="pointer-protocol only"):
        M.delete_where(spark, path, F.col("k") == 0, ["d", "src"],
                       commit="rename")


def test_multicol_with_forced_sharding(spark, tmp_path, monkeypatch):
    """multi-level layouts compose with manifest shards: with sharding
    forced, nested leaf entries are @pointers, an upsert re-shards
    only its leaf, and reads resolve transparently."""
    monkeypatch.setattr(M, "MANIFEST_INLINE_MAX", 0)
    path = str(tmp_path / "t")
    pdf = _mk_multi(spark, path)
    man0 = M.manifest_bootstrap(path, ["d", "src"])
    assert all(isinstance(e, str) and e.startswith("@")
               for e in man0["partitions"].values())
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [77.0], "d": ["2024-01"], "src": ["web"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], ["d", "src"],
                         commit="pointer")
    man1 = M.read_commit(path)
    touched = "d=2024-01/src=web"
    assert man1["partitions"][touched] != man0["partitions"][touched]
    assert all(man1["partitions"][x] == man0["partitions"][x]
               for x in man0["partitions"] if x != touched)
    got = _rows4(M.read_manifested(spark, path))
    exp = {t for t in map(tuple, pdf.itertuples(index=False))
           if t[0] != 0} | {(0, 77.0, "2024-01", "web")}
    assert set(got) == exp
    assert M.vacuum_manifested(path) > 0
    assert set(_rows4(M.read_manifested(spark, path))) == exp


# --------------------------- round 10: disjoint-partition commit rebase

def test_disjoint_rebase_both_land(spark, tmp_path):
    """The round-10 centerpiece at protocol level: writers A and B
    read the same base generation and touch DISJOINT partitions; A
    claims first; B's flip REBASES — walks A's claim, sees disjoint
    touched dirs, overlays its entries onto A's manifest, claims the
    next generation.  Both land with exactly one data-compute each
    (B's touched dir holds no orphan files — a recompute would have
    appended twice), and each claim records its touched dirs."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    fs = fsops.PosixFS()
    man_b = M.read_commit(path)               # B's stale snapshot

    batch_a = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "v": [111.0], "part": ["a"]}))
    M.upsert_partitioned(spark, path, batch_a, ["k"], "part",
                         commit="pointer")    # A wins generation 1

    batch_b = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [222.0], "part": ["b"]}))
    M._append_and_flip(spark, path, batch_b, "part", man_b, fs,
                           ["part=b"])

    man = M.read_commit(path)
    assert man["generation"] == 2             # rebased, not recomputed
    got = _rows(M.read_manifested(spark, path))
    assert (0, 111.0, "a") in got             # A's row
    assert (1, 222.0, "b") in got             # B's row
    # claims carry touched metadata for later writers' conflict checks
    g1 = json.loads(fs.read_text(M._claim_file(path, 1)))
    g2 = json.loads(fs.read_text(M._claim_file(path, 2)))
    assert g1["touched"] == ["part=a"]
    assert g2["touched"] == ["part=b"]
    # single data-compute each: every on-disk file is either a gen-0
    # file (superseded by the merges, vacuumable) or referenced by the
    # head — a recompute would have appended a THIRD unreferenced set
    head_files = set(M.manifest_files(man, path, fs=fs))
    gen0 = json.loads(fs.read_text(M._claim_file(path, 0)))
    gen0_files = set(M.manifest_files(gen0, path, fs=fs))
    for d in ("part=a", "part=b"):
        on_disk = {os.path.join(path, d, f)
                   for f in M._part_files(fs, path, d)}
        assert on_disk <= (head_files | gen0_files)


def test_rebase_chain_two_intervening_winners(spark, tmp_path):
    """A loser behind TWO disjoint winners walks both claims — one
    read + re-claim per intervening generation, no data recompute —
    and lands at head+1."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    fs = fsops.PosixFS()
    man_b = M.read_commit(path)               # B reads generation 0

    for part, v in (("a", 111.0), ("c", 333.0)):   # A1 then A2 win
        batch = spark.createDataFrame(pd.DataFrame(
            {"k": [0 if part == "a" else 2], "v": [v], "part": [part]}))
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             commit="pointer")
    batch_b = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [222.0], "part": ["b"]}))
    M._append_and_flip(spark, path, batch_b, "part", man_b, fs,
                           ["part=b"])

    assert M.read_commit(path)["generation"] == 3
    got = _rows(M.read_manifested(spark, path))
    assert (0, 111.0, "a") in got and (2, 333.0, "c") in got \
        and (1, 222.0, "b") in got


def test_rebase_refuses_winner_without_touched(spark, tmp_path):
    """A claim written by an older (pre-rebase) writer carries no
    touched metadata — the conflict check cannot prove disjointness,
    so the loser must conservatively raise."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    fs = fsops.PosixFS()
    man_b = M.read_commit(path)
    # legacy-format winner: same manifest, no "touched" key
    legacy = {k: v for k, v in man_b.items() if k != "touched"}
    legacy["generation"] = 1
    fs.write_text_exclusive(M._claim_file(path, 1), json.dumps(legacy))
    batch_b = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [222.0], "part": ["b"]}))
    with pytest.raises(M.ConcurrentCommitError, match="generation 1"):
        M._append_and_flip(spark, path, batch_b, "part", man_b, fs,
                           ["part=b"])


def test_rebase_delete_where_vs_upsert_disjoint(spark, tmp_path,
                                                monkeypatch):
    """Cross-operator rebase through the PUBLIC API: a delete_where on
    part=b loses its claim to an injected upsert on part=a and
    rebases — both mutations visible, one generation each."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    real = M._write_commit
    state = {"fired": False}

    def inject(p, man, fs, **kw):
        if not state["fired"] and int(man["generation"]) > 0:
            state["fired"] = True
            batch_a = spark.createDataFrame(pd.DataFrame(
                {"k": [100], "v": [1.0], "part": ["a"]}))
            M.upsert_partitioned(spark, path, batch_a, ["k"], "part",
                                 commit="pointer")
        return real(p, man, fs, **kw)

    monkeypatch.setattr(M, "_write_commit", inject)
    from pyspark.sql import functions as F
    parts, n_del = M.delete_where(spark, path,
                                  F.col("part") == "b", "part",
                                  commit="pointer")
    monkeypatch.setattr(M, "_write_commit", real)
    assert n_del == 10 and parts == ["b"]
    got = _rows(M.read_manifested(spark, path))
    assert (100, 1.0, "a") in got                       # upsert landed
    assert all(p != "b" for _, _, p in got)             # delete landed
    assert M.read_commit(path)["generation"] == 2


def test_rebase_contention_cap(spark, tmp_path, monkeypatch):
    """A pathological claim race (every claim attempt loses to a fresh
    disjoint winner) terminates with ConcurrentCommitError instead of
    spinning forever."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    fs = fsops.PosixFS()
    man_b = M.read_commit(path)
    monkeypatch.setattr(M, "_REBASE_MAX_ATTEMPTS", 3)
    real = fsops.PosixFS.write_text_exclusive

    def always_lose(self, p, text):
        # a disjoint winner sneaks in before every attempt
        gen = int(json.loads(text)["generation"])
        winner = dict(json.loads(text))
        winner["touched"] = ["part=zzz"]        # disjoint from B
        real(self, p, json.dumps(winner))
        return real(self, p, text)              # now B's claim fails

    monkeypatch.setattr(fsops.PosixFS, "write_text_exclusive",
                        always_lose)
    batch_b = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "v": [222.0], "part": ["b"]}))
    with pytest.raises(M.ConcurrentCommitError, match="contention"):
        M._append_and_flip(spark, path, batch_b, "part", man_b, fs,
                           ["part=b"])


# ------------------- round 10: generation time travel + claim retention

def _gen_table(spark, tmp_path):
    """Pointer table with three generations: bootstrap (0), k=0 ->
    111.0 in part=a (1), k=1 -> 222.0 in part=b (2)."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    for k, v, part in ((0, 111.0, "a"), (1, 222.0, "b")):
        batch = spark.createDataFrame(pd.DataFrame(
            {"k": [k], "v": [v], "part": [part]}))
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             commit="pointer")
    return path


def test_generation_time_travel(spark, tmp_path):
    """read_manifested(generation=N) reads any surviving claim exactly
    as it committed; manifest_generations lists the version log."""
    path = _gen_table(spark, tmp_path)
    assert M.manifest_generations(path) == [0, 1, 2]
    assert (0, 111.0, "a") in _rows(M.read_manifested(spark, path))
    g1 = _rows(M.read_manifested(spark, path, generation=1))
    assert (0, 111.0, "a") in g1 and (1, 222.0, "b") not in g1
    assert (1, 1.0, "b") in g1                    # pre-update value
    g0 = _rows(M.read_manifested(spark, path, generation=0))
    assert (0, 0.0, "a") in g0                    # bootstrap value
    with pytest.raises(ValueError, match="generation 9 not available"):
        M.read_manifested(spark, path, generation=9)


def test_vacuum_keep_claims_retains_time_travel(spark, tmp_path):
    """vacuum_manifested(keep_claims=2) keeps the head and its
    predecessor READABLE (claims + every data file either references),
    drops generation 0, and a later eager vacuum retires the rest."""
    path = _gen_table(spark, tmp_path)
    g1_rows = _rows(M.read_manifested(spark, path, generation=1))
    removed = M.vacuum_manifested(path, keep_claims=2)
    assert removed > 0                            # gen-0-only files go
    assert M.manifest_generations(path) == [1, 2]
    # retained generation still reads exactly as it committed
    assert _rows(M.read_manifested(spark, path, generation=1)) == g1_rows
    with pytest.raises(ValueError, match="not available"):
        M.read_manifested(spark, path, generation=0)
    head = _rows(M.read_manifested(spark, path))
    # shrinking the window retires generation 1 too
    assert M.vacuum_manifested(path, keep_claims=1) > 0
    assert M.manifest_generations(path) == [2]
    assert _rows(M.read_manifested(spark, path)) == head


def test_manifested_cdc_between_generations(spark, tmp_path):
    """The claim chain serves change feeds: cdc between generations 1
    and 2 shows exactly the one updated key."""
    path = _gen_table(spark, tmp_path)
    cdc = M.manifested_cdc(spark, path, 1, 2, ["k"]).collect()
    assert len(cdc) == 1
    r = cdc[0]
    assert (r["k"], r["change_type"], r["v_before"], r["v_after"]) \
        == (1, "update", 1.0, 222.0)


def test_vacuum_never_deletes_newer_claim(spark, tmp_path,
                                          monkeypatch):
    """The ADVICE race, pinned: a writer commits generation 3 AFTER
    vacuum resolved head=2 — the old sweep deleted every claim !=
    head, erasing the acknowledged commit and orphaning its files.
    Now: claims newer than the resolved head are never touched, their
    data files stay live, and the pointer cache is not rolled back."""
    path = _gen_table(spark, tmp_path)
    stale_head = M.read_commit(path)              # head == 2
    batch = spark.createDataFrame(pd.DataFrame(
        {"k": [2], "v": [333.0], "part": ["c"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer")        # generation 3 lands
    # vacuum raced: it resolved the head BEFORE generation 3 existed
    monkeypatch.setattr(M, "read_commit",
                        lambda p, fs=None: dict(stale_head))
    M.vacuum_manifested(path)
    monkeypatch.undo()
    # the acknowledged commit survives: claim, cache, data
    assert 3 in M.manifest_generations(path)
    fs = fsops.PosixFS()
    cache = json.loads(fs.read_text(M._commit_file(path)))
    assert int(cache["generation"]) == 3          # no cache rollback
    got = _rows(M.read_manifested(spark, path))
    assert (2, 333.0, "c") in got
    # and a non-racing vacuum afterwards leaves the table intact
    M.vacuum_manifested(path)
    assert _rows(M.read_manifested(spark, path)) == got


def test_vacuum_min_age_guards_claim_files(spark, tmp_path):
    """ADVICE item: the retention window applies to CLAIM deletion the
    same way it guards data files — young retired claims survive an
    aged vacuum and clear once old."""
    path = _gen_table(spark, tmp_path)
    assert M.vacuum_manifested(path, min_age_s=3600) == 0
    assert M.manifest_generations(path) == [0, 1, 2]   # claims kept
    old = __import__("time").time() - 7200
    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (old, old))
    assert M.vacuum_manifested(path, min_age_s=3600) > 0
    assert M.manifest_generations(path) == [2]


def test_snapshot_vacuum_age_guards_orphan_sweep(spark, tmp_path):
    """ADVICE item: an orphan-LOOKING young _v dir (an in-flight
    writer whose target version was overtaken) survives an age-guarded
    snapshot_vacuum and is only swept once older than the window."""
    path = str(tmp_path / "snap")
    df = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1.0]}))
    for _ in range(3):
        M.snapshot_write(df, path)
    # in-flight writer's dir, version == current (overtaken mid-write)
    orphan = os.path.join(path, "_v00000002-ffffffff")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    M.snapshot_vacuum(path, keep=1, min_age_s=3600)
    assert os.path.isdir(orphan)                  # young: protected
    old = __import__("time").time() - 7200
    os.utime(orphan, (old, old))
    M.snapshot_vacuum(path, keep=1, min_age_s=3600)
    assert not os.path.isdir(orphan)              # aged: swept


# ---------------------- round 10: pointer-committed bloom key index

def test_pointer_bloom_skips_scan_for_inserts(spark, tmp_path,
                                              monkeypatch):
    """key_bloom_path now works under commit='pointer' (the bloom
    commits through the snapshot CAS — no renames): a pure-insert
    batch skips the full-table key scan, a genuine move is still
    rejected via the exact fallback."""
    path = str(tmp_path / "t")
    bloom = str(tmp_path / "bloom")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    # bootstrap the bloom from the table's current keys
    M.bloom_append_snapshot(spark, bloom,
                            M.read_manifested(spark, path), ["k"])
    calls = []
    real = M._move_guard_full_scan

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(M, "_move_guard_full_scan", counted)
    inserts = spark.createDataFrame(pd.DataFrame({
        "k": [1000, 1001], "v": [1.0, 2.0], "part": ["a", "b"]}))
    M.upsert_partitioned(spark, path, inserts, ["k"], "part",
                         commit="pointer", key_bloom_path=bloom)
    assert calls == []                        # no scan for pure inserts

    mover = spark.createDataFrame(pd.DataFrame({
        "k": [5], "v": [9.0], "part": ["a"]}))  # k=5 lives in part=c
    with pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, path, mover, ["k"], "part",
                             commit="pointer", key_bloom_path=bloom)
    assert len(calls) == 1                    # maybe-hit -> exact scan
    got = _rows(M.read_manifested(spark, path))
    assert (1000, 1.0, "a") in got and (1001, 2.0, "b") in got


def test_pointer_bloom_no_false_negatives_across_upserts(spark,
                                                         tmp_path):
    """keys inserted through the guarded pointer path land in the
    snapshot bloom, so a later move attempt is still rejected — and
    old bloom versions retire (keep=2) instead of accumulating."""
    path = str(tmp_path / "t")
    bloom = str(tmp_path / "bloom")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    ins = spark.createDataFrame(pd.DataFrame({
        "k": [2000], "v": [1.0], "part": ["a"]}))
    # first guarded upsert auto-bootstraps the bloom (table + batch)
    M.upsert_partitioned(spark, path, ins, ["k"], "part",
                         commit="pointer", key_bloom_path=bloom)
    ins2 = spark.createDataFrame(pd.DataFrame({
        "k": [2001], "v": [1.5], "part": ["b"]}))
    M.upsert_partitioned(spark, path, ins2, ["k"], "part",
                         commit="pointer", key_bloom_path=bloom)
    for bad_k in (2000, 2001):
        mover = spark.createDataFrame(pd.DataFrame({
            "k": [bad_k], "v": [9.0], "part": ["c"]}))
        with pytest.raises(ValueError, match="partition-moving"):
            M.upsert_partitioned(spark, path, mover, ["k"], "part",
                                 commit="pointer",
                                 key_bloom_path=bloom)
    assert len(M.snapshot_history(bloom)) <= 2    # versions retired


def test_pointer_bloom_updates_before_claim(spark, tmp_path,
                                            monkeypatch):
    """The ordering contract: the bloom commits BEFORE the table's
    generation claim, so a crash at the claim leaves extra bloom keys
    (harmless maybe-hits) — never a table key missing from the bloom
    (a false negative the guard would trust)."""
    from dask_expr_spark.functions.sketches import bloom_probe

    path = str(tmp_path / "t")
    bloom = str(tmp_path / "bloom")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    M.bloom_append_snapshot(spark, bloom,
                            M.read_manifested(spark, path), ["k"])

    def boom(path_, man_, fs_, **kw):
        raise RuntimeError("injected crash at claim")

    monkeypatch.setattr(M, "_write_commit", boom)
    batch = spark.createDataFrame(pd.DataFrame({
        "k": [3000], "v": [1.0], "part": ["a"]}))
    with pytest.raises(RuntimeError, match="injected crash"):
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             commit="pointer", key_bloom_path=bloom)
    monkeypatch.undo()
    # table unchanged, bloom already carries the key: extra-keys side
    assert all(k != 3000 for k, _, _ in
               _rows(M.read_manifested(spark, path)))
    idx = M.read_key_bloom(spark, bloom)
    probe = spark.createDataFrame(pd.DataFrame({"__mg_key": ["3000"]}))
    hit = bloom_probe(probe, idx, "__mg_key",
                      result_col="__maybe").first()
    assert bool(hit["__maybe"])


def test_rename_bloom_updates_before_swap(spark, tmp_path, monkeypatch):
    """The rename protocol keeps the same ordering contract as the
    pointer claim: the bloom commits BEFORE the partition swap, so a
    failing bloom update aborts the upsert with the table unchanged —
    every key the table holds still probes TRUE, and once the batch is
    re-run its key's later partition move is refused.  (Bloom after
    swap left the committed key out of the bloom and let the move
    through as a silent duplicate.)"""
    from pyspark.sql import functions as F

    from dask_expr_spark.functions.sketches import bloom_probe

    path = str(tmp_path / "t")
    bloom = str(tmp_path / "bloom")
    _mk(spark, path)
    M.build_key_bloom(spark, path, ["k"], bloom)

    # the bloom's storage fails at its commit step (snapshot claim or
    # rename); every other path is untouched
    real_excl = fsops.PosixFS.write_text_exclusive
    real_rename = fsops.PosixFS.rename

    def excl(self, p, text):
        if p.startswith(bloom):
            raise OSError("injected bloom commit failure")
        return real_excl(self, p, text)

    def rename(self, src, dst):
        if src.startswith(bloom):
            raise OSError("injected bloom commit failure")
        return real_rename(self, src, dst)

    monkeypatch.setattr(fsops.PosixFS, "write_text_exclusive", excl)
    monkeypatch.setattr(fsops.PosixFS, "rename", rename)
    batch = spark.createDataFrame(pd.DataFrame({
        "k": [4000], "v": [1.0], "part": ["a"]}))
    with pytest.raises(OSError, match="injected bloom"):
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             commit="rename", key_bloom_path=bloom)
    monkeypatch.undo()
    held = spark.read.parquet(path).select(
        F.col("k").cast("string").alias("__mg_key"))
    probed = bloom_probe(held, M.read_key_bloom(spark, bloom),
                         "__mg_key", result_col="__maybe")
    assert probed.where(~F.col("__maybe")).count() == 0
    # the writer re-runs its failed batch; the key is then guarded
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="rename", key_bloom_path=bloom)
    mover = spark.createDataFrame(pd.DataFrame({
        "k": [4000], "v": [2.0], "part": ["c"]}))
    with pytest.raises(ValueError, match="partition-moving"):
        M.upsert_partitioned(spark, path, mover, ["k"], "part",
                             commit="rename", key_bloom_path=bloom)
    assert [r["part"] for r in spark.read.parquet(path)
            .where("k = 4000").collect()] == ["a"]


def test_manifested_cdc_prunes_to_changed_dirs(spark, tmp_path):
    """The generation diff is change-bounded: only partition dirs
    whose manifest entries differ between the two generations are
    scanned (identical entries = identical committed files), and the
    pruned diff equals the full-table diff."""
    path = _gen_table(spark, tmp_path)     # gen1 touched a, gen2 b
    cdc = M.manifested_cdc(spark, path, 1, 2, ["k"])
    rows = sorted((r["k"], r["change_type"], r["v_before"],
                   r["v_after"]) for r in cdc.collect())
    assert rows == [(1, "update", 1.0, 222.0)]
    # every scanned file sits in the one changed dir
    files = cdc.inputFiles()
    assert files and all("part=b" in f for f in files)
    # unchanged-window diff: no changed dirs, zero rows, no scan
    assert M.manifested_cdc(spark, path, 2, 2, ["k"]).count() == 0


def test_upsert_sink_pointer_with_bloom_guard(spark, tmp_path,
                                              monkeypatch):
    """The streaming CDC-apply sink composes with the pointer-
    committed bloom (round 10): a multi-batch partitioned pointer
    sink with key_bloom_path runs end-to-end, later insert-only
    batches never trigger the full-table key scan, and the table
    reads back exactly."""
    from dask_expr_spark.streaming import ops as S

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    bloom = str(tmp_path / "bloom")
    # batch 0 seeds part a/b; batches 1-2 are pure inserts (new keys)
    for i in range(3):
        pdf = pd.DataFrame({
            "k": list(range(i * 8, i * 8 + 8)),
            "v": [float(i * 10 + j) for j in range(8)],
            "part": [("a", "b")[j % 2] for j in range(8)]})
        (spark.createDataFrame(pdf).coalesce(1)
         .write.mode("append").parquet(src))
    calls = []
    real = M._move_guard_full_scan

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(M, "_move_guard_full_scan", counted)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = S.upsert_sink(stream, tbl, ["k"], partition_col="part",
                      key_bloom_path=bloom,
                      checkpoint_dir=str(tmp_path / "ck"),
                      commit="pointer")
    q.processAllAvailable()
    q.stop()
    # first merged batch bootstraps the bloom; the next pure-insert
    # batch is fully cleared by it — no full-table key scan
    assert calls == []
    assert M.read_commit(tbl) is not None
    got = sorted(r["k"] for r in
                 M.read_manifested(spark, tbl).collect())
    assert got == list(range(24))
    assert len(M.snapshot_history(bloom)) >= 1


def test_pointer_bloom_lsm_segments_and_compaction(spark, tmp_path,
                                                   monkeypatch):
    """Round-10 optimization: guarded-upsert bloom maintenance is an
    LSM segment append (O(batch·k) sparse positions per commit, not
    an O(index-bits) dense rewrite).  Pins: (1) steady-state appends
    add one snapshot version each and the delta version carries
    sparse `pos` rows, no dense bitmap; (2) every key inserted across
    the segmented window still probes TRUE (no false negative crosses
    a segment boundary); (3) crossing BLOOM_SEG_MAX folds
    the list into one dense version and retires the segments; (4) the
    fold equals the direct dense build bit-for-bit."""
    from pyspark.sql import functions as F

    from dask_expr_spark.functions.sketches import (
        bloom_index, bloom_probe)

    monkeypatch.setattr(M, "BLOOM_SEG_MAX", 3)
    path = str(tmp_path / "t")
    bloom = str(tmp_path / "bloom")
    _mk(spark, path)
    M.manifest_bootstrap(path, "part")
    M.bloom_append_snapshot(spark, bloom,
                            M.read_manifested(spark, path), ["k"])
    assert len(M.snapshot_history(bloom)) == 1

    inserted = []
    for i in range(2):                      # segments 1 and 2
        ks = [1000 + 2 * i, 1001 + 2 * i]
        inserted += ks
        batch = spark.createDataFrame(pd.DataFrame({
            "k": ks, "v": [1.0, 2.0], "part": ["a", "b"]}))
        M.upsert_partitioned(spark, path, batch, ["k"], "part",
                             commit="pointer", key_bloom_path=bloom)
    hist = M.snapshot_history(bloom)
    assert len(hist) == 3                   # bootstrap + 2 segments
    seg_dir = M.snapshot_version_dir(bloom, int(hist[-1]["version"]))
    seg = spark.read.parquet(seg_dir)
    assert "pos" in seg.columns and "words" not in seg.columns
    # all keys (table + both segments) probe TRUE via the folded read
    idx = M.read_key_bloom(spark, bloom)
    probe = spark.createDataFrame(pd.DataFrame(
        {"__mg_key": [str(k) for k in list(range(30)) + inserted]}))
    got = bloom_probe(probe, idx, "__mg_key", result_col="__maybe")
    assert got.where(~F.col("__maybe")).count() == 0

    # third append crosses SEG_MAX=3 -> compaction to ONE dense version
    batch = spark.createDataFrame(pd.DataFrame({
        "k": [2000], "v": [3.0], "part": ["c"]}))
    M.upsert_partitioned(spark, path, batch, ["k"], "part",
                         commit="pointer", key_bloom_path=bloom)
    hist = M.snapshot_history(bloom)
    assert len(hist) == 1                   # compacted + retired
    compacted = M.read_key_bloom(spark, bloom)
    assert "words" in compacted.columns
    # fold == direct dense build of the same key set, bit-for-bit
    row = compacted.select("m_bits", "k", "shards").first()
    all_keys = (M.read_manifested(spark, path)
                .select(F.col("k").cast("string").alias("__k")))
    direct = bloom_index(all_keys, "__k",
                         params=(int(row["m_bits"]), int(row["k"]),
                                 int(row["shards"])))
    da = {r["shard"]: list(r["words"]) for r in direct.collect()}
    ca = {r["shard"]: list(r["words"]) for r in compacted.collect()}
    assert ca == da


def test_bloom_hash_stamp_gates_stale_indexes(spark, tmp_path):
    """An index persisted under a previous hash family (pre-stamp md5
    era — its rows carry no `hash` column) or outside the snapshot
    protocol must never be probed with the current hashes:
    read_key_bloom refuses it (guard falls back to the exact scan), the
    first guarded upsert re-bootstraps a manifest-less bloom directory
    from table ∪ batch, and bloom_append_snapshot re-bootstraps a
    stale snapshot index instead of appending a mixed-hash segment."""
    from pyspark.sql import functions as F

    from dask_expr_spark.functions.sketches import (BF_HASH, bloom_index,
                                                    bloom_probe)

    # --- plain directory, no snapshot manifest ------------------------
    plain = str(tmp_path / "bloom_plain")
    keys = spark.createDataFrame(pd.DataFrame({"__k": ["1", "2", "3"]}))
    bloom_index(keys, "__k").drop("hash") \
        .write.mode("overwrite").parquet(plain)        # stale format
    assert M.read_key_bloom(spark, plain) is None      # never probed
    tbl = str(tmp_path / "tbl")
    spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3],
                                        "part": ["a", "b", "a"]})) \
        .write.mode("overwrite").partitionBy("part").parquet(tbl)
    M.upsert_partitioned(
        spark, tbl, spark.createDataFrame(pd.DataFrame({
            "k": [9], "part": ["b"]})), ["k"], "part",
        commit="rename", key_bloom_path=plain)
    idx = M.read_key_bloom(spark, plain)
    assert idx is not None                             # re-bootstrapped
    assert idx.select("hash").first()["hash"] == BF_HASH
    probed = bloom_probe(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3, 9]}))
        .withColumn("__s", F.col("k").cast("string")), idx, "__s")
    assert all(r["maybe_in_index"] for r in probed.collect())

    # --- snapshot CAS protocol ----------------------------------------
    delta = spark.createDataFrame(pd.DataFrame({"k": [9]}))
    snap = str(tmp_path / "bloom_snap")
    M.snapshot_write(bloom_index(keys, "__k").drop("hash"), snap)
    assert M.read_key_bloom(spark, snap) is None       # refused
    with pytest.raises(ValueError, match="hash stamp"):
        M.bloom_append_snapshot(spark, snap, delta, ["k"])
    M.bloom_append_snapshot(
        spark, snap, delta, ["k"],
        table_fn=lambda: spark.read.parquet(tbl))
    idx2 = M.read_key_bloom(spark, snap)
    assert idx2 is not None                            # re-bootstrapped
    probed2 = bloom_probe(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3, 9]}))
        .withColumn("__s", F.col("k").cast("string")), idx2, "__s")
    assert all(r["maybe_in_index"] for r in probed2.collect())
    assert len(M.snapshot_history(snap)) == 1          # stale retired
