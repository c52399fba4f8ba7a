"""File-level zone maps: data skipping over plain parquet.

Spark already prunes row groups from the footers of files it OPENS;
what it cannot do over a bare directory is skip the open itself.  At
100 TB a table is O(10^5-10^6) files, and a selective query's real
planning cost is listing + footer-reading all of them.  Iceberg/Delta
solve this with file-level min/max manifests; this module builds the
same thing over plain parquet directories (reference comparison:
dask-expr reads parquet statistics per-partition in
io/parquet.py to prune row groups — this is the table-level analogue,
re-expressed as a Spark job instead of driver-side fsspec walks).

- `build_zonemap(spark, path, cols)` — ONE metadata-only pass: the
  file list fans out over executors, each task reads just parquet
  FOOTERS (pyarrow, ~KB of IO per file regardless of file size) and
  emits per-file n_rows / min / max / null_count for the indexed
  columns.  The manifest persists under `<path>/_zonemap` (underscore
  prefix: invisible to Spark's own directory scans) as a snapshot
  table (functions.maintenance.snapshot_write) on every filesystem.
- `zone_prune(spark, path, predicates)` — resolves the predicate
  conjunction against the manifest and returns the surviving file
  list.  Safety contract: a file is skipped ONLY if the manifest
  PROVES no row can match — files missing from the manifest (appended
  since the last build) are always kept, files in the manifest but
  gone from disk (compacted away) are dropped, so a STALE manifest can
  cost efficiency, never correctness.
- `read_skipping(spark, path, predicates)` — reads only the surviving
  files and re-applies the predicate as a real filter, so results are
  exactly `read.parquet(path).filter(...)` even if the manifest were
  wrong.

Zone maps compose with the write layouts: a z-ordered table
(sources/layout.py) makes min/max ranges tight on EVERY sort column,
so the same manifest prunes filters on any of them.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ZONEMAP_DIR = "_zonemap"


def _data_files(path: str, fs=None) -> list[str]:
    # listing goes through the fsops seam (PosixFS locally, the JVM
    # Hadoop client for hdfs://s3a://gs:// paths) so manifests build
    # against the same filesystem the executors read.  Skip manifest/
    # version/system dirs the way Spark's own file listing does (a
    # snapshot version dir is its own table — pass it as `path` to
    # index it).  Hive partition directories are data even when
    # underscore-prefixed (the repo's key-bucketed layout uses
    # `__bucket=N` dirs, which Spark's partition discovery reads), so
    # a "=" name is never skipped.
    from ..fsops import get_fs
    fs = fs or get_fs(path)
    # a pointer-commit table's data files are EXACTLY its manifest's:
    # a directory walk would also see uncommitted orphans and
    # superseded generations, which read_skipping must never open
    from ..functions.maintenance import manifest_files, read_commit
    man = read_commit(path, fs=fs)
    if man is not None:
        return sorted(manifest_files(man, path, fs=fs))
    skip = lambda d: "=" not in d and d.startswith(("_", "."))  # noqa: E731
    return sorted(
        fp for fp, _sz in fs.walk_files(path, skip_dir=skip)
        if fp.endswith(".parquet")
        and not os.path.basename(fp).startswith((".", "_")))


def _zonemap_schema(spark: SparkSession, path: str,
                    cols: list[str]):
    from pyspark.sql import types as TT

    from .io import parquet_schema

    table_schema = parquet_schema(spark, path)
    fields = [TT.StructField("file", TT.StringType()),
              TT.StructField("n_rows", TT.LongType())]
    for c in cols:
        dt = table_schema[c].dataType
        fields += [TT.StructField(f"{c}_min", dt),
                   TT.StructField(f"{c}_max", dt),
                   TT.StructField(f"{c}_nulls", TT.LongType())]
    return TT.StructType(fields)


def _footer_scan(spark: SparkSession, files: list[str],
                 schema: T.StructType, cols: list[str]) -> DataFrame:
    """Distributed footer-only stats scan over an explicit file list."""
    import pandas as pd

    want = list(cols)
    names_out = [f.name for f in schema.fields]

    def footer_stats(batches):
        import pyarrow.parquet as pq
        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                md = pq.ParquetFile(f).metadata
                names = {md.schema.column(i).name: i
                         for i in range(md.num_columns)}
                rec: dict = {"file": f, "n_rows": md.num_rows}
                for c in want:
                    if c not in names:
                        # schema evolution: the column is absent from
                        # this file, so Spark reads it as all-null
                        rec[f"{c}_min"] = rec[f"{c}_max"] = None
                        rec[f"{c}_nulls"] = md.num_rows
                        continue
                    mn = mx = None
                    nulls: int | None = 0
                    # min/max are sound bounds ONLY if every row group
                    # either contributes stats or is provably all-null
                    mm_valid = True
                    for rg in range(md.num_row_groups):
                        rgmd = md.row_group(rg)
                        st = rgmd.column(names[c]).statistics
                        n_ok = st is not None and st.null_count is not None
                        nulls = (nulls + st.null_count
                                 if n_ok and nulls is not None else None)
                        if st is not None and st.has_min_max:
                            mn = st.min if mn is None else min(mn, st.min)
                            mx = st.max if mx is None else max(mx, st.max)
                        elif not (n_ok and st.null_count == rgmd.num_rows):
                            mm_valid = False  # stats truly missing
                    if not mm_valid:
                        mn = mx = None      # pruner will keep the file
                    rec[f"{c}_min"], rec[f"{c}_max"] = mn, mx
                    rec[f"{c}_nulls"] = nulls
                rows.append(rec)
            yield pd.DataFrame(rows, columns=names_out)

    n_slices = max(1, min(len(files), 256))
    fdf = spark.createDataFrame([(f,) for f in files], "file string") \
        .repartition(n_slices)
    return fdf.mapInPandas(footer_stats, schema=schema)


def _write_manifest(manifest: DataFrame, zp: str, fs) -> None:
    """Commit the zone-map manifest as the next snapshot version
    (immutable version dir + exclusive claim — no rename, so one
    protocol serves POSIX, HDFS and object stores alike), vacuumed
    down to the live version plus one prior, so an in-flight reader
    of the old manifest never loses its files mid-read."""
    from ..functions.maintenance import snapshot_vacuum, snapshot_write
    snapshot_write(manifest, zp, fs=fs)
    snapshot_vacuum(zp, keep=2, fs=fs)


def _read_manifest_df(spark: SparkSession, zp: str,
                      fs) -> DataFrame | None:
    """The live manifest; None when `zp` holds no snapshot-committed
    one (never built, or dropped with a whole-table rewrite)."""
    from ..functions.maintenance import _read_manifest, snapshot_read
    if _read_manifest(zp, fs=fs) is None:
        return None
    return snapshot_read(spark, zp)


def build_zonemap(spark: SparkSession, path: str, cols: list[str],
                  zonemap_path: str | None = None,
                  fs=None) -> DataFrame:
    """Build (or rebuild) the zone-map manifest for `cols` over every
    parquet file under `path`.  Footer-only IO, distributed over the
    file list; the manifest itself is one row per file — metadata-
    sized, not data-sized.  Returns the manifest DataFrame (also
    persisted at `zonemap_path`, default `<path>/_zonemap`)."""
    from ..fsops import get_fs
    fs = fs or get_fs(path)
    files = _data_files(path, fs=fs)
    if not files:
        raise ValueError(f"build_zonemap: no parquet files under {path}")
    # hive PARTITION columns live in directory names, not footers — a
    # manifest over one would read every file as all-null and (a real
    # bug, guarded here) prune files that DO match.  Spark's partition
    # pruning already covers those columns for free.  Detection is
    # exact (no footer sampling, which misclassifies under staggered
    # schema evolution): a hive partition column appears as a
    # `name=value` path segment of every data file.
    hive_cols = {seg.split("=", 1)[0]
                 for f in files
                 for seg in os.path.dirname(f).split(os.sep) if "=" in seg}
    part_cols = [c for c in cols if c in hive_cols]
    if part_cols:
        raise ValueError(
            f"build_zonemap: {part_cols} are hive partition columns "
            "(dir-encoded, absent from file footers) — partition "
            "pruning already handles them; index data columns only")
    schema = _zonemap_schema(spark, path, cols)
    manifest = _footer_scan(spark, files, schema, cols)
    zp = zonemap_path or os.path.join(path, ZONEMAP_DIR)
    _write_manifest(manifest, zp, fs)
    return _read_manifest_df(spark, zp, fs)


def _survives(pred: tuple, mn: Column, mx: Column, nulls: Column,
              n_rows: Column, stats_ok: Column) -> Column:
    """True iff the file MAY contain a matching row (prune iff provably
    not).  Missing stats => survive."""
    op = pred[1]
    if op == "isnull":
        return ~stats_ok | nulls.isNull() | (nulls > 0)
    if op == "notnull":
        return ~stats_ok | nulls.isNull() | (nulls < n_rows)
    all_null = nulls.isNotNull() & (nulls == n_rows)
    if op == "between":
        lo, hi = F.lit(pred[2][0]), F.lit(pred[2][1])
        hit = (mx >= lo) & (mn <= hi)
    elif op == "=":
        v = F.lit(pred[2])
        hit = (mn <= v) & (mx >= v)
    elif op == "in":
        hit = F.lit(False)
        for v in pred[2]:
            hit = hit | ((mn <= F.lit(v)) & (mx >= F.lit(v)))
    elif op == "<":
        hit = mn < F.lit(pred[2])
    elif op == "<=":
        hit = mn <= F.lit(pred[2])
    elif op == ">":
        hit = mx > F.lit(pred[2])
    elif op == ">=":
        hit = mx >= F.lit(pred[2])
    else:
        raise ValueError(f"zone_prune: unsupported op {op!r}")
    # comparison predicates match no row of an all-null file
    return ~stats_ok | (~all_null & F.coalesce(hit, F.lit(False)))


def pred_filter(predicates: list[tuple]) -> Column:
    """The predicate conjunction as a real filter Column (the residual
    applied after pruning, so correctness never rests on stats)."""
    cond = F.lit(True)
    for p in predicates:
        c, op = F.col(p[0]), p[1]
        if op == "isnull":
            cond = cond & c.isNull()
        elif op == "notnull":
            cond = cond & c.isNotNull()
        elif op == "between":
            cond = cond & c.between(F.lit(p[2][0]), F.lit(p[2][1]))
        elif op == "=":
            cond = cond & (c == F.lit(p[2]))
        elif op == "in":
            cond = cond & c.isin(list(p[2]))
        elif op == "<":
            cond = cond & (c < F.lit(p[2]))
        elif op == "<=":
            cond = cond & (c <= F.lit(p[2]))
        elif op == ">":
            cond = cond & (c > F.lit(p[2]))
        elif op == ">=":
            cond = cond & (c >= F.lit(p[2]))
        else:
            raise ValueError(f"pred_filter: unsupported op {op!r}")
    return cond


def zone_prune(spark: SparkSession, path: str, predicates: list[tuple],
               zonemap_path: str | None = None, fs=None
               ) -> tuple[list[str], int]:
    """Resolve `predicates` (a conjunction of
    ``(col, op, value)`` tuples; ops ``= < <= > >= between in isnull
    notnull``) against the manifest.  Returns
    ``(surviving_files, files_total)`` where files_total counts the
    table's CURRENT data files.  Files newer than the manifest always
    survive; manifest rows for files since removed are ignored.  A
    MISSING manifest (never built, or invalidated by a whole-table
    rewrite — compact_parquet/atomic_overwrite swap the table dir, and
    the manifest rides inside it, so a rewrite naturally drops it)
    degrades to no pruning: every current file survives."""
    from ..fsops import get_fs
    fs = fs or get_fs(path)
    zp = zonemap_path or os.path.join(path, ZONEMAP_DIR)
    man = _read_manifest_df(spark, zp, fs)
    if man is None:
        current = _data_files(path, fs=fs)
        return current, len(current)
    keep = F.lit(True)
    for p in predicates:
        c = p[0]
        mn_name = f"{c}_min"
        if mn_name not in man.columns:
            continue          # un-indexed column: cannot prune on it
        stats_ok = (F.col(mn_name).isNotNull()
                    & F.col(f"{c}_max").isNotNull()) | (
            F.col(f"{c}_nulls").isNotNull()
            & (F.col(f"{c}_nulls") == F.col("n_rows")))
        keep = keep & _survives(p, F.col(mn_name), F.col(f"{c}_max"),
                                F.col(f"{c}_nulls"), F.col("n_rows"),
                                stats_ok)
    # resolve distributively: a current file survives unless the
    # manifest PROVES no row matches.  Anti-joining the current list
    # against provably-prunable manifest rows covers both "manifest
    # says match possible" and "newer than the manifest" in one pass,
    # and only SURVIVORS ever reach the driver (the scan needs that
    # list anyway) — never the full manifest.
    current = _data_files(path, fs=fs)
    cur_df = spark.createDataFrame([(f,) for f in current],
                                   "file string")
    prunable = man.where(~keep).select("file")
    survivors = sorted(
        r["file"]
        for r in cur_df.join(prunable, "file", "left_anti").collect())
    return survivors, len(current)


def read_skipping(spark: SparkSession, path: str,
                  predicates: list[tuple],
                  zonemap_path: str | None = None,
                  fs=None) -> DataFrame:
    """Read `path` applying the predicates with file-level skipping:
    only surviving files are handed to the scan (for a hive layout,
    `basePath` keeps partition columns), and the predicate re-applies
    as a real filter — the plan's scan is over the pruned file set,
    the result identical to the unpruned filter.  An empty survivor
    set returns an empty frame with the table schema."""
    survivors, _total = zone_prune(spark, path, predicates,
                                   zonemap_path=zonemap_path, fs=fs)
    flt = pred_filter(predicates)
    if not survivors:
        full = spark.read.parquet(path)
        return full.where(F.lit(False)).where(flt)
    return (spark.read.option("basePath", path).parquet(*survivors)
            .where(flt))


def update_zonemap(spark: SparkSession, path: str,
                   zonemap_path: str | None = None,
                   fs=None) -> tuple[int, int]:
    """Incrementally refresh the manifest after appends/compactions:
    footer-scan ONLY files not yet in the manifest, drop rows for
    files gone from disk, keep everything else as-is — maintaining the
    manifest costs the CHANGE, not the table (the same contract as
    upsert_partitioned).  Indexed columns come from the existing
    manifest; build_zonemap first to define them.  Returns
    (files_added, files_dropped); (0, 0) when already current."""
    from ..fsops import get_fs
    fs = fs or get_fs(path)
    zp = zonemap_path or os.path.join(path, ZONEMAP_DIR)
    man = _read_manifest_df(spark, zp, fs)
    if man is None:
        raise ValueError(f"update_zonemap: no zone map at {zp} — "
                         "build_zonemap first")
    cols = sorted({c[:-4] for c in man.columns if c.endswith("_min")})
    # set algebra runs as joins against the current file list (a
    # manifest at the module's 10^5-10^6-file target would blow up the
    # plan as an isin() literal and the driver as a collected set);
    # only the CHANGE (new files) is collected, to feed the footer scan
    current = _data_files(path, fs=fs)
    cur_df = spark.createDataFrame([(f,) for f in current],
                                   "file string")
    new_files = sorted(
        r["file"] for r in
        cur_df.join(man.select("file"), "file", "left_anti").collect())
    gone = (man.select("file")
            .join(cur_df, "file", "left_anti").count())
    if not new_files and not gone:
        return (0, 0)
    kept = man.join(cur_df, "file", "left_semi")
    if new_files:
        delta = _footer_scan(spark, new_files,
                             _zonemap_schema(spark, path, cols), cols)
        merged = kept.unionByName(delta.select(*man.columns))
    else:
        merged = kept
    # the kept side lazily reads the current manifest version, which
    # stays readable: the snapshot commit writes a new version dir
    _write_manifest(merged, zp, fs)
    return (len(new_files), gone)
