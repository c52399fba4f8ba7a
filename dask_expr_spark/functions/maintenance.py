"""Incremental table maintenance: SCD-1 upsert, partition-pruned
upsert-in-place, key-bucketed upsert for tables with no natural
partition column, and crash-safe table swaps (training-pipeline
extension; no reference analogue — dask-expr has no mutation/merge
surface at all, its to_parquet (io/parquet.py) only appends or
overwrites whole datasets).

The 100 TB pattern: a corpus table is maintained incrementally — each
day a small updates batch (new docs, re-crawled docs, metadata fixes)
merges into the snapshot.  Rewriting the whole table per batch is a
100 TB write for a GB of change; `upsert_partitioned` reads ONLY the
hive partitions the batch touches, and `upsert_bucketed` gives
key-only tables the same pruning by hashing the upsert keys into
hive bucket directories (pseudo-partitions).

Durability contract: a TABLE commits under one of two protocols,
chosen per table.  The RENAME protocol (`atomic_overwrite` /
`_swap_partition_dirs`) writes the new data fully to a sibling
directory BEFORE anything existing moves, renames old data aside
(never deletes it) until the new data is promoted, and
`recover_table` repairs the one transient state in which a crash can
leave the table momentarily absent.  The POINTER protocol
(`upsert_partitioned(commit="pointer")`) only ever creates data files
and commits by one atomic small-object manifest claim.  The library's
own SIDE INDEXES — the key bloom (move guard) and the zone map
(sources/zonemap.py) — always commit as SNAPSHOTS (`snapshot_write`:
immutable version dir + exclusive claim), whichever protocol their
table uses.  No step relies on non-replicated executor state (the old
localCheckpoint-then-overwrite pattern lost the table if an executor
died mid-overwrite).

Filesystem seam (fsops.py): every filesystem touch goes through a
TableFS — PosixFS locally, the JVM Hadoop FileSystem for hdfs://
s3a:// gs:// abfs:// paths.  Rename-atomic stores (POSIX, HDFS) may
use either table protocol; object stores need the pointer protocol.
The rename protocols REFUSE to run on a non-atomic-rename fs rather
than silently weakening.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import urllib.parse
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsops import get_fs

_BUCKET_SPEC = "_bucket_spec.json"


def _resolve_fs(path: str, fs):
    """The durability seam: every filesystem touch in this module goes
    through a TableFS (fsops.py) so HDFS/object-store tables use the
    cluster's own client instead of driver-local os/shutil.  `fs=None`
    resolves from the path scheme (PosixFS for local paths)."""
    return fs if fs is not None else get_fs(path)


def align_schemas(a: DataFrame, b: DataFrame
                  ) -> tuple[DataFrame, DataFrame]:
    """Widen two frames to their UNION schema, null-filling what each
    side lacks (types come from whichever side has the column; a
    column present on both must agree by name — Spark's unionByName
    enforces type compatibility downstream).  Column order: a's
    columns, then b's additions.  The schema-evolution primitive for
    upsert(evolve_schema=True) and snapshot pipelines."""
    add_to_a = [f for f in b.schema.fields if f.name not in a.columns]
    add_to_b = [f for f in a.schema.fields if f.name not in b.columns]
    for f in add_to_a:
        a = a.withColumn(f.name, F.lit(None).cast(f.dataType))
    for f in add_to_b:
        b = b.withColumn(f.name, F.lit(None).cast(f.dataType))
    cols = list(a.columns)
    return a.select(*cols), b.select(*cols)


def upsert(target: DataFrame, updates: DataFrame, keys: list[str],
           order_col: str | None = None,
           evolve_schema: bool = False) -> DataFrame:
    """SCD-1 merge: rows from `updates` replace same-key rows in
    `target`; novel keys insert.  Schemas must match by name — unless
    `evolve_schema=True`, which widens both sides to the union schema
    first (new columns in the batch appear on old rows as null, and a
    batch missing columns leaves them null on its rows).  Evolution is
    for WHOLE-TABLE merges and snapshot pipelines (snapshot_write
    makes each version its own schema); the in-place pruned paths
    (upsert_partitioned / upsert_bucketed) deliberately do NOT evolve
    — rewriting only touched directories would leave the table's
    files schema-split, which a default parquet read resolves from an
    arbitrary file.  Evolve those by a full rewrite (or read with
    mergeSchema and compact).

    `order_col` resolves duplicate keys WITHIN the updates batch
    (highest wins — e.g. an ingest timestamp); without it the batch
    must be key-unique (enforced cheaply downstream: a duplicate key
    would surface as a fan-out in the anti join's complement).

    Plan: one shuffle per side — updates is deduped with a max_by
    aggregation (map-side partial), target anti-joins the (small)
    update key set, and the union is shuffle-free.  At scale the anti
    join broadcasts when the batch is small, which AQE decides from
    the run-time size."""
    if evolve_schema:
        target, updates = align_schemas(target, updates)
    if order_col is not None:
        cols = [c for c in updates.columns if c not in keys]
        upd = (updates.groupBy(*keys)
               .agg(*[F.max_by(c, order_col).alias(c) for c in cols])
               .select(*target.columns))
    else:
        upd = updates.select(*target.columns)
    kept = target.join(upd.select(*keys), keys, "left_anti")
    return kept.unionByName(upd)


# ---------------------------------------------------------------------------
# Crash-safe swap machinery.  Three sibling directories per table:
#   <path>__new      the fully-written replacement (exists only mid-swap)
#   <path>__old      the whole previous table, renamed aside pre-promote
#   <path>__oldparts container of individual partition dirs renamed aside
# Invariant: at EVERY crash point the previous data still exists on disk
# under one of these names, and recover_table() restores a readable
# table (rolling the aborted swap back or finishing its cleanup).
# ---------------------------------------------------------------------------


def recover_table(path: str, fs=None) -> bool:
    """Repair an interrupted atomic_overwrite / partition swap at
    `path`.  Idempotent; call before reading a table that a compactor
    or upsert may have been rewriting when a crash hit.  Returns True
    if anything was restored (False = nothing to do / cleanup only).

    States handled:
    - `<path>__old` present, `path` absent → the whole-table promote
      never happened: the old table is renamed back (the aborted new
      data in `<path>__new` is dropped — the swap never committed).
    - `<path>__old` present, `path` present → promote completed; the
      old copy is leftover trash and is deleted.
    - `<path>__oldparts/<dir>` present and `<path>/<dir>` absent → a
      per-partition swap was interrupted between its two renames; the
      old partition directory is moved back.  Dirs whose replacement
      exists are trash (their swap committed) and are deleted.
    - `<path>__new` is always residue of an uncommitted write: deleted.
    - `<path>__drop` is always TRASH (partition dirs renamed out by a
      committed delete_where): deleted, never restored — the rename
      out IS the commit point for a whole-partition delete.

    Rename-protocol validity: this contract assumes the filesystem's
    rename is atomic (POSIX, HDFS — fs.atomic_rename).  On object
    stores use pointer-commit tables (upsert_partitioned
    commit="pointer"), whose recovery is vacuum_manifested.
    """
    fs = _resolve_fs(path, fs)
    p = path.rstrip("/")
    old, oldparts, new = p + "__old", p + "__oldparts", p + "__new"
    drop = p + "__drop"
    if fs.isdir(drop):
        fs.delete(drop)
    recovered = False
    if fs.isdir(old):
        if fs.isdir(p):
            fs.delete(old)
        else:
            fs.rename(old, p)
            recovered = True
    if fs.isdir(oldparts):
        if fs.isdir(p):
            for d in fs.listdir(oldparts):
                dst = os.path.join(p, d)
                if not fs.exists(dst):
                    fs.rename(os.path.join(oldparts, d), dst)
                    recovered = True
        fs.delete(oldparts)
    if fs.isdir(new):
        fs.delete(new)
    return recovered


def atomic_overwrite(path: str, write_new, fs=None) -> None:
    """Replace the table at `path` with the output of
    ``write_new(tmp_path)`` such that a crash at ANY point leaves the
    table recoverable (recover_table): the replacement is fully
    written to `<path>__new` first — while `path` is still intact, so
    a plan that lazily re-reads `path` needs no checkpoint — then the
    old table renames aside and the new one promotes.  The old copy is
    deleted only after the promote.  Rename-protocol: requires
    fs.atomic_rename (raises otherwise — use snapshot_write's
    pointer commit on object stores)."""
    fs = _resolve_fs(path, fs)
    if not fs.atomic_rename:
        raise ValueError(
            f"atomic_overwrite: rename is not atomic on "
            f"{fs.scheme}:// — the rename-aside contract does not "
            "hold there.  Use snapshot_write (manifest-pointer "
            "commit) or upsert_partitioned(commit='pointer')")
    p = path.rstrip("/")
    recover_table(p, fs=fs)
    new, old = p + "__new", p + "__old"
    write_new(new)
    if not fs.isdir(p):               # bootstrap: nothing to swap out
        fs.rename(new, p)
        return
    fs.rename(p, old)
    fs.rename(new, p)
    fs.delete(old)


def _swap_partition_dirs(path: str, new_root: str,
                         dirnames: list[str], fs=None) -> None:
    """Promote partition directories from `new_root` into `path`,
    renaming each existing directory aside into `<path>__oldparts`
    first.  Per-partition atomicity: a crash mid-loop leaves every
    partition either fully old or fully new, and recover_table
    restores any directory caught between its two renames."""
    fs = _resolve_fs(path, fs)
    p = path.rstrip("/")
    oldparts = p + "__oldparts"
    fs.mkdirs(oldparts)
    for d in dirnames:
        dst = os.path.join(p, d)
        if fs.isdir(dst):
            fs.rename(dst, os.path.join(oldparts, d))
        fs.rename(os.path.join(new_root, d), dst)
    fs.delete(oldparts)
    fs.delete(new_root)


def _swap_in_slice(spark: SparkSession, path: str, df: DataFrame,
                   partition_col: str, fs, before_swap=None) -> list[str]:
    """The rename protocol's one write path (upsert_partitioned,
    overwrite_partitions, delete_where's rewrite): `df` writes to
    `<path>__new` while the table is intact, its `col=` dirs are
    listed, `before_swap` runs (the caller's pre-commit barrier) and
    the dirs swap in via rename-aside (_swap_partition_dirs).  The
    caller refreshes the zone map after its last filesystem change.
    Returns the dir names swapped in."""
    new_root = path.rstrip("/") + "__new"
    fs.delete(new_root)
    (_merge_write_layout(spark, path, df, [partition_col], fs)
     .write.mode("overwrite")
     .partitionBy(partition_col).parquet(new_root))
    dirs = _list_part_dirs(fs, new_root, [partition_col])
    if before_swap is not None:
        before_swap()
    _swap_partition_dirs(path, new_root, dirs, fs=fs)
    return dirs


def _drop_part_dirs(fs, path: str, dirnames: list[str]) -> None:
    """The rename protocol's whole-partition drop: each dir renames
    into `<path>__drop` — the rename out IS the commit — and the trash
    is deleted (recover_table clears it after a crash).  A crash
    mid-loop leaves each dir either live or dropped."""
    if not dirnames:
        return
    trash = path.rstrip("/") + "__drop"
    fs.mkdirs(trash)
    for d in dirnames:
        fs.rename(os.path.join(path, d), os.path.join(trash, d))
    fs.delete(trash)


# ---------------------------------------------------------------------------
# Pointer-commit protocol: the object-store-safe alternative to the
# rename swap for PARTITIONED tables.  On s3a/gs/abfs a directory
# rename is copy+delete — not atomic, not constant-time — so the
# rename-aside contract above does not hold.  The protocol here never
# renames or overwrites a data file:
#
#   1. the replacement slice APPENDS into the live partition dirs
#      (Spark writes fresh uniquely-named files; old files untouched);
#   2. per touched partition directory, the new committed file list is
#      recorded — INLINE in the root manifest for small directories,
#      or (above MANIFEST_INLINE_MAX files) in a fresh uniquely-named
#      `_files.<id>.json` SHARD inside the directory, so the root
#      manifest stays O(#dirs) however many files the table holds and
#      a commit writes only the touched dirs' shards;
#   3. the COMMIT POINT is the exclusive creation of the root claim
#      file `_commit.<generation>.json` (the full root manifest) —
#      fsops.write_text_exclusive, the protocol's compare-and-swap:
#      exactly one writer claims generation N+1.  A concurrent writer
#      that read the same base generation loses the claim and raises
#      ConcurrentCommitError; its appended data files and manifest
#      shards are unreferenced orphans that vacuum_manifested clears.
#      (Delta's _delta_log/N.json, in miniature.)
#
# Every mutation (upsert_partitioned, overwrite_partitions,
# delete_where, compact_manifested) runs steps 1-3 through ONE flip,
# _append_and_flip; it and manifest_bootstrap are the only callers of
# the claim (_write_commit) — as Delta commits WRITE, DELETE and
# OPTIMIZE alike through one log append.
#
# `_commit.json` (no generation) survives as a best-effort POINTER
# CACHE, refreshed after each successful claim; readers resolve the
# true head by probing claim files forward from the cached generation
# (read_commit), so a crash between claim and cache refresh loses
# nothing.  A crash anywhere leaves the previous generation live and
# fully readable.  Readers use read_manifested (a plain directory scan
# would see orphans and superseded files — the price of object-store
# correctness, same as Delta/Iceberg).
#
# CONCURRENCY CONTRACT (every pointer entry point): commits are
# optimistic and serialize on the root claim; each claim records the
# partition dirs it `touched`.  A writer that loses the claim REBASES
# instead of recomputing when it safely can (Delta's logical conflict
# detection in miniature): it walks the intervening claims, and if
# every one touched only dirs DISJOINT from its own, it overlays its
# dir entries onto the new head's manifest and re-claims the next
# generation — no data job re-runs, both writers' partitions land.
# Any overlap (or an intervening claim without touched metadata)
# raises ConcurrentCommitError: the loser's mutation was computed
# against a stale view of a dir the winner changed, so it must re-run
# against the new head.  Pass rebase=False for strict single-log
# serialization (every same-base concurrent commit conflicts).
#
# Isolation note (same level as Delta's WriteSerializable): a rebased
# commit is snapshot-correct per partition dir, but CROSS-partition
# read-check invariants — the upsert move guard's "this key exists in
# no other partition" — were verified against the OUTSIDE DIRS of the
# writer's BASE snapshot (its committed dirs the batch does not
# touch), not the head it rebased onto.  Two concurrent writers
# inserting the same brand-new key into different partitions can
# therefore both land (the anomaly class WriteSerializable permits);
# deployments that need the guard serialized use rebase=False and
# re-run losers.  The CAS is as strong as the store's exclusive
# create: atomic on POSIX (hard-link publish) and HDFS (rename-onto-
# existing fails); on object stores it is the connector's
# create(overwrite=false) — a true conditional PUT where supported
# (see fsops.write_text_exclusive).
#
# Partition specs: `partition_col` accepts a single column (string)
# or a LIST for multi-level hive layouts (date=…/source=…) — manifest
# keys become '/'-joined relative dir paths and every pointer-path
# operation (bootstrap, upsert, overwrite, delete_where, compaction,
# vacuum, pruned reads) handles both.  Multi-column specs are
# POINTER-PROTOCOL ONLY: the rename swap's per-partition crash
# recovery is single-level by design (use a composite value there, or
# switch the table to pointer commits).
#
# Scope of the no-rename guarantee: it covers this layer — the TABLE
# commit (claim + shards, all small objects only ever created) and
# every driver-side operation.  The appends themselves go through
# Spark's configured output committer, and the default
# FileOutputCommitter still renames task output JVM-side (copy+delete
# on S3); on real object stores configure the store's rename-free
# committer (e.g. the S3A "magic" committer / cloud-first committers)
# — correctness holds either way, since files invisible to the
# manifest are just orphans, but the performance claim needs the
# committer configured to match.
# ---------------------------------------------------------------------------

_COMMIT = "_commit.json"

# a partition dir's committed file list stays INLINE in the root
# manifest up to this many files; above it, the list moves to a
# `_files.<id>.json` shard inside the dir.  At the module's stated
# target (10^5-10^6 files) inline lists would make every commit
# rewrite a ~100 MB root object; shards bound the root at O(#dirs)
# and a commit's manifest bytes at O(files in touched dirs).
# Module-level so tests/probes can force sharding with tiny tables.
MANIFEST_INLINE_MAX = 16

_CLAIM_RE = re.compile(r"^_commit\.(\d{8})\.json$")


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed the generation this commit targeted.
    The table is unchanged by the losing commit (its data files and
    manifest shards are vacuumable orphans); re-run the mutation
    against the new head."""

# Hive's path-unsafe characters (Spark ExternalCatalogUtils escape
# set); values render into `col=value` dir names with %XX escapes.
_HIVE_UNSAFE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(32)}


def _hive_part_dir(partition_col: str, value) -> str:
    if value is None:
        return f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
    # Spark renders partition values via its own cast-to-string:
    # booleans are lowercase (Python's str() would say 'True').  Other
    # divergences (e.g. doubles in scientific notation) fail LOUDLY
    # downstream — every consumer of this rendering verifies the dir
    # gained files and aborts pre-commit on a mismatch.
    if isinstance(value, bool):
        return f"{partition_col}={'true' if value else 'false'}"
    s = str(value)
    esc = "".join(f"%{ord(ch):02X}" if ch in _HIVE_UNSAFE else ch
                  for ch in s)
    return f"{partition_col}={esc}"


def _norm_pcols(partition_col) -> list[str]:
    """Partition spec normalization: a string (the classic single
    hive column) or a list of columns (multi-level hive layout,
    POINTER protocol only) → list of column names."""
    if isinstance(partition_col, str):
        return [partition_col]
    cols = list(partition_col)
    if not cols or not all(isinstance(c, str) for c in cols):
        raise ValueError(f"invalid partition spec {partition_col!r}")
    return cols


def _man_pcols(man: dict) -> list[str]:
    return _norm_pcols(man["partition_col"])


def _hive_part_path(pcols: list[str], values) -> str:
    """Relative dir path of one partition tuple: 'c1=v1/c2=v2'."""
    return "/".join(_hive_part_dir(c, v)
                    for c, v in zip(pcols, values))


def _list_part_dirs(fs, path: str, pcols: list[str]) -> list[str]:
    """Enumerate on-disk partition dirs for a (possibly multi-level)
    hive layout: relative '/'-joined paths, one per leaf dir, each
    level filtered to its own `col=` prefix."""
    rels = [""]
    for c in pcols:
        nxt = []
        for r in rels:
            base = os.path.join(path, r) if r else path
            if not fs.isdir(base):
                continue
            for d in fs.listdir(base):
                if d.startswith(f"{c}="):
                    nxt.append(f"{r}/{d}" if r else d)
        rels = nxt
    return sorted(rels)


def _commit_file(path: str) -> str:
    return os.path.join(path, _COMMIT)


def _claim_file(path: str, gen: int) -> str:
    return os.path.join(path, f"_commit.{int(gen):08d}.json")


def read_commit(path: str, fs=None) -> dict | None:
    """Resolve the table's current manifest (the HEAD): start from the
    `_commit.json` pointer cache (falling back to one root listing for
    claim files when the cache is absent — e.g. a crash before the
    very first cache write), then probe claim files FORWARD until the
    next generation is missing.  The claims are the truth, the cache
    is an optimization: the steady-state read cost is one GET for the
    cache plus one existence miss."""
    fs = _resolve_fs(path, fs)
    cp = _commit_file(path)
    if fs.exists(cp):
        man = json.loads(fs.read_text(cp))
    else:
        gens = manifest_generations(path, fs=fs)
        if not gens:
            return None
        man = json.loads(fs.read_text(_claim_file(path, gens[-1])))
    g = int(man["generation"])
    while fs.exists(_claim_file(path, g + 1)):
        g += 1
        man = json.loads(fs.read_text(_claim_file(path, g)))
    return man


_REBASE_MAX_ATTEMPTS = 32


def _write_commit(path: str, man: dict, fs, touched=None,
                  rebase: bool = True) -> dict:
    """The commit point: exclusively claim `_commit.{generation}.json`
    (the CAS — exactly one writer wins each generation), then refresh
    the `_commit.json` pointer cache.

    `touched` is the list of partition-dir keys this commit changed;
    it is recorded in the claim so LATER writers can conflict-check
    against it.  When the claim is lost and `rebase` is true, the
    commit rebases (see the module CONCURRENCY CONTRACT): if the
    winning claim touched only disjoint dirs, this commit's entries
    overlay the winner's manifest and the next generation is claimed
    — walking one intervening generation per loop turn, so a chain of
    disjoint winners costs one read+re-claim each, never a data
    recompute.  Overlapping dirs (or a winner without touched
    metadata, or touched=None here) raise ConcurrentCommitError.
    Returns the manifest that actually committed (== `man` unless a
    rebase merged it onto a newer head)."""
    if touched is not None:
        man = dict(man)
        man["touched"] = sorted(touched)
    for _ in range(_REBASE_MAX_ATTEMPTS):
        gen = int(man["generation"])
        text = json.dumps(man)
        try:
            fs.write_text_exclusive(_claim_file(path, gen), text)
        except FileExistsError:
            winner = json.loads(fs.read_text(_claim_file(path, gen)))
            wt = winner.get("touched")
            ours = set(man.get("touched", ())) if touched is not None \
                else None
            if (not rebase or ours is None or wt is None
                    or set(wt) & ours):
                overlap = (sorted(set(wt) & ours)
                           if wt is not None and ours is not None
                           else None)
                raise ConcurrentCommitError(
                    f"pointer commit: generation {gen} at {path} was "
                    "claimed by a concurrent writer"
                    + (f" touching the same partition dirs {overlap}"
                       if overlap else "")
                    + " — this commit's appended files are "
                    "unreferenced orphans (vacuum_manifested clears "
                    "them); re-run the mutation against the new head"
                ) from None
            # disjoint-partition rebase: keep the winner's view of
            # every dir we did not touch, overlay ours, re-claim next
            parts = dict(winner["partitions"])
            for d in man["touched"]:
                if d in man["partitions"]:
                    parts[d] = man["partitions"][d]
                else:
                    parts.pop(d, None)
            man = {**winner, "partitions": parts,
                   "touched": man["touched"],
                   "generation": gen + 1}
            continue
        # best-effort pointer cache (read_commit probes forward from
        # it, so losing a race on THIS unconditional write is harmless)
        fs.write_text_atomic(_commit_file(path), text)
        return man
    raise ConcurrentCommitError(
        f"pointer commit at {path}: lost {_REBASE_MAX_ATTEMPTS} "
        "consecutive disjoint-rebase claim races — contention too "
        "high; re-run the mutation")


def _dir_files(man: dict, path: str, d: str, fs) -> list[str]:
    """Resolve one partition dir's committed file list: inline list,
    or a `@shard` pointer to `_files.<id>.json` inside the dir."""
    entry = man["partitions"].get(d, [])
    if isinstance(entry, str):
        return json.loads(
            fs.read_text(os.path.join(path, d, entry.lstrip("@"))))
    return list(entry)


def _set_dir_files(man: dict, path: str, d: str, files: list[str],
                   fs) -> None:
    """Record a dir's new committed file list into the (pre-claim)
    manifest: inline when small, else as a fresh uniquely-named shard
    (only ever created — a concurrent writer's shard can never be
    overwritten, and a losing commit's shard is just an orphan)."""
    if len(files) <= MANIFEST_INLINE_MAX:
        man["partitions"][d] = sorted(files)
        return
    name = f"_files.{uuid.uuid4().hex[:12]}.json"
    fs.write_text_exclusive(os.path.join(path, d, name),
                            json.dumps(sorted(files)))
    man["partitions"][d] = "@" + name


def manifest_files(man: dict, path: str, fs=None,
                   dirs: list[str] | None = None) -> list[str]:
    """Full paths of the manifest's committed data files, resolving
    inline and sharded dir entries alike; `dirs` restricts to the
    named partition directories (the pruned-read path)."""
    fs = _resolve_fs(path, fs)
    names = sorted(man["partitions"]) if dirs is None else sorted(dirs)
    return [os.path.join(path, d, f)
            for d in names
            if d in man["partitions"]
            for f in _dir_files(man, path, d, fs)]


def _committed_dirs(man: dict) -> list[str]:
    """The manifest's dirs that hold at least one committed file (a
    `@shard` entry is never written for an empty list)."""
    return sorted(d for d, e in man["partitions"].items()
                  if isinstance(e, str) or e)


_UNREAD = object()


def _resolve_commit(path: str, fs, commit: str, op: str,
                    man=_UNREAD, partition_col=None) -> str:
    """Pick the durability protocol for a partitioned-table mutation.
    "auto" = pointer when the table already carries a `_commit.json`
    OR the filesystem lacks atomic rename; rename otherwise.  An
    EXPLICIT commit="rename" is refused on a pointer-commit table
    (the rename protocol would read the raw directory — superseded
    generations plus uncommitted orphans — silently duplicating rows
    and stranding the manifest) AND on a non-atomic-rename filesystem
    (the module contract: refuse rather than silently weaken).  With
    `partition_col` given, a multi-column spec is refused under the
    rename protocol (its per-partition crash recovery is
    single-level), and so is a spec other than the one a
    pointer-commit table is committed on.
    Callers that already read the manifest pass it as `man` to skip
    the second read (one GET per mutation on object stores)."""
    if man is _UNREAD:
        man = read_commit(path, fs=fs)
    manifested = man is not None
    if commit == "auto":
        commit = ("pointer" if manifested or not fs.atomic_rename
                  else "rename")
    elif commit == "rename" and manifested:
        raise ValueError(
            f"{op}: table at {path} is pointer-committed "
            "(_commit.json present) — the rename protocol would read "
            "superseded and orphaned files; use commit='pointer' (or "
            "vacuum_manifested + remove _commit.json to convert)")
    elif commit == "rename" and not fs.atomic_rename:
        raise ValueError(
            f"{op}: commit='rename' on {fs.scheme}:// — rename is "
            "not atomic there; use commit='pointer'")
    elif commit not in ("rename", "pointer"):
        raise ValueError(f"{op}: unknown commit mode {commit!r}")
    if (partition_col is not None and commit != "pointer"
            and len(_norm_pcols(partition_col)) > 1):
        raise ValueError(
            f"{op}: multi-column partition specs are pointer-protocol "
            "only (the rename swap's per-partition recovery is "
            "single-level); use commit='pointer'")
    if (partition_col is not None and manifested
            and _man_pcols(man) != _norm_pcols(partition_col)):
        raise ValueError(
            f"{op}: table at {path} is committed on "
            f"{man['partition_col']}, not {partition_col}")
    return commit


def _partition_values(df: DataFrame, pcols: list[str]) -> list:
    """`df`'s distinct partition values — one driver collect, bounded
    by the partition count: scalars for a single column, tuples for a
    multi-level spec."""
    rows = df.select(*pcols).distinct().collect()
    return [tuple(r) if len(pcols) > 1 else r[0] for r in rows]


def _value_dirs(pcols: list[str], values) -> list[str]:
    """Relative dir paths of partition values (scalars for a single
    column, tuples for several), rendered the way Spark names them."""
    return [_hive_part_path(pcols,
                            v if isinstance(v, (tuple, list)) else (v,))
            for v in values]


def _part_files(fs, path: str, dirname: str) -> list[str]:
    d = os.path.join(path, dirname)
    if not fs.isdir(d):
        return []
    return sorted(f for f in fs.listdir(d)
                  if f.endswith(".parquet")
                  and not f.startswith((".", "_")))


def manifest_bootstrap(path: str, partition_col: str | list[str],
                       fs=None) -> dict:
    """Adopt an existing hive-partitioned parquet table into the
    pointer protocol: every current data file becomes the committed
    generation 0.  Safe to run on a quiescent table only (concurrent
    writers' files would be adopted mid-write); an ALREADY-manifested
    table is refused (re-bootstrapping would adopt orphans), and two
    concurrent bootstraps serialize on the generation-0 claim — the
    loser raises ConcurrentCommitError.  `partition_col` may be a
    list for multi-level hive layouts (date=…/source=…): manifest
    keys become '/'-joined relative dir paths."""
    fs = _resolve_fs(path, fs)
    if read_commit(path, fs=fs) is not None:
        raise ValueError(
            f"manifest_bootstrap: table at {path} is already "
            "pointer-committed — bootstrapping again would adopt "
            "orphans and superseded files")
    pcols = _norm_pcols(partition_col)
    man = {"generation": 0,
           "partition_col": (partition_col
                             if isinstance(partition_col, str)
                             else list(pcols)),
           "partitions": {}}
    for d in _list_part_dirs(fs, path, pcols):
        _set_dir_files(man, path, d, _part_files(fs, path, d), fs)
    # two concurrent bootstraps always conflict (rebase=False): both
    # adopt every dir, so there is nothing disjoint to merge
    return _write_commit(path, man, fs,
                         touched=sorted(man["partitions"]),
                         rebase=False)


def manifest_generations(path: str, fs=None) -> list[int]:
    """The pointer table's surviving generation numbers (its version
    log): every `_commit.{N}.json` claim still on disk, sorted.  The
    head is the max; older entries serve time travel
    (read_manifested(generation=N)) until vacuum_manifested retires
    them past its `keep_claims` window."""
    fs = _resolve_fs(path, fs)
    if not fs.isdir(path):
        return []
    return sorted(int(m.group(1)) for m in
                  (_CLAIM_RE.match(e) for e in fs.listdir(path)) if m)


def _manifest_at(path: str, fs, generation: int | None,
                 op: str) -> dict:
    """The manifest of `generation` (None = the head): the head
    itself, or its surviving claim file.  Raises on a table without a
    manifest and on a vacuumed or never-committed generation."""
    man = read_commit(path, fs=fs)
    if man is None:
        raise ValueError(
            f"{op}: no {_COMMIT} at {path} — not a pointer-commit "
            "table (manifest_bootstrap or "
            "upsert_partitioned(commit='pointer') first)")
    if generation is None or int(generation) == int(man["generation"]):
        return man
    cf = _claim_file(path, int(generation))
    if not fs.exists(cf):
        raise ValueError(
            f"{op}: generation {int(generation)} not available at "
            f"{path} (vacuumed or never committed; live generations: "
            f"{manifest_generations(path, fs=fs)})")
    return json.loads(fs.read_text(cf))


def read_manifested(spark: SparkSession, path: str, fs=None,
                    partition_values: list | None = None,
                    generation: int | None = None) -> DataFrame:
    """Read a pointer-commit table: exactly the manifest's files, with
    partition columns recovered from the dir names (basePath).  This
    is the ONLY correct read of such a table — a bare directory scan
    would include uncommitted orphans and superseded files.

    `partition_values` prunes the read to those partitions' dirs
    BEFORE the file list is built — the manifest-level analogue of
    hive partition pruning, and the path that keeps the driver-side
    file list change-sized on big tables (a full read of a 10^6-file
    table necessarily ships 10^6 paths through the driver).  Values
    render through the same dir naming Spark writes; a rendering
    divergence yields an EMPTY pruned read, which mutating callers
    guard against pre-commit (and read-only callers should treat as
    suspicious for non-string partition types).

    `generation` time-travels to an older commit: the claim chain IS
    a version log (Delta's _delta_log in miniature), so any
    generation whose claim file survives — the head, plus the
    newest `keep_claims` retained by vacuum_manifested — reads
    exactly as it committed.  Raises on a vacuumed or never-committed
    generation, naming the live ones."""
    fs = _resolve_fs(path, fs)
    man = _manifest_at(path, fs, generation, "read_manifested")
    dirs = None
    if partition_values is not None:
        dirs = _value_dirs(_man_pcols(man), partition_values)
    files = manifest_files(man, path, fs=fs, dirs=dirs)
    if not files:
        # a legitimately EMPTY table (e.g. delete_where removed every
        # row): schema comes from whatever files remain on disk
        # (superseded generations, pre-vacuum) — zero rows either way
        try:
            return spark.read.parquet(path).where(F.lit(False))
        except Exception as exc:
            raise ValueError(
                f"read_manifested: manifest at {path} lists no data "
                "files and no on-disk file remains to derive the "
                "schema from — write a batch before reading") from exc
    return spark.read.option("basePath", path).parquet(*files)


def _append_and_flip(spark: SparkSession, path: str, df: DataFrame,
                     partition_col: str | list[str], man: dict, fs,
                     dirs: list[str], emptied: list[str] = (),
                     rebase: bool = True,
                     before_claim=None) -> list[str]:
    """The flip — the pointer protocol's ONE write path, shared by
    every pointer-table mutation.  The already laid-out `df` APPENDS
    into the dirs `dirs`; each dir's fresh files, found by a pre/post
    listing diff (so orphans of an earlier crashed append are never
    adopted), become its committed list, and every dir in `emptied`
    commits as an empty list.  Then `before_claim` runs, the next
    generation is claimed and the zone map refreshes.  A lost claim
    rebases onto the new head when the intervening commits touched
    only disjoint dirs (see _write_commit); otherwise — or with
    rebase=False — it raises ConcurrentCommitError (this append's
    files become orphans).

    `before_claim` — optional barrier invoked after the append but
    BEFORE the generation claim; if it raises, the claim is never
    written and the appended files stay vacuumable orphans (the
    caller's pre-claim ordering hook — e.g. joining a concurrent
    bloom-index update that must commit first)."""
    pcols = _norm_pcols(partition_col)
    if dirs:
        pre = {d: set(_part_files(fs, path, d)) for d in dirs}
        df.write.mode("append").partitionBy(*pcols).parquet(path)
        for d in dirs:
            fresh = sorted(set(_part_files(fs, path, d)) - pre[d])
            if not fresh:
                # the dir-name rendering diverged from Spark's — fail
                # BEFORE the flip: the old manifest stays live, the
                # appended files are vacuumable orphans
                raise RuntimeError(
                    f"pointer commit: no new files appeared under "
                    f"{d!r} after append — hive dir-name mismatch; "
                    "manifest NOT flipped (table unchanged)")
            _set_dir_files(man, path, d, fresh, fs)
    for d in emptied:
        man["partitions"][d] = []
    if before_claim is not None:
        before_claim()
    man["generation"] = int(man["generation"]) + 1
    # the CAS commit point (rebases across disjoint-dir winners)
    _write_commit(path, man, fs, touched=[*dirs, *emptied],
                  rebase=rebase)
    _refresh_zonemap_if_present(spark, path, fs)
    return dirs


def vacuum_manifested(path: str, fs=None,
                      min_age_s: float = 0.0,
                      keep_claims: int = 1) -> int:
    """Delete data files not referenced by any RETAINED generation —
    superseded generations and orphans of crashed or lost-race
    appends — plus retired root claim files and unreferenced
    `_files.*.json` manifest shards.  Run AFTER readers of older
    generations have drained (same contract as snapshot_vacuum): a
    reader resolving an already-retired claim mid-vacuum can lose its
    files.

    `keep_claims` is the time-travel retention window: the newest N
    claim files at or below the head survive, and every data file and
    shard any of them references stays readable — so
    read_manifested(generation=...) and manifested_cdc keep working
    across vacuums for the retained window (the claim chain is the
    version log).  The default 1 retains only the head, the historic
    behavior.  Claims NEWER than the head this vacuum resolved are
    never touched: they belong to a writer that committed mid-vacuum,
    and deleting them would erase an acknowledged commit.

    `min_age_s` is the CONCURRENT-WRITER guard (the Delta/Iceberg
    retention window): an in-flight writer's freshly appended files
    are unreferenced until its claim lands, so a vacuum racing it
    would delete them and the subsequent flip would commit a manifest
    pointing at missing files.  Files — and retired claim files, same
    race — younger than `min_age_s` are kept regardless of reference
    state; deployments with concurrent writers should pass a window
    comfortably above the longest append (e.g. 3600).  The default 0
    keeps single-writer vacuums eager.  Returns the number of DATA
    files removed."""
    import time

    fs = _resolve_fs(path, fs)
    man = read_commit(path, fs=fs)
    if man is None:
        return 0
    cur_gen = int(man["generation"])
    cutoff = time.time() - float(min_age_s)

    def old_enough(p: str) -> bool:
        return min_age_s <= 0 or fs.getmtime(p) <= cutoff

    # retained generations: the newest keep_claims at or below the
    # head, plus anything newer (a concurrent writer's commit)
    gens = manifest_generations(path, fs=fs)
    keep_claims = max(1, int(keep_claims))
    at_or_below = [g for g in gens if g <= cur_gen]
    retained = (set(at_or_below[-keep_claims:])
                | {g for g in gens if g > cur_gen} | {cur_gen})
    # refresh the pointer cache BEFORE dropping older claims — probe-
    # forward readers must never start from a generation whose
    # successors were vacuumed away — but never ROLL IT BACK over a
    # newer head a concurrent writer just cached
    cp = _commit_file(path)
    cached_gen = -1
    if fs.exists(cp):
        try:
            cached_gen = int(json.loads(fs.read_text(cp))["generation"])
        except (ValueError, KeyError):
            cached_gen = -1
    if cached_gen < cur_gen:
        fs.write_text_atomic(cp, json.dumps(man))
    for g in gens:
        cf = _claim_file(path, g)
        if g < cur_gen and g not in retained and old_enough(cf):
            fs.delete(cf)
    # liveness = union over every retained generation's manifest
    mans = []
    for g in sorted(retained):
        if g == cur_gen:
            mans.append(man)
        else:
            cf = _claim_file(path, g)
            if fs.exists(cf):
                mans.append(json.loads(fs.read_text(cf)))
    removed = 0
    pcols = _man_pcols(man)

    def _rm(fp: str) -> None:
        fs.delete(fp)
        # Hadoop local checksums sidecar data files (.name.crc);
        # remove them with their file or emptied dirs never clear
        crc = os.path.join(os.path.dirname(fp),
                          f".{os.path.basename(fp)}.crc")
        if fs.exists(crc):
            fs.delete(crc)

    for d in _list_part_dirs(fs, path, pcols):
        live: set = set()
        live_shards: set = set()
        for m in mans:
            entry = m["partitions"].get(d, [])
            if isinstance(entry, str):
                live_shards.add(entry.lstrip("@"))
            live.update(_dir_files(m, path, d, fs))
        for f in _part_files(fs, path, d):
            fp = os.path.join(path, d, f)
            if f not in live and old_enough(fp):
                _rm(fp)
                removed += 1
        for f in fs.listdir(os.path.join(path, d)):
            fp = os.path.join(path, d, f)
            if (f.startswith("_files.") and f.endswith(".json")
                    and f not in live_shards and old_enough(fp)):
                _rm(fp)
        if not live and not _part_files(fs, path, d) \
                and not fs.listdir(os.path.join(path, d)):
            fs.delete(os.path.join(path, d))
            # multi-level layouts: drop parent level dirs emptied by
            # the leaf removal (never the table root)
            parent = os.path.dirname(d)
            while parent:
                pp = os.path.join(path, parent)
                if fs.isdir(pp) and not fs.listdir(pp):
                    fs.delete(pp)
                parent = os.path.dirname(parent)
    return removed


def compact_manifested(spark: SparkSession, path: str,
                       target_mb: int = 128,
                       fs=None, rebase: bool = True) -> tuple[int, int]:
    """Small-file compaction for pointer-commit tables — completes the
    lifecycle (upsert → read → vacuum → compact) without ever renaming
    a data file: partition dirs whose committed files exceed their
    ceil(bytes/target) count are re-read FROM THE MANIFEST, rewritten
    as fresh coalesced files (append — old files untouched), and ONE
    flip (_append_and_flip) commits every compacted dir at once.  The
    salted per-dir layout is compact_parquet's (_salted_dir_layout).
    Crash at any point leaves the previous generation live; the
    superseded and orphaned files clear in vacuum_manifested.  Returns
    (files_before, files_after) counted over committed files."""
    fs = _resolve_fs(path, fs)
    man = read_commit(path, fs=fs)
    if man is None:
        raise ValueError(
            f"compact_manifested: no {_COMMIT} at {path} — for "
            "rename-protocol tables use compact_parquet")
    pcols = _man_pcols(man)
    chunk = target_mb * 1024 * 1024
    plan: dict[str, int] = {}
    files_before = 0
    dir_files = {d: _dir_files(man, path, d, fs)
                 for d in man["partitions"]}
    for d, fl in dir_files.items():
        files_before += len(fl)
        sz = sum(fs.getsize(os.path.join(path, d, f)) for f in fl)
        n_target = max(1, math.ceil(sz / chunk))
        if n_target < len(fl):
            plan[d] = n_target
    if not plan:
        return (files_before, files_before)
    files = [os.path.join(path, d, f)
             for d in plan for f in dir_files[d]]
    df = spark.read.option("basePath", path).parquet(*files)
    _append_and_flip(spark, path, _salted_dir_layout(df, pcols, plan),
                     pcols, man, fs, sorted(plan), rebase=rebase)
    files_after = files_before + sum(
        len(_dir_files(man, path, d, fs)) - len(dir_files[d])
        for d in plan)
    return (files_before, files_after)


def _salted_dir_layout(df: DataFrame, pcols: list[str],
                       targets: dict[str, int]) -> DataFrame:
    """Compaction layout: repartition so each partition dir `d` in
    `targets` lands as `targets[d]` files (dirs not listed get one),
    by salting inside the partition value — a wide table never fans
    out to n x n_dirs files.  The lookup keys a '\x1f'-joined
    rendering per level with the hive null sentinel, matching the
    row-side rendering; rendering ambiguities (a real
    '__HIVE_DEFAULT_PARTITION__' string, scientific-notation doubles,
    values containing the separator) worst-case a wrong file-count
    target for that dir, never wrong data."""
    def _dir_key(d: str) -> str:
        return "\x1f".join(
            urllib.parse.unquote(seg.split("=", 1)[1])
            for seg in d.split("/"))

    pairs = [x for v, n in sorted((_dir_key(d), n)
                                  for d, n in targets.items())
             for x in (F.lit(v), F.lit(n))]
    row_key = F.concat_ws("\x1f", *[
        F.coalesce(F.col(c).cast("string"),
                   F.lit("__HIVE_DEFAULT_PARTITION__"))
        for c in pcols])
    lookup = (F.element_at(F.create_map(*pairs), row_key)
              if pairs else F.lit(None).cast("int"))
    salt = F.floor(F.rand(42) * F.coalesce(lookup, F.lit(1))).cast("int")
    return (df.withColumn("__salt", salt)
            .repartition(sum(targets.values()),
                         *[F.col(c) for c in pcols], F.col("__salt"))
            .drop("__salt"))


# ---------------------------------------------------------------------------
# Partition-pruned in-place upsert + the bloom-backed move guard.
# ---------------------------------------------------------------------------


def _refresh_zonemap_if_present(spark: SparkSession, path: str,
                                fs) -> None:
    """Keep the table's zone-map manifest current after a mutation
    (VERDICT r8 item 6): the stale contract is fail-safe — unknown
    files always survive pruning — but a mutated table silently LOSES
    its pruning benefit until the manifest refreshes, so the mutators
    that rewrite files (delete_where, compaction) refresh it inline.
    Cost is bounded by the change: update_zonemap footer-scans only
    files the manifest hasn't seen and drops rows for files gone."""
    from ..sources.zonemap import ZONEMAP_DIR, update_zonemap
    if _read_manifest(os.path.join(path, ZONEMAP_DIR), fs=fs) is not None:
        update_zonemap(spark, path, fs=fs)


def _zonemap_range_cols(spark: SparkSession, path: str,
                        fs) -> list[str]:
    """The table's zone-map indexed columns, [] when it has none —
    a driver-side dir probe plus one manifest schema read (no job).
    Merge writes use this to pick their layout: a zone-mapped table
    must keep its files RANGE-CLUSTERED on the indexed columns or
    every rewritten file spans the full value range and pruning dies
    (guide §6: partitioning and sort order on write determine how
    well readers can skip)."""
    from ..sources.zonemap import ZONEMAP_DIR, _read_manifest_df
    try:
        man = _read_manifest_df(spark, os.path.join(path, ZONEMAP_DIR),
                                fs)
    except Exception:
        return []
    return [] if man is None else \
        sorted(c[:-4] for c in man.columns if c.endswith("_min"))


def _merge_write_layout(spark: SparkSession, path: str, df: DataFrame,
                        pcols: list[str], fs) -> DataFrame:
    """Layout policy for a merge-slice write (guide §6).  Plain
    tables REBALANCE by the partition dirs: without it every upstream
    task writes a sliver into every touched dir (a 5.8 MB slice
    measured 64 files of ~170 KB) and later reads pay per-file open
    cost; AQE both coalesces small dirs and splits oversized ones at
    advisoryPartitionSizeInBytes, so file sizes track slice size.
    Zone-mapped tables RANGE-partition on (dirs, zone cols) instead —
    prunable min/max bands by construction, where the old sliver
    layout was only prunable by accident of input order."""
    zcols = [c for c in _zonemap_range_cols(spark, path, fs)
             if c not in pcols and c in df.columns]
    if zcols:
        # range on the ZONE cols alone (not the dirs): every task is
        # a narrow global value band, so each dir's files are banded
        # too.  n is explicit — AQE would otherwise coalesce the
        # range exchange to one task and re-collapse every dir to a
        # single full-range file.  n scales with the SLICE (ADVICE
        # r10): the session shuffle-partition knob is a cluster-wide
        # scale parameter (thousands on a real cluster), and a small
        # merge slice range-split that many ways re-creates the
        # sliver problem this layout exists to fix.  Bytes come from
        # the optimizer's size estimate (parquet-stat-based for the
        # scan-dominated merge lineage; a wild overestimate only
        # saturates at the session knob, i.e. the old behavior), with
        # a floor of 8 bands so banding — and the pruned_ok contracts
        # the zone queries assert — survives tiny slices.
        try:
            sp = int(float(spark.conf.get(
                "spark.sql.shuffle.partitions")))
        except (TypeError, ValueError):
            sp = 32            # non-numeric (e.g. "auto"): local norm
        try:
            adv = int(spark._jvm.org.apache.spark.network.util
                      .JavaUtils.byteStringAsBytes(spark.conf.get(
                          "spark.sql.adaptive"
                          ".advisoryPartitionSizeInBytes", "128m")))
            est = int(str(df._jdf.queryExecution().optimizedPlan()
                          .stats().sizeInBytes()))
            n = min(sp, max(8, -(-est // max(1, adv))))
        except Exception:
            n = sp
        return (df.repartitionByRange(n, *zcols)
                .sortWithinPartitions(*pcols, *zcols))
    return df.hint("rebalance", *pcols)


def _key_str(keys: list[str]) -> Column:
    """':'-joined string rendering of the key tuple (the bloom domain)."""
    return F.concat_ws(":", *[F.col(k).cast("string") for k in keys])


# Broadcast cap for the move-guard candidate set, in KEY CELLS
# (rows × key columns), compared against n_cand × len(keys) below.
# 1M cells ≈ tens-to-low-hundreds of MB hydrated as a hash relation
# even for string keys — safely inside default driver/executor memory
# where the previous 5M-ROW cap could reach GBs on multi-column
# string keys (ADVICE r10).  Batches past the cap keep the shuffle
# shape: merely slower, never an OOM.
_MOVE_GUARD_BROADCAST_KEYS = 1_000_000


def _move_guard_full_scan(spark: SparkSession, outside: DataFrame,
                          keys: list[str], cand: DataFrame,
                          n_cand: int | None = None) -> int:
    """Exact fallback of the partition-move guard: count candidate
    keys present in `outside`, the frame over the files of the
    partition dirs the batch does NOT touch (the only dirs a mover's
    old row can sit in — see _check_partition_moves).  When the
    candidate set is batch-sized (the designed case — it is bounded by
    the update batch's novel keys), the big side is STREAMED against a
    broadcast of the candidates — a map-only column-pruned scan —
    instead of the old distinct+SMJ shape, which shuffled every table
    key twice (distinct agg + sort) to answer a membership question
    about a handful of keys (guide §3.1; measured 1.78 s → 0.87 s on
    the 15M-key x10 table).  A giant candidate set (bulk insert, no
    bloom) keeps the shuffle shape — broadcasting it would blow the
    8 GB relation cap.  Module-level so tests can assert it only runs
    when the bloom prefilter reports maybe-hits."""
    if n_cand is None:
        n_cand = cand.count()
    if n_cand == 0:
        return 0
    if n_cand * max(1, len(keys)) <= _MOVE_GUARD_BROADCAST_KEYS:
        return (outside.select(*keys)
                .join(F.broadcast(cand), keys, "left_semi")
                .distinct().count())
    return (cand.join(outside.select(*keys).distinct(),
                      keys, "left_semi").count())


def _check_partition_moves(spark: SparkSession, outside_fn,
                           target: DataFrame, updates: DataFrame,
                           keys: list[str], partition_col: str,
                           key_bloom_path: str | None) -> None:
    """Reject a partition-moving update: a batch key that exists in
    the table only OUTSIDE the touched partitions would leave its old
    row live and the key duplicated.  The caller runs this only when
    the base snapshot has committed dirs outside the batch's, and
    `outside_fn` is a thunk for the frame over those dirs' files.

    Cost ladder, cheapest first: the bloom probe drops keys the table
    DEFINITELY lacks (map-only); the maybe-present keys anti-join the
    touched slice `target` (a key held there is updated in place, not
    moved); only the candidates left over build the outside frame and
    scan it (_move_guard_full_scan).  Scanning the outside dirs alone
    is exact: the anti join already proved no candidate sits in a
    touched dir."""
    batch_keys = updates.select(*keys).distinct()
    idx = (read_key_bloom(spark, key_bloom_path)
           if key_bloom_path is not None else None)
    if idx is not None:
        # bloom prefilter FIRST (guide §2.4: the cheapest filter runs
        # before any shuffle): keys the table bloom says are
        # DEFINITELY absent cannot be moves (no false negatives), so
        # a mostly-insert batch never anti-joins the target slice at
        # all — guard cost scales with the batch, not the table
        from .sketches import bloom_probe
        probed = bloom_probe(
            batch_keys.withColumn("__mg_key", _key_str(keys)),
            idx, "__mg_key", result_col="__maybe")
        batch_keys = (probed.where(F.col("__maybe"))
                      .drop("__mg_key", "__maybe"))
        if batch_keys.isEmpty():
            return
    # no .distinct() on the anti join's right side: anti-join
    # semantics ignore right-side duplicates, and the distinct was a
    # full extra aggregation over the touched slice (guide §2.4)
    cand = batch_keys.join(target.select(*keys), keys, "left_anti")
    n_cand = cand.count()
    if n_cand == 0:
        # every (maybe-present) batch key lives in a touched
        # partition: nothing can be a mover — the outside frame is
        # never even built (the thunk stays uncalled)
        return
    moved = _move_guard_full_scan(spark, outside_fn(), keys, cand, n_cand)
    if moved:
        raise ValueError(
            f"upsert_partitioned: {moved} update key(s) exist in a "
            f"partition outside the batch's {partition_col} values — "
            "a partition-moving update; delete+insert instead")


@contextlib.contextmanager
def _bloom_update(spark: SparkSession, bloom_path: str | None,
                  updates: DataFrame, keys: list[str], table_fn):
    """Run the guarded upsert's bloom update (bloom_append_snapshot of
    the batch's keys) on its own thread for the duration of the
    block, which receives the barrier to call BEFORE its commit point
    (the pointer claim, the rename swap).  The barrier joins the
    update and re-raises its failure, so the table never commits a
    key the bloom may lack: a crash or lost claim between bloom
    commit and table commit leaves only harmless extra bloom keys,
    where the reverse order could leave a committed key out of the
    bloom — a false negative the move guard would trust.  The update
    overlaps the slice write (guide §2.6: independent jobs back-fill
    each other's stragglers — measured 6.0 s sequential -> 3.4 s
    overlapped on the x10 composite) without weakening that order.
    Leaving the block always reaps the thread; a failed block keeps
    its own error (a completed update is extra keys by contract).
    With no bloom the barrier is a no-op."""
    if bloom_path is None:
        yield lambda: None
        return
    from pyspark import InheritableThread
    errs: list[BaseException] = []

    def run():
        try:
            bloom_append_snapshot(spark, bloom_path, updates, keys,
                                  table_fn=table_fn)
        except BaseException as exc:  # re-raised by the barrier
            errs.append(exc)

    th = InheritableThread(target=run)
    th.start()

    def barrier() -> None:
        th.join()
        if errs:
            raise errs[0]
    try:
        yield barrier
    finally:
        th.join()


def upsert_partitioned(spark: SparkSession, path: str, updates: DataFrame,
                       keys: list[str],
                       partition_col: str | list[str],
                       order_col: str | None = None,
                       check_moves: bool = True,
                       key_bloom_path: str | None = None,
                       fs=None, commit: str = "auto",
                       rebase: bool = True) -> list:
    """Merge `updates` into the hive-partitioned parquet table at
    `path` IN PLACE, touching only the partitions the batch contains.

    Steps: (1) the batch's distinct partition values are collected
    (bounded by the partition count, the same driver class as hive
    pruning itself); (2) the target is read with a partition filter —
    Spark's scan prunes to those directories, untouched partitions are
    never opened; (3) the move guard checks the OUTSIDE dirs (below);
    (4) the merged slice is written to `<path>__new` (while the table
    is still intact — no checkpoint needed) and the touched partition
    directories swap in via rename-aside (_swap_partition_dirs), so a
    crash at any point leaves every partition either fully old or
    fully new and recover_table repairs the transient states.  A
    touched dir the merge leaves with no rows (`order_col` moved its
    only key elsewhere in the batch) is dropped whole, the way
    delete_where drops an emptied partition.

    Updates that would MOVE a row between partitions are rejected (the
    old partition isn't read, so the old row couldn't be removed) —
    mutate partition keys by delete+insert instead.  `check_moves`
    runs that guard over the OUTSIDE dirs: the base snapshot's
    committed, non-empty partition dirs (the manifest's under the
    pointer protocol, the on-disk ones under rename) minus the dirs
    the batch touches — a key already in a touched dir is replaced by
    the merge itself, so only the outside dirs can hold a mover's old
    row.  A batch that touches every committed dir has no outside
    dirs and runs no guard job at all (no bloom read, no probe, no
    scan).  Otherwise, with `key_bloom_path` (a snapshot-committed key
    bloom, auto-bootstrapped from table ∪ batch by the first guarded
    upsert or built by build_key_bloom) the guard probes the batch
    keys map-only and falls back to the column-pruned key scan of the
    outside dirs' files ONLY for bloom maybe-hits, so the per-batch
    guard cost scales with the batch, not the table.  A dir name
    rendered differently from Spark's only enlarges the outside set
    (the guard over-scans, never under-scans).  Under BOTH commit
    protocols the merge appends the batch's keys to the bloom
    (bloom_append_snapshot) BEFORE the table commit point — the
    pointer claim or the rename swap — so every failure mode errs on
    harmless extra bloom keys, never a false negative.  Disable
    check_moves only where the invariant holds by construction
    (upsert_bucketed does: its partition value is a function of the
    key).  Returns the list of partition values rewritten.

    `commit` picks the durability protocol: "rename" (the swap above
    — requires an atomic-rename filesystem), "pointer" (the
    object-store-safe manifest flip: new files append, nothing
    renames, readers use read_manifested), or "auto" (pointer when
    the table already carries `_commit.json` or the fs lacks atomic
    rename; rename otherwise).  An explicit commit="rename" on a
    pointer-commit table is refused — the rename protocol would read
    the raw directory's superseded and orphan files.

    Concurrency: pointer commits are optimistic and serialize on the
    per-generation claim.  A writer that loses the claim REBASES when
    the intervening commits touched only disjoint partition dirs —
    its merged slice re-claims the next generation without
    recomputing (see the module CONCURRENCY CONTRACT for the
    WriteSerializable-level isolation caveat on the move guard);
    overlapping dirs, or `rebase=False`, raise ConcurrentCommitError
    (its appended files are vacuumable orphans; re-run against the
    new head).  The RENAME protocol remains single-writer by
    contract: two concurrent swaps would interleave renames unsafely
    — serialize rename-protocol mutators externally."""
    fs = _resolve_fs(path, fs)
    man = read_commit(path, fs=fs)
    commit = _resolve_commit(path, fs, commit, "upsert_partitioned",
                             man=man, partition_col=partition_col)
    pcols = _norm_pcols(partition_col)
    parts = _partition_values(updates, pcols)
    if not parts:
        return []
    touched = _value_dirs(pcols, parts)
    if commit == "pointer":
        if man is None:
            if fs.isdir(path):
                man = manifest_bootstrap(path, partition_col, fs=fs)
            else:
                # bootstrap write: same in-batch duplicate-key
                # resolution as the merge path (order_col max_by)
                out = upsert(updates.where(F.lit(False)), updates,
                             keys, order_col=order_col)
                (out.hint("rebalance", *pcols)  # guide §6
                 .write.mode("overwrite")
                 .partitionBy(*pcols).parquet(path))
                manifest_bootstrap(path, partition_col, fs=fs)
                if key_bloom_path is not None:
                    bloom_append_snapshot(spark, key_bloom_path,
                                          out, keys)
                # parts from the DEDUPED frame: order_col resolution
                # can eliminate a value's only rows
                return _partition_values(out, pcols)
        committed = _committed_dirs(man)
        if committed:
            # the target reads ONLY the touched partitions' committed
            # files (manifest pruning): the driver-side file list is
            # bounded by the batch's partitions, not the table.  The
            # full-table frame builds lazily — only a bloom bootstrap
            # ever materializes its file list.
            target = read_manifested(spark, path, fs=fs,
                                     partition_values=parts)
            def full_fn():
                return read_manifested(spark, path, fs=fs)
        else:
            # table deleted empty (possibly vacuumed to nothing):
            # insert-only merge, no files to read or guard against
            target = updates.where(F.lit(False))
            def full_fn():
                return target
        def files_in(dirs):
            return manifest_files(man, path, fs=fs, dirs=dirs)
    else:
        recover_table(path, fs=fs)
        committed = _list_part_dirs(fs, path, pcols)
        target = spark.read.parquet(path).where(
            F.col(partition_col).isin(parts))
        def full_fn():
            return spark.read.parquet(path)
        def files_in(dirs):
            return [os.path.join(path, d, f)
                    for d in dirs for f in _part_files(fs, path, d)]
    outside = sorted(set(committed) - set(touched))
    if (check_moves and keys and outside
            and not all(c in keys for c in pcols)):
        def outside_fn():
            # built only when candidates survive the bloom probe and
            # the anti join against the touched slice
            files = files_in(outside)
            if not files:
                return target.where(F.lit(False))
            return spark.read.option("basePath", path).parquet(*files)
        _check_partition_moves(spark, outside_fn, target, updates, keys,
                               "/".join(pcols), key_bloom_path)
    merged = upsert(target, updates, keys, order_col=order_col)
    # the merged plan lazily re-reads the files the commit supersedes:
    # the rename protocol writes the slice aside before any swap, and
    # pointer commits never delete or rename, so those files stay
    # readable until vacuum — no checkpoint needed
    with _bloom_update(spark, key_bloom_path, updates, keys,
                       full_fn) as bloom_committed:
        if commit == "rename":
            written = _swap_in_slice(spark, path, merged, partition_col,
                                     fs, before_swap=bloom_committed)
            # a touched dir the merge emptied (order_col moved its
            # only key to another touched dir) was never rewritten:
            # drop it, or its superseded row stays live
            _drop_part_dirs(fs, path, sorted(
                (set(touched) - set(written)) & set(committed)))
            _refresh_zonemap_if_present(spark, path, fs)
            return parts
        # without order_col the merge drops no update row, so the
        # merged frame's partition set is exactly `parts` — no second
        # computation of the merge (guide §2.4).  With order_col,
        # cross-partition duplicate keys can eliminate a value's only
        # rows — derive the true set, and commit the touched dirs it
        # lacks as emptied (their old files hold superseded rows)
        dirs = (touched if order_col is None else
                _value_dirs(pcols, _partition_values(merged, pcols)))
        emptied = sorted((set(touched) - set(dirs)) & set(committed))
        out = _merge_write_layout(spark, path, merged, pcols, fs)
        _append_and_flip(spark, path, out, partition_col, man, fs, dirs,
                         emptied=emptied, rebase=rebase,
                         before_claim=bloom_committed)
    return parts


# ---------------------------------------------------------------------------
# Key-bucketed tables: pseudo-partitions for tables with no natural
# partition column, so the streaming CDC-apply sink never rewrites the
# full snapshot per micro-batch.
# ---------------------------------------------------------------------------


def bucket_expr(keys: list[str], n_buckets: int,
                seed: str = "bkt") -> Column:
    """Deterministic md5 bucket of the key tuple (reproducible in SQL
    as ('0x' || substr(md5('bkt:' || key), 1, 15))::BIGINT % n)."""
    from .sketches import _md5_long
    return F.pmod(
        _md5_long(F.lit(seed), *[F.col(k).cast("string") for k in keys]),
        F.lit(int(n_buckets))).cast("int")


def write_bucketed(df: DataFrame, path: str, keys: list[str],
                   n_buckets: int, seed: str = "bkt") -> None:
    """Bootstrap a key-bucketed table: rows land in hive directories
    ``__bucket=0..n-1`` keyed on md5 of the upsert keys, and the spec
    (keys, n_buckets, seed) persists as an underscore-prefixed JSON
    file in the table root (invisible to Spark's parquet reader).
    Because the bucket is a pure function of the key, same-key rows
    ALWAYS hash to the same directory — partition moves are impossible
    by construction, and upsert_bucketed prunes every merge to the
    directories the batch's keys hash into.  Size n_buckets so a
    bucket ≈ the table's natural rewrite unit (e.g. 1024 buckets keeps
    per-batch rewrites at ~0.1% of a uniform table)."""
    (df.withColumn("__bucket", bucket_expr(keys, n_buckets, seed))
     .hint("rebalance", "__bucket")   # guide §6: dir-sized files
     .write.mode("overwrite").partitionBy("__bucket").parquet(path))
    fs = _resolve_fs(path, None)
    fs.write_text_atomic(
        os.path.join(path, _BUCKET_SPEC),
        json.dumps({"keys": list(keys), "n_buckets": int(n_buckets),
                    "seed": seed}))


def is_bucketed(path: str, fs=None) -> bool:
    return _resolve_fs(path, fs).exists(
        os.path.join(path, _BUCKET_SPEC))


def read_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Read a bucketed table without the internal __bucket column."""
    return spark.read.parquet(path).drop("__bucket")


def upsert_bucketed(spark: SparkSession, path: str, updates: DataFrame,
                    keys: list[str],
                    order_col: str | None = None,
                    fs=None, commit: str = "auto") -> list[int]:
    """Merge `updates` into the key-bucketed table at `path`
    (write_bucketed layout), reading and rewriting ONLY the bucket
    directories the batch's keys hash into — the unpartitioned-table
    answer to upsert_partitioned's pruning.  check_moves is skipped
    soundly: the bucket is a function of the key, so a key can never
    change directory.  Returns the bucket ids rewritten."""
    fs = _resolve_fs(path, fs)
    spec = json.loads(fs.read_text(os.path.join(path, _BUCKET_SPEC)))
    if list(spec["keys"]) != list(keys):
        raise ValueError(
            f"upsert_bucketed: table at {path} is bucketed on "
            f"{spec['keys']}, not {keys}")
    upd = updates.withColumn(
        "__bucket", bucket_expr(keys, spec["n_buckets"], spec["seed"]))
    return upsert_partitioned(spark, path, upd, keys, "__bucket",
                              order_col=order_col, check_moves=False,
                              fs=fs, commit=commit)


# ---------------------------------------------------------------------------
# Per-table key blooms (the move guard's prefilter).
# ---------------------------------------------------------------------------


# Live bloom segments before bloom_append_snapshot folds them into one
# dense version (the LSM compaction threshold).
BLOOM_SEG_MAX = 8


def _bloom_write_dense(kdf: DataFrame, bloom_path: str, fpp: float,
                       expected: int | None) -> None:
    """Commit a dense bloom index over `kdf.__k` as the bloom's next
    snapshot version and retire every older one (stale-hash indexes,
    earlier segments): the new version alone is the index."""
    from .sketches import bloom_index
    snapshot_write(bloom_index(kdf, "__k", fpp=fpp, expected=expected),
                   bloom_path)
    snapshot_vacuum(bloom_path, keep=1)


def build_key_bloom(spark: SparkSession, table_path: str, keys: list[str],
                    bloom_path: str, fpp: float = 0.01,
                    expected: int | None = None) -> None:
    """Build (or rebuild) the sharded bloom index over the table's key
    tuples at `bloom_path` — one column-pruned scan, committed as one
    dense snapshot version.  Pass `expected` with growth headroom so
    incremental bloom_append_snapshot segments keep the design fpp as
    the table grows; rebuild when the key count approaches
    `expected`."""
    _bloom_write_dense(spark.read.parquet(table_path)
                       .select(_key_str(keys).alias("__k")),
                       bloom_path, fpp, expected)


def read_key_bloom(spark: SparkSession, bloom_path: str):
    """The current key-bloom index frame, None when `bloom_path` holds
    no snapshot-committed index (never built, or a directory without a
    snapshot manifest) — the guard then falls back to the exact key
    scan of the outside dirs, and the next guarded upsert bootstraps the
    index from table ∪ batch.

    The live versions are an LSM-style SEGMENT LIST
    (bloom_append_snapshot): the oldest is a dense index (bitmaps),
    later versions are per-batch SPARSE delta segments (set-bit
    position arrays).  The probe needs one dense bitmap row per shard,
    so multi-segment reads fold through bloom_fold_segments — OR is
    idempotent and monotone, so any mix of segments folds to exactly
    the index of the union of their key sets."""
    hist = snapshot_history(bloom_path)
    if not hist:
        return None
    seg = _read_versions(spark, bloom_path, hist)
    # hash-stamp gate (ADVICE r10): an index persisted under a
    # previous hash family (pre-stamp md5 era) probes FALSE for
    # present keys under the current hashes — refuse it and let the
    # guard fall back to the exact key scan.  The schema
    # check is free; a mixed old/new segment list cannot arise
    # because the append path rebuilds rather than appends onto a
    # stale index.
    if "hash" not in seg.columns:
        return None
    if len(hist) == 1:
        return seg
    from .sketches import bloom_fold_segments
    # checkpoint the fold: every probe consumes the index twice
    # (params row + the broadcast build), and left lazy the segment
    # fold would re-run per consumer
    return bloom_fold_segments(seg).localCheckpoint(eager=False)


def bloom_append_snapshot(spark: SparkSession, bloom_path: str,
                          delta: DataFrame, keys: list[str],
                          table_fn=None,
                          fpp: float = 0.01,
                          expected: int | None = None) -> None:
    """OR the batch's keys into the table's key bloom at `bloom_path`.
    The index commits through the snapshot CAS protocol (new immutable
    `_v*` dir + exclusive `_manifest.{n}.json` claim — never a
    rename) under either table protocol, so guarded upserts work on
    object stores too.

    Ordering contract (the caller's — upsert_partitioned runs this
    through _start_bloom_update): the bloom is updated BEFORE the
    table's commit point.  Every failure mode then errs on EXTRA
    bloom keys — a crash between bloom write and table commit, or a
    claim lost to a concurrent writer, leaves keys in the bloom that
    never reached the table, which only costs spurious maybe-hits (an
    exact scan); the reverse order could leave table keys missing
    from the bloom, and a bloom false negative silently skips the
    move guard.  The first call (no snapshot manifest at
    `bloom_path`) bootstraps a dense index from the `table_fn()`
    frame's keys plus the batch — a thunk, so the steady state never
    even builds the full-table frame.

    Later calls append the batch as an LSM-STYLE SPARSE SEGMENT: only
    the batch's set-bit positions commit as the next snapshot version
    — an O(batch·k) write, where a dense append re-reads and
    re-writes the whole index every commit (O(table bits): ~2.4 s per
    guarded upsert at 1.5M keys, and gigabytes per commit at the
    100 TB key counts).  Readers (read_key_bloom) fold the live
    segments per shard; once the segment list exceeds BLOOM_SEG_MAX
    the segments fold into one dense version and older versions
    retire — classic LSM compaction, amortizing the O(table) rewrite
    over BLOOM_SEG_MAX batches.  Every step keeps the ordering
    contract: a crash after the segment write leaves extra bloom keys
    (harmless maybe-hits), never a missing one."""
    from .sketches import BF_HASH, bloom_delta_segment, bloom_fold_segments
    cur = (snapshot_read(spark, bloom_path)
           if _read_manifest(bloom_path) is not None else None)
    stale = cur is not None and (
        "hash" not in cur.columns
        or cur.select("hash").first()["hash"] != BF_HASH)
    if cur is None or stale:
        # bootstrap, or re-bootstrap a stale hash family (pre-stamp
        # md5 era): a sparse xxhash64 segment appended onto it would
        # mix hash spaces and the fold would probe FALSE for keys only
        # in the old bitmaps.  Rebuild from table ∪ batch keys under
        # the current hash; the stale versions retire.
        if stale and table_fn is None:
            raise ValueError(
                f"bloom index at {bloom_path} predates hash stamp "
                f"{BF_HASH!r} and no table_fn was given to rebuild "
                f"from; rebuild it explicitly")
        kdf = delta.select(_key_str(keys).alias("__k"))
        if table_fn is not None:
            kdf = table_fn().select(_key_str(keys).alias("__k")) \
                .unionByName(kdf)
        _bloom_write_dense(kdf, bloom_path, fpp, expected)
        return
    row = cur.select("m_bits", "k", "shards").first()
    seg = bloom_delta_segment(
        delta.select(_key_str(keys).alias("__k")), "__k",
        params=(int(row["m_bits"]), int(row["k"]), int(row["shards"])))
    snapshot_write(seg, bloom_path)
    hist = snapshot_history(bloom_path)
    if len(hist) > BLOOM_SEG_MAX:
        # the compaction read resolves the live files BEFORE the new
        # version commits, so the fold sees a stable segment set
        snapshot_write(bloom_fold_segments(
            _read_versions(spark, bloom_path, hist)), bloom_path)
        snapshot_vacuum(bloom_path, keep=1)


# ---------------------------------------------------------------------------
# Versioned snapshots: the manifest-pointer commit protocol (the
# lakehouse pattern in miniature — what Delta/Iceberg do with logs and
# manifests, expressed over plain parquet directories).  Each write is
# a NEW immutable directory; readers resolve a tiny JSON pointer whose
# pointer flip is atomic, so a writer crash at any point leaves the
# previous version live and fully readable — and old versions stay
# queryable (time travel) until vacuumed.
# ---------------------------------------------------------------------------

_MANIFEST = "_manifest.json"


def _manifest_path(path: str) -> str:
    return os.path.join(path, _MANIFEST)


_SNAP_CLAIM_RE = re.compile(r"^_manifest\.(\d{8})\.json$")


def _snap_claim(path: str, n: int) -> str:
    return os.path.join(path, f"_manifest.{int(n):08d}.json")


def _snap_dir(path: str, entry: dict) -> str:
    """A version's data directory: the entry's recorded dir (CAS-era
    writes use `_v{n}-{uid}` so concurrent writers can never collide
    on a directory) or the legacy `_v{n}` default."""
    return os.path.join(
        path, entry.get("dir") or f"_v{int(entry['version']):08d}")


def _read_manifest(path: str, fs=None) -> dict | None:
    """Resolve the snapshot table's manifest: the `_manifest.json`
    cache plus any newer `_manifest.{n}.json` claims probed FORWARD
    (the claims are the commit points; the cache is an optimization
    refreshed after each claim).  A missing cache recovers the full
    version list from one root listing of claim files."""
    fs = _resolve_fs(path, fs)
    mp = _manifest_path(path)
    if fs.exists(mp):
        man = json.loads(fs.read_text(mp))
        n = int(man["current"])
        while fs.exists(_snap_claim(path, n + 1)):
            n += 1
            man["versions"].append(
                json.loads(fs.read_text(_snap_claim(path, n))))
            man["current"] = n
        return man
    if not fs.isdir(path):
        return None
    gens = sorted(int(m.group(1)) for m in
                  (_SNAP_CLAIM_RE.match(e) for e in fs.listdir(path))
                  if m)
    if not gens:
        return None
    return {"current": gens[-1],
            "versions": [json.loads(fs.read_text(_snap_claim(path, g)))
                         for g in gens]}


def snapshot_write(df: DataFrame, path: str, fs=None) -> int:
    """Commit `df` as the next version of the snapshot table at
    `path`: the data lands in a fresh immutable, UNIQUELY-NAMED
    `_v{n}-{uid}` directory (underscore-prefixed, invisible to a naive
    parquet scan of the root), then the version commits by EXCLUSIVE
    creation of the `_manifest.{n}.json` claim — the same CAS as the
    pointer-commit protocol, so two concurrent writers from the same
    head serialize on the claim: exactly one wins version n, the loser
    raises ConcurrentCommitError and its directory is deleted (its
    data never became visible).  A crash at any point leaves the
    previous version live; a crashed writer's directory is an orphan
    snapshot_vacuum clears.  `_manifest.json` survives as a
    probe-forward pointer cache.  Returns the committed version."""
    import datetime

    fs = _resolve_fs(path, fs)
    fs.mkdirs(path)
    man = _read_manifest(path, fs=fs) or {"current": -1, "versions": []}
    n = int(man["current"]) + 1
    vdir_name = f"_v{n:08d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(os.path.join(path, vdir_name))
    entry = {"version": n, "dir": vdir_name,
             "committed_at": datetime.datetime.now(
                 datetime.timezone.utc).isoformat()}
    try:
        # the commit point: exclusive claim of version n
        fs.write_text_exclusive(_snap_claim(path, n), json.dumps(entry))
    except FileExistsError:
        fs.delete(os.path.join(path, vdir_name))   # our own orphan
        raise ConcurrentCommitError(
            f"snapshot_write: version {n} at {path} was claimed by a "
            "concurrent writer — this write's directory was removed "
            "and nothing became visible; re-run against the new head"
        ) from None
    man["versions"].append(entry)
    man["current"] = n
    # best-effort pointer cache (readers probe claims forward from it)
    fs.write_text_atomic(_manifest_path(path), json.dumps(man))
    return n


def _snap_entry(path: str, version: int | None, fs=None) -> dict:
    man = _read_manifest(path, fs=fs)
    if man is None:
        raise ValueError(f"snapshot_read: no manifest at {path} — "
                         "not a snapshot table (snapshot_write first)")
    v = int(man["current"]) if version is None else int(version)
    for entry in man["versions"]:
        if int(entry["version"]) == v:
            return entry
    raise ValueError(
        f"snapshot_read: version {v} not available at {path} "
        f"(live versions: "
        f"{sorted(int(e['version']) for e in man['versions'])})")


def snapshot_version_dir(path: str, version: int | None = None,
                         fs=None) -> str:
    """The data directory of a committed version (current by default)
    — for callers composing directly over the version's files (e.g.
    building a zone map over one version).  Raises on vacuumed or
    never-committed versions, same contract as snapshot_read."""
    return _snap_dir(path, _snap_entry(path, version, fs=fs))


def snapshot_read(spark: SparkSession, path: str,
                  version: int | None = None) -> DataFrame:
    """Read the current (or a time-travel `version`) snapshot.  Raises
    on a vacuumed or never-committed version — an orphan directory
    from a crashed write is NOT readable, by design."""
    return _read_versions(spark, path, [_snap_entry(path, version)])


def _read_versions(spark: SparkSession, path: str,
                   entries: list[dict]) -> DataFrame:
    """Read committed snapshot versions by FILE LIST (listed through
    fsops): Spark logs `WARN DataSource: All paths were ignored` for a
    read of an underscore-prefixed `_v…` dir itself.  Several versions
    (the key bloom's dense and sparse segments) merge schemas."""
    fs = _resolve_fs(path, None)
    files = [os.path.join(d, f)
             for d in (_snap_dir(path, e) for e in entries)
             for f in fs.listdir(d)
             if f.endswith(".parquet") and not f.startswith((".", "_"))]
    reader = spark.read
    if len(entries) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)


def snapshot_history(path: str) -> list[dict]:
    """The commit log: [{version, dir, committed_at}, …] oldest-first."""
    man = _read_manifest(path)
    return list(man["versions"]) if man else []


def snapshot_vacuum(path: str, keep: int = 2, fs=None,
                    min_age_s: float = 0.0) -> list[int]:
    """Drop all but the newest `keep` versions (never the current):
    the pointer cache flips first (so a crash mid-delete only strands
    directories, never dangles pointers), then the dropped versions'
    claim files and directories go — along with ORPHAN version dirs
    of crashed or lost-race writers (recognizable by version number
    ≤ current and absence from the version list).

    `min_age_s` guards the orphan sweep against a LIVE writer: an
    in-flight writer targeting version n is only protected by its
    number while n stays above `current`, and a concurrent commit of
    n by someone else would expose its directory mid-write — so, as
    in vacuum_manifested, orphan-looking dirs younger than the window
    are kept.  Deployments with concurrent writers should pass a
    window above the longest write; the default 0 keeps
    single-writer vacuums eager.  Returns the removed version
    numbers."""
    import time

    fs = _resolve_fs(path, fs)
    man = _read_manifest(path, fs=fs)
    if man is None:
        return []
    cutoff = time.time() - float(min_age_s)
    keep = max(1, int(keep))
    vs = sorted(int(v["version"]) for v in man["versions"])
    drop = set(vs[:-keep]) - {int(man["current"])}
    dropped = [e for e in man["versions"] if int(e["version"]) in drop]
    man["versions"] = [e for e in man["versions"]
                       if int(e["version"]) not in drop]
    # cache refresh BEFORE deleting claims: probe-forward readers must
    # never start from a generation whose successors were vacuumed
    fs.write_text_atomic(_manifest_path(path), json.dumps(man))
    for e in dropped:
        fs.delete(_snap_claim(path, int(e["version"])))
        fs.delete(_snap_dir(path, e))
    live_dirs = {os.path.basename(_snap_dir(path, e))
                 for e in man["versions"]}
    for d in fs.listdir(path):
        dp = os.path.join(path, d)
        if (d.startswith("_v") and d not in live_dirs
                and d[2:10].isdigit()
                and int(d[2:10]) <= int(man["current"])
                and fs.isdir(dp)
                and (min_age_s <= 0 or fs.getmtime(dp) <= cutoff)):
            fs.delete(dp)
    return sorted(drop)


def table_diff(before: DataFrame, after: DataFrame, keys: list[str],
               compare_cols: list[str] | None = None) -> DataFrame:
    """Snapshot diff — the validation companion to upsert: one row
    (n_added, n_removed, n_changed, n_unchanged) from a single
    full-outer join on `keys`.  `compare_cols` defaults to every
    shared non-key column; rows compare null-safely (eqNullSafe), so
    NULL→value and value→NULL both count as changed.  At scale this is
    the one-pass audit you run after an incremental merge ("the batch
    claimed 10k updates — did exactly 10k rows change?")."""
    if compare_cols is None:
        compare_cols = [c for c in after.columns
                        if c in set(before.columns) and c not in keys]
    a = before.select(*keys, *compare_cols, F.lit(1).alias("__in_a"))
    b = (after.select(*keys, *[F.col(c).alias(f"__b_{c}")
                               for c in compare_cols])
         .withColumn("__in_b", F.lit(1)))
    j = a.join(b, keys, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    status = (F.when(F.col("__in_a").isNull(), F.lit("added"))
              .when(F.col("__in_b").isNull(), F.lit("removed"))
              .when(same, F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return (j.select(status.alias("__s"))
            .groupBy()
            .agg(*[F.count_if(F.col("__s") == s).alias(f"n_{s}")
                   for s in ("added", "removed", "changed", "unchanged")]))


def compact_parquet(spark: SparkSession, path: str,
                    target_mb: int = 128,
                    partition_col: str | None = None) -> tuple[int, int]:
    """Small-file compaction: rewrite the parquet table at `path` into
    ceil(total_bytes / target_mb) files — per partition DIRECTORY when
    `partition_col` is given (each directory gets its own
    ceil(dir_bytes / target_mb) target, enforced by salting the
    repartition inside the partition value, so a wide hive table can
    never fan out to n_target × n_partitions files).  Streaming sinks
    and incremental upserts accrete small files; at 100 TB the file
    count — not the byte count — starts dominating planning time and
    open() overhead, so periodic compaction is table maintenance, not
    optimization.

    The rewrite goes through atomic_overwrite: the compacted table is
    fully written to `<path>__new` while the original is still intact
    (no checkpoint, no reliance on executor-local state), then renames
    swap it in — a crash at any point leaves a recoverable table
    (recover_table).  Data is byte-identical (test-asserted).  Returns
    (files_before, files_after)."""
    fs = _resolve_fs(path, None)
    if read_commit(path, fs=fs) is not None:
        raise ValueError(
            f"compact_parquet: table at {path} is pointer-committed — "
            "a raw-directory rewrite would adopt superseded/orphan "
            "files; use compact_manifested")
    recover_table(path, fs=fs)
    spec = None
    spec_path = os.path.join(path, _BUCKET_SPEC)
    if fs.exists(spec_path):          # bucketed table: keep the sidecar
        spec = fs.read_text(spec_path)
    # the whole-table swap replaces the `_zonemap` dir living inside
    # the table root too: capture the indexed columns now and rebuild
    # the manifest from the compacted files' footers after the swap
    # (footer-only cost, proportional to the rewrite itself)
    from ..sources.zonemap import (ZONEMAP_DIR, _read_manifest_df,
                                   build_zonemap)
    zman = _read_manifest_df(spark, os.path.join(path, ZONEMAP_DIR), fs)
    zcols = None if zman is None else \
        sorted({c[:-4] for c in zman.columns if c.endswith("_min")})
    # sizing walk skips metadata dirs (`_zonemap`, snapshot `_v*`) and
    # underscore files — but NOT hive dirs like `__bucket=0` — so
    # manifest parquet bytes never count into compaction targets
    def _meta_dir(d: str) -> bool:
        return "=" not in d and d.startswith(("_", "."))

    def _data_files() -> list[tuple[str, int]]:
        return [(fp, sz)
                for fp, sz in fs.walk_files(path, skip_dir=_meta_dir)
                if fp.endswith(".parquet")
                and not os.path.basename(fp).startswith(("_", "."))]

    sizes: dict[str, int] = {}
    before = _data_files()
    for fp, sz in before:
        token = ""
        if partition_col is not None:
            rel = os.path.relpath(fp, path)
            token = next((c for c in rel.split(os.sep)
                          if c.startswith(f"{partition_col}=")), "")
        sizes[token] = sizes.get(token, 0) + sz
    if not sizes:
        return (0, 0)
    chunk = target_mb * 1024 * 1024
    df = spark.read.parquet(path)
    if partition_col is None:
        n_target = max(1, math.ceil(sum(sizes.values()) / chunk))
        out = df.repartition(n_target)
        writer = (lambda p: out.write.mode("overwrite").parquet(p))
    else:
        # per-directory file targets: ceil(dir_bytes / chunk)
        out = _salted_dir_layout(
            df, [partition_col],
            {tok: max(1, math.ceil(b / chunk))
             for tok, b in sizes.items() if tok})
        writer = (lambda p: out.write.mode("overwrite")
                  .partitionBy(partition_col).parquet(p))
    atomic_overwrite(path, writer, fs=fs)
    if spec is not None:
        fs.write_text_atomic(spec_path, spec)
    if zcols:
        build_zonemap(spark, path, zcols, fs=fs)
    return (len(before), len(_data_files()))


# ---------------------------------------------------------------------------
# SCD-2: history-keeping upsert.  Where `upsert` (SCD-1) overwrites,
# SCD-2 VERSIONS — every attribute change closes the key's current row
# (valid_to = the change's effective time) and opens a new one, so any
# historic state reconstructs with scd2_asof.  The training-pipeline
# use: document metadata that must be reproducible as-of a training
# run's snapshot date (license flags, quality labels, source weights).
# No reference analogue (dask-expr has no mutation surface).
# ---------------------------------------------------------------------------


def scd2_init(df: DataFrame, effective_col: str,
              start_col: str = "valid_from", end_col: str = "valid_to",
              current_col: str = "is_current") -> DataFrame:
    """Bootstrap an SCD-2 history table from a plain snapshot:
    `effective_col` (an orderable ingest/effective timestamp) becomes
    `start_col`, every row opens current.  One narrow projection, no
    shuffle."""
    ecol = df.schema[effective_col].dataType
    return (df.withColumn(start_col, F.col(effective_col).cast(ecol))
            .drop(effective_col)
            .withColumn(end_col, F.lit(None).cast(ecol))
            .withColumn(current_col, F.lit(True)))


def scd2_current(history: DataFrame,
                 current_col: str = "is_current") -> DataFrame:
    """The live snapshot: current rows only."""
    return history.where(F.col(current_col))


def scd2_asof(history: DataFrame, ts,
              start_col: str = "valid_from", end_col: str = "valid_to",
              current_col: str = "is_current") -> DataFrame:
    """Time travel over the history: the state as of `ts` — rows whose
    validity interval covers it (valid_from <= ts < valid_to, open
    intervals count).  A pure filter: pushes to the scan, so a
    partition/cluster layout on start_col prunes at 100 TB."""
    t = F.lit(ts)
    return history.where(
        (F.col(start_col) <= t)
        & (F.col(end_col).isNull() | (t < F.col(end_col)))) \
        .drop(end_col, current_col)


def upsert_scd2(target: DataFrame, updates: DataFrame, keys: list[str],
                effective_col: str,
                compare_cols: list[str] | None = None,
                start_col: str = "valid_from", end_col: str = "valid_to",
                current_col: str = "is_current",
                retroactive: str = "error") -> DataFrame:
    """Merge an updates batch into the SCD-2 history `target`
    (scd2_init layout).  Change detection: an update whose
    `compare_cols` equal the key's latest surviving values is a no-op
    (runs of identical values collapse to their first); a changed
    update closes the current row at the update's effective time and
    opens a new current row.  Novel keys insert.  Closed history rows
    are NEVER touched.

    Preconditions (the classic SCD-2 contract): updates must not be
    retroactive — each update's effective time must be strictly newer
    than the key's current `start_col` (raises with a count if not;
    amend history by rebuilding it instead), and (key, effective) pairs
    in one batch dedupe deterministically (greatest compare-struct
    wins).  `retroactive="skip"` DROPS such rows instead of raising
    (and saves the guard's count action): the mode the streaming sink
    uses, where a replayed micro-batch re-delivers already-applied
    updates whose effective time equals the key's current start — for
    deterministic inputs the dropped rows are exactly the
    already-applied ones, making replay idempotent.

    Plan shape at 100 TB: the only full-width scan of the history is
    the is_current ∧ batch-key semi-join (a partition layout on
    `current_col` makes it a pruned read); the re-versioning window
    runs over batch keys ONLY (cost bounded by the batch + one current
    row per touched key), and untouched rows pass through an anti-join
    on the (small) touched-key set, which AQE broadcasts."""
    attrs = [c for c in target.columns
             if c not in keys and c not in (start_col, end_col,
                                            current_col)]
    if compare_cols is None:
        compare_cols = attrs
    # deterministic in-batch dedup of (key, effective) collisions
    upd = (updates.groupBy(*keys, effective_col)
           .agg(F.max(F.struct(*attrs)).alias("__s"))
           .select(*keys, F.col(effective_col).alias(start_col),
                   *[F.col(f"__s.{c}").alias(c) for c in attrs]))
    bkeys = upd.select(*keys).distinct()
    # null-safe current split (same contract as scd2_delete): a NULL
    # in current_col routes the row to the closed-history side instead
    # of silently dropping it from both WHERE branches
    is_cur = F.coalesce(F.col(current_col), F.lit(False))
    cur = (target.where(is_cur)
           .join(bkeys, keys, "left_semi")
           .select(*keys, start_col, *attrs))
    if retroactive == "skip":
        upd = (upd.join(cur.select(*keys, F.col(start_col)
                                   .alias("__cur_from")),
                        keys, "left")
               .where(F.col("__cur_from").isNull()
                      | (F.col(start_col) > F.col("__cur_from")))
               .drop("__cur_from"))
    else:
        late = (upd.join(cur.select(*keys,
                                    F.col(start_col).alias("__cur_from")),
                         keys, "inner")
                .where(F.col(start_col) <= F.col("__cur_from")).count())
        if late:
            raise ValueError(
                f"upsert_scd2: {late} update(s) are retroactive "
                f"(effective <= the key's current {start_col}); SCD-2 "
                "history is append-only — rebuild the history to amend "
                "it")

    from pyspark.sql import Window
    w = Window.partitionBy(*keys).orderBy(start_col)
    seg = cur.unionByName(upd.select(*cur.columns))
    cmp_struct = F.struct(*[F.col(c) for c in compare_cols])
    # collapse runs of identical values: keep a row iff it differs
    # from its predecessor (the key's first row always survives)
    seg = (seg.withColumn("__prev", F.lag(cmp_struct).over(w))
           .where(F.col("__prev").isNull()
                  | ~F.col("__prev").eqNullSafe(cmp_struct))
           .drop("__prev"))
    seg = (seg.withColumn(end_col, F.lead(start_col).over(w))
           .withColumn(current_col, F.col(end_col).isNull())
           .select(*target.columns))
    untouched = (target.join(bkeys, keys, "left_anti")
                 .unionByName(
                     target.where(~is_cur)
                     .join(bkeys, keys, "left_semi")))
    return untouched.unionByName(seg)


def scd2_delete(target: DataFrame, deletes: DataFrame, keys: list[str],
                effective_col: str,
                start_col: str = "valid_from",
                end_col: str = "valid_to",
                current_col: str = "is_current",
                retroactive: str = "error") -> DataFrame:
    """SCD-2 soft delete: close each deleted key's CURRENT row at the
    delete's effective time WITHOUT opening a successor — the key
    stops existing going forward, but every historical version stays
    reconstructable (scd2_asof before the delete time still sees it).
    The corpus use: a document is withdrawn (takedown, license
    revocation) — training runs pinned to earlier snapshot dates keep
    their exact inputs while new runs exclude it.

    `deletes` carries keys + `effective_col`; duplicate keys in one
    batch keep their LATEST effective time.  Keys with no current row
    (never existed, or already deleted) are ignored — DELETE
    semantics.  The SCD-2 retroactive contract applies: a delete's
    effective time must be strictly newer than the key's current
    `start_col` (raise with a count, or `retroactive="skip"` drops
    such rows — the replay-idempotent mode).

    Plan: one semi/anti split of current rows on the batch-key set
    (AQE broadcasts the batch side) — closed history is never touched,
    no window is needed (a delete closes exactly one row)."""
    d = (deletes.groupBy(*keys)
         .agg(F.max(effective_col).alias("__del_at")))
    # the current/closed split must PARTITION the history: a NULL in
    # current_col (malformed history) would fall into neither WHERE
    # branch and silently vanish from the returned frame — null-safe
    # booleans route such rows to the closed side, preserved verbatim
    is_cur = F.coalesce(F.col(current_col), F.lit(False))
    cur = target.where(is_cur)
    hit = cur.join(d, keys, "inner")
    if retroactive == "skip":
        hit = hit.where(F.col("__del_at") > F.col(start_col))
    else:
        late = hit.where(F.col("__del_at") <= F.col(start_col)).count()
        if late:
            raise ValueError(
                f"scd2_delete: {late} delete(s) are retroactive "
                f"(effective <= the key's current {start_col}); SCD-2 "
                "history is append-only — rebuild the history to "
                "amend it")
        hit = hit.where(F.col("__del_at") > F.col(start_col))
    closed_now = (hit.withColumn(end_col, F.col("__del_at"))
                  .withColumn(current_col, F.lit(False))
                  .drop("__del_at")
                  .select(*target.columns))
    survivors = (cur.join(closed_now.select(*keys), keys, "left_anti")
                 .unionByName(target.where(~is_cur)))
    return survivors.unionByName(closed_now)


# ---------------------------------------------------------------------------
# Row-level CDC: the record companion to table_diff's counts.
# ---------------------------------------------------------------------------


def cdc_rows(before: DataFrame, after: DataFrame, keys: list[str],
             compare_cols: list[str] | None = None) -> DataFrame:
    """Change-data-capture records between two table states: one row
    per inserted / deleted / updated key, with `<c>_before` /
    `<c>_after` for every compared column (nulls on the absent side).
    Unchanged keys are filtered out — the output is change-sized, not
    table-sized.  One full-outer join on `keys`, same plan class as
    table_diff; rows compare null-safely."""
    if compare_cols is None:
        compare_cols = [c for c in after.columns
                        if c in set(before.columns) and c not in keys]
    a = before.select(
        *keys, *[F.col(c).alias(f"{c}_before") for c in compare_cols],
        F.lit(1).alias("__in_a"))
    b = after.select(
        *keys, *[F.col(c).alias(f"{c}_after") for c in compare_cols],
        F.lit(1).alias("__in_b"))
    j = a.join(b, keys, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"{c}_before").eqNullSafe(F.col(f"{c}_after"))
    change = (F.when(F.col("__in_a").isNull(), F.lit("insert"))
              .when(F.col("__in_b").isNull(), F.lit("delete"))
              .when(same, F.lit(None))
              .otherwise(F.lit("update")))
    cols = [x for c in compare_cols
            for x in (f"{c}_before", f"{c}_after")]
    return (j.withColumn("change_type", change)
            .where(F.col("change_type").isNotNull())
            .select("change_type", *keys, *cols))


def snapshot_cdc(spark: SparkSession, path: str, from_version: int,
                 to_version: int, keys: list[str],
                 compare_cols: list[str] | None = None) -> DataFrame:
    """CDC records between two committed snapshot versions (the
    time-travel tables of snapshot_write) — "what changed between the
    corpus my last run trained on and today's?" answered as rows, not
    counts, without any log having been kept: the versions ARE the
    log."""
    return cdc_rows(snapshot_read(spark, path, from_version),
                    snapshot_read(spark, path, to_version), keys,
                    compare_cols=compare_cols)


def manifested_cdc(spark: SparkSession, path: str, from_gen: int,
                   to_gen: int, keys: list[str],
                   compare_cols: list[str] | None = None,
                   fs=None) -> DataFrame:
    """CDC records between two generations of a POINTER-COMMIT table —
    the claim chain is already a version log, so change feeds between
    commits come free: diff the two generations' manifest-exact reads
    (cdc_rows).  Both generations' claims must survive — retention is
    vacuum_manifested(keep_claims=N).

    The diff is automatically CHANGE-BOUNDED when it can be: both
    reads prune to the partition dirs whose manifest entries DIFFER
    between the two generations (identical entries mean identical
    committed files — byte-identical partitions cannot contribute CDC
    rows), so at the 100 TB target a one-partition commit diffs one
    partition, not the table.  The join inside each changed partition
    remains a full outer join of that partition's two states."""
    fs = _resolve_fs(path, fs)
    man_a, man_b = (_manifest_at(path, fs, g, "manifested_cdc")
                    for g in (from_gen, to_gen))
    pa, pb = man_a["partitions"], man_b["partitions"]
    changed = sorted(d for d in set(pa) | set(pb)
                     if pa.get(d) != pb.get(d))

    def _read(man, dirs):
        files = manifest_files(man, path, fs=fs, dirs=dirs)
        if not files:
            # a side with no files in the changed dirs (e.g. the dirs
            # were created after `from_gen`): zero rows, schema from
            # the generation's full read
            return read_manifested(spark, path, fs=fs,
                                   generation=man["generation"]) \
                .where(F.lit(False))
        return spark.read.option("basePath", path).parquet(*files)

    if not changed:
        empty = read_manifested(spark, path, fs=fs,
                                generation=int(to_gen)) \
            .where(F.lit(False))
        return cdc_rows(empty, empty, keys, compare_cols=compare_cols)
    return cdc_rows(_read(man_a, changed), _read(man_b, changed), keys,
                    compare_cols=compare_cols)


def overwrite_partitions(spark: SparkSession, path: str, df: DataFrame,
                         partition_col: str | list[str],
                         fs=None, commit: str = "auto",
                         rebase: bool = True) -> list[str]:
    """Crash-safely REPLACE the partition directories that appear in
    `df` with its content (upsert_partitioned without the merge — for
    callers that already computed the full replacement slice).
    Rename protocol: the slice writes to `<path>__new` while the
    table is intact, then the touched directories swap in via
    rename-aside (_swap_partition_dirs); untouched directories are
    never opened.  Pointer protocol (object stores / commit=
    "pointer"): the slice APPENDS as fresh files and the `_commit.
    json` manifest flips — read back with read_manifested.
    Bootstraps the table if absent.  Returns the hive dir names
    rewritten.  Concurrency: same contract as upsert_partitioned —
    pointer commits CAS on the generation claim, a lost claim rebases
    across disjoint-dir winners (rebase=False or overlapping dirs
    raise ConcurrentCommitError); the rename protocol is
    single-writer."""
    fs = _resolve_fs(path, fs)
    man = read_commit(path, fs=fs)
    commit = _resolve_commit(path, fs, commit, "overwrite_partitions",
                             man=man, partition_col=partition_col)
    pcols = _norm_pcols(partition_col)
    if commit == "rename":
        recover_table(path, fs=fs)
    if not fs.isdir(path):
        # bootstrap: the slice becomes the whole table
        (df.hint("rebalance", *pcols)  # guide §6
         .write.mode("overwrite").partitionBy(*pcols).parquet(path))
        if commit == "rename":
            return _list_part_dirs(fs, path, pcols)
        return sorted(
            manifest_bootstrap(path, partition_col, fs=fs)["partitions"])
    if commit == "rename":
        dirs = _swap_in_slice(spark, path, df, partition_col, fs)
        _refresh_zonemap_if_present(spark, path, fs)
        return dirs
    if man is None:
        man = manifest_bootstrap(path, partition_col, fs=fs)
    dirs = _value_dirs(pcols, _partition_values(df, pcols))
    if not dirs:
        return []
    return _append_and_flip(spark, path,
                            _merge_write_layout(spark, path, df, pcols, fs),
                            partition_col, man, fs, dirs, rebase=rebase)


def delete_where(spark: SparkSession, path: str, predicate: Column,
                 partition_col: str | list[str],
                 fs=None, commit: str = "auto",
                 rebase: bool = True) -> tuple[list, int]:
    """Row-level DELETE over a hive-partitioned parquet table, pruned
    to the partitions that actually contain matching rows — the
    GDPR-erasure / retention-expiry operator.  SQL semantics: rows
    where `predicate` is TRUE are removed; FALSE and NULL rows stay.

    Plan: one column-pruned scan finds the hit partitions (the
    predicate's columns + partition_col only), then ONLY those
    directories rewrite without the matching rows — a 100 TB table
    with a one-partition delete rewrites one partition.  Partitions
    deleted EMPTY are removed whole (no zero-row rewrite): rename
    protocol moves the dir into `<path>__drop` (trash recover_table
    clears — the rename out is the commit), pointer protocol commits
    an empty file list in the SAME flip as the rewrites — the one
    pointer write path, _append_and_flip (a reader never sees a
    partial delete; superseded files clear in vacuum_manifested).
    Rename-protocol crash semantics are per-partition, like the swaps:
    a crash mid-way leaves each hit partition either fully old or
    fully deleted — re-run to finish (the predicate is idempotent).

    If the table keeps a zone map (`_zonemap` dir), the manifest
    refreshes inline after the delete (change-bounded footer scan), so
    pruned reads keep their benefit without a manual update_zonemap.
    Concurrency: same contract as upsert_partitioned — pointer commits
    CAS on the generation claim (lost claims rebase across
    disjoint-dir winners; ConcurrentCommitError on overlap);
    the rename protocol is single-writer.

    Returns ``(hit_partition_values, rows_deleted)``."""
    fs = _resolve_fs(path, fs)
    man = read_commit(path, fs=fs)
    commit = _resolve_commit(path, fs, commit, "delete_where",
                             man=man, partition_col=partition_col)
    pcols = _norm_pcols(partition_col)
    if commit == "pointer" and man is None:
        man = manifest_bootstrap(path, partition_col, fs=fs)
    if commit == "pointer":
        full = read_manifested(spark, path, fs=fs)
    else:
        recover_table(path, fs=fs)
        full = spark.read.parquet(path)
    # positive filters use the RAW predicate (WHERE already excludes
    # NULL evaluations, and the raw form pushes to the parquet scan —
    # a coalesce() wrapper would block pushdown on the one pass that
    # reads the whole table); only the NEGATION needs the null guard,
    # because ~pred must KEEP null-predicate rows
    parts = _partition_values(full.where(predicate), pcols)
    if not parts:
        return ([], 0)
    if len(pcols) > 1:
        import functools
        hit = functools.reduce(
            Column.__or__,
            [functools.reduce(
                Column.__and__,
                [F.col(c).eqNullSafe(F.lit(v))
                 for c, v in zip(pcols, vals)])
             for vals in parts])
        sliced = full.where(hit)
    else:
        sliced = full.where(F.col(partition_col).isin(parts))
    kept = sliced.where(~F.coalesce(predicate, F.lit(False)))
    # partitions that empty out entirely are dropped whole, not
    # rewritten as zero rows (a partitionBy write would simply skip
    # them, silently leaving the OLD rows live — the bug this split
    # guards against)
    # hit/surviving dirs come from the REAL file paths of the scanned
    # rows (input_file_name, URI-decoded once), never from re-rendering
    # partition values — str(value) can diverge from Spark's dir
    # rendering (booleans, scientific-notation doubles) and a silently
    # missed dir here would be a silently incomplete erasure
    n_lv = len(pcols)
    seg = (F.element_at(F.split(F.input_file_name(), "/"), -2)
           if n_lv == 1 else
           F.concat_ws("/", F.slice(F.split(F.input_file_name(), "/"),
                                    -1 - n_lv, n_lv)))

    def _dirs_of(df) -> set:
        return {urllib.parse.unquote(r["__d"]) for r in
                df.select(seg.alias("__d")).distinct().collect()}

    # one pass over the hit slice yields both the deleted-row count
    # and the hit dirs (collect_set is bounded by the dir count);
    # input_file_name is non-deterministic so it projects BEFORE the
    # aggregate
    row = (sliced.where(predicate).select(seg.alias("__d"))
           .agg(F.count(F.lit(1)).alias("__n"),
                F.collect_set("__d").alias("__dirs")).first())
    n_del = int(row["__n"])
    hit_dirs = {urllib.parse.unquote(d) for d in row["__dirs"]}
    nonempty_dirs = sorted(_dirs_of(kept) & hit_dirs)
    empty_dirs = sorted(hit_dirs - set(nonempty_dirs))
    if commit == "pointer":
        # ONE manifest flip commits rewrites AND whole-partition
        # drops together — no reader ever sees a partial delete
        _append_and_flip(spark, path,
                         _merge_write_layout(spark, path, kept, pcols, fs)
                         if nonempty_dirs else kept,
                         pcols, man, fs, nonempty_dirs, emptied=empty_dirs,
                         rebase=rebase)
        return (parts, n_del)
    if nonempty_dirs:
        written = _swap_in_slice(spark, path, kept, partition_col, fs)
        if set(written) != set(nonempty_dirs):
            # partition-value type inference drifted from the on-disk
            # dir rendering (e.g. zero-padded string codes re-read as
            # ints): survivors landed under DIFFERENT dir names while
            # the original dirs still hold the matched rows.  Raise
            # loudly — an operator must reconcile; silence here would
            # be an incomplete erasure
            raise RuntimeError(
                f"delete_where: rewrote dirs {sorted(written)} but "
                f"the scan hit {nonempty_dirs} — partition value "
                "rendering drift; reconcile the extra dirs manually")
    missing = [d for d in empty_dirs
               if not fs.isdir(os.path.join(path, d))]
    if missing:
        raise RuntimeError(
            f"delete_where: partition dirs {missing} vanished "
            "between scan and drop — nothing renamed; re-run")
    _drop_part_dirs(fs, path, empty_dirs)
    _refresh_zonemap_if_present(spark, path, fs)
    return (parts, n_del)


def cdc_apply(target: DataFrame, changes: DataFrame,
              keys: list[str]) -> DataFrame:
    """Replay CDC records (the cdc_rows/snapshot_cdc output shape:
    ``change_type`` + keys + ``<c>_before``/``<c>_after``) onto
    `target` — the consume side of the CDC loop: ship change-sized
    records between systems instead of snapshots, and reconstruct the
    destination with one merge.  Deletes remove their keys,
    inserts/updates land their ``_after`` values.  Roundtrip law
    (test- and oracle-pinned): ``cdc_apply(before, cdc_rows(before,
    after), keys) == after`` whenever the CDC covered every non-key
    column — a partial-column CDC cannot reconstruct rows it never
    carried, so that case raises.

    Plan: one anti join on the (change-sized) touched-key set + a
    shuffle-free union — the same shape as upsert; AQE broadcasts the
    change side when small."""
    covered = sorted({c[:-6] for c in changes.columns
                      if c.endswith("_after")})
    missing = [c for c in target.columns
               if c not in keys and c not in covered]
    if missing:
        raise ValueError(
            f"cdc_apply: the CDC records do not carry {missing} — a "
            "partial-column CDC cannot reconstruct those values; "
            "regenerate with cdc_rows(compare_cols=None)")
    touched = changes.select(*keys)
    ups = (changes.where(F.col("change_type") != "delete")
           .select(*keys, *[F.col(f"{c}_after").alias(c)
                            for c in covered])
           .select(*target.columns))
    kept = target.join(touched, keys, "left_anti")
    return kept.unionByName(ups)
