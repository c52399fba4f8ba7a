"""Filesystem seam for the durability layer.

The maintenance/zonemap machinery keeps tables crash-safe with a
rename-aside contract (functions/maintenance.py): new data is fully
written beside the table, then directories rename into place.  Rename
is atomic on POSIX filesystems and on HDFS — but on object stores
(s3a/gs/abfs, where a 100 TB corpus actually lives) "rename" is
copy+delete and the contract silently weakens.  This module makes the
filesystem an explicit seam instead of hard-coded `os`/`shutil` calls:

- ``TableFS`` — the minimal interface the swap/snapshot/zonemap code
  calls (exists/listdir/rename/delete/walk/read_text/
  write_text_atomic/write_text_exclusive, plus the ``list_stats``
  listing ``sources/io.py`` fingerprints), with an ``atomic_rename``
  capability flag the commit layer consults.
- ``PosixFS`` — the default, backed by os/shutil; atomic_rename=True.
- ``HadoopFS`` — backed by the JVM Hadoop FileSystem reached through
  the active SparkSession (the same client Spark's own reads use, so
  hdfs://, s3a://, gs://, abfs:// all resolve with the cluster's
  credentials); atomic_rename=True only for rename-atomic schemes
  (HDFS and friends).
- ``get_fs(path, spark)`` — scheme-based resolver.

Paths stay plain strings throughout (os.path.join produces '/'
separators, which every Hadoop scheme uses too).

Commit-protocol guidance (enforced by functions/maintenance.py):
``atomic_rename`` == True  → the rename-aside swap protocol is sound.
``atomic_rename`` == False → use the pointer-commit protocol
(maintenance.upsert_partitioned(commit="pointer")): data files are
only ever CREATED, never renamed, and the commit point is the
EXCLUSIVE creation of a per-generation claim file
(write_text_exclusive — the CAS that makes concurrent committers
safe: exactly one writer claims generation N+1, the loser raises).
The no-rename guarantee covers this layer (driver-side fs ops + the
table commit); Spark's own writes commit through its configured
output committer, so pair the pointer protocol with a rename-free
committer (S3A magic / cloud-first) on real object stores.

Reference comparison: dask-expr parametrizes IO over fsspec
(io/parquet.py ReadParquetPyarrowFS) — this is the analogous seam,
shaped around Spark's JVM filesystem clients instead of fsspec.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse

# schemes whose rename is a metadata operation (atomic, constant-time)
_RENAME_ATOMIC_SCHEMES = {"file", "hdfs", "viewfs", "ofs", "o3fs",
                          "alluxio"}


def scheme_of(path: str) -> str:
    parsed = urllib.parse.urlparse(path)
    # windows drive letters / bare paths have no scheme
    return parsed.scheme if len(parsed.scheme) > 1 else "file"


class PosixFS:
    """Local-filesystem implementation (the default).  Rename is the
    atomic primitive; write_text_atomic is temp-write + os.replace."""

    scheme = "file"
    atomic_rename = True

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def isfile(self, path: str) -> bool:
        return os.path.isfile(path)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def delete(self, path: str) -> None:
        """Remove a file or directory tree; absent paths are a no-op."""
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def getmtime(self, path: str) -> float:
        """Last-modified time, seconds since epoch (vacuum retention)."""
        return os.path.getmtime(path)

    def walk_files(self, path: str, skip_dir=None):
        """Yield (file_path, size) under `path` recursively.
        `skip_dir(name)` prunes whole directories without descending
        (snapshot versions, manifests — the caller's policy)."""
        for root, dirs, files in os.walk(path):
            if skip_dir is not None:
                dirs[:] = [d for d in dirs if not skip_dir(d)]
            for f in files:
                fp = os.path.join(root, f)
                yield fp, os.path.getsize(fp)

    def list_stats(self, path: str):
        """Yield (relative path, size, mtime_ns) for every file under
        `path` (for a file, its own name) — a listing fingerprint, not a
        clock: the mtime unit is the filesystem's own."""
        if os.path.isfile(path):
            st = os.stat(path)
            yield os.path.basename(path), st.st_size, st.st_mtime_ns
            return
        for root, _, files in os.walk(path):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                yield os.path.relpath(fp, path), st.st_size, st.st_mtime_ns

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def write_text_exclusive(self, path: str, text: str) -> None:
        """Create `path` with `text` iff it does not exist — atomic
        compare-and-swap on the file's existence, with complete
        content (a reader never sees a partial file).  Raises
        FileExistsError when another writer already claimed the path.
        POSIX mechanism: full write to a unique temp file, then
        ``os.link`` — hard-linking is atomic and fails on an existing
        target, unlike rename (which overwrites).  Filesystems without
        hard links (some NFS/FUSE mounts) fail with an explicit
        capability error instead of a raw ENOTSUP traceback — the CAS
        must refuse loudly rather than degrade to a racy fallback."""
        import errno
        import uuid
        tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
        with open(tmp, "w") as f:
            f.write(text)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise
        except OSError as exc:
            if exc.errno in (errno.EPERM, errno.ENOTSUP,
                             getattr(errno, "EOPNOTSUPP", errno.ENOTSUP),
                             errno.EXDEV, errno.EMLINK):
                raise RuntimeError(
                    f"write_text_exclusive: the filesystem holding "
                    f"{path} does not support hard links "
                    f"({errno.errorcode.get(exc.errno, exc.errno)}) — "
                    "the POSIX exclusive-create CAS needs them; put "
                    "the table on a real POSIX volume or reach it "
                    "through HadoopFS (a scheme'd URI resolves there)"
                ) from exc
            raise
        finally:
            os.remove(tmp)


class HadoopFS:
    """Hadoop-FileSystem implementation, reached through the JVM of an
    active SparkSession — the exact client (and credentials) Spark's
    own scans use, so no second auth config.  Works for hdfs://,
    s3a://, gs://, abfs://, … wherever the cluster's Hadoop conf does.

    ``atomic_rename`` reflects the scheme: True for HDFS-like stores,
    False for object stores — the commit layer in
    functions/maintenance.py picks the swap protocol accordingly."""

    def __init__(self, spark, path: str):
        self._jvm = spark._jvm
        self.scheme = scheme_of(path)
        juri = self._jvm.java.net.URI.create(path)
        jconf = spark._jsc.hadoopConfiguration()
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            juri, jconf)

    @property
    def atomic_rename(self) -> bool:
        return self.scheme in _RENAME_ATOMIC_SCHEMES

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isDirectory())

    def isfile(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isFile())

    def listdir(self, path: str) -> list[str]:
        return sorted(st.getPath().getName()
                      for st in self._fs.listStatus(self._p(path)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def getsize(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._p(path)).getLen())

    def getmtime(self, path: str) -> float:
        return float(self._fs.getFileStatus(self._p(path))
                     .getModificationTime()) / 1000.0

    def walk_files(self, path: str, skip_dir=None):
        stack = [path]
        while stack:
            d = stack.pop()
            for st in self._fs.listStatus(self._p(d)):
                name = st.getPath().getName()
                child = os.path.join(d, name)
                if st.isDirectory():
                    if skip_dir is None or not skip_dir(name):
                        stack.append(child)
                else:
                    yield child, int(st.getLen())

    def list_stats(self, path: str):
        """Yield (relative path, size, mtime_ms) for every file under
        `path` (for a file, its own name) from ONE recursive listing —
        a flat LIST on object stores, not a walk per directory."""
        base = self._fs.makeQualified(self._p(path)).toString()
        it = self._fs.listFiles(self._p(path), True)
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            rel = (full[len(base):].lstrip("/") if full != base
                   else st.getPath().getName())
            yield rel, int(st.getLen()), int(st.getModificationTime())

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8"))
            out = []
            line = reader.readLine()
            while line is not None:
                out.append(line)
                line = reader.readLine()
            return "\n".join(out)
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        data = bytearray(text.encode("utf-8"))
        if self.atomic_rename:
            tmp = path + ".tmp"
            stream = self._fs.create(self._p(tmp), True)
            try:
                stream.write(data)
            finally:
                stream.close()
            self.rename(tmp, path)
        else:
            # object store: a create(overwrite=true) is one
            # UNCONDITIONAL PUT — atomic for READERS (they see the old
            # object or the new one, never a partial write), but NOT
            # conditional: two concurrent writers last-writer-wins.
            # The commit layer therefore never uses this as a commit
            # point between concurrent writers — the pointer protocol's
            # CAS is write_text_exclusive (the _commit.{N}.json claim);
            # this overwrite only refreshes the best-effort pointer
            # cache AFTER a claim succeeded.  A temp+rename here would
            # be copy+delete, i.e. strictly worse.
            stream = self._fs.create(self._p(path), True)
            try:
                stream.write(data)
            finally:
                stream.close()

    def write_text_exclusive(self, path: str, text: str) -> None:
        """Create `path` with `text` iff it does not exist (the CAS
        primitive of the pointer-commit protocol); raises
        FileExistsError when another writer already claimed the path.

        Rename-atomic schemes (HDFS & friends): full write to a unique
        temp, then ``FileSystem.rename`` — HDFS rename onto an existing
        destination FAILS (returns false), so the rename is an atomic
        exclusive publish with complete content.  A false return is
        only reported as FileExistsError when the destination actually
        exists: HDFS rename also returns false for infrastructure
        failures (missing parent dir, permissions), and those must
        surface as IO errors, not be retried as commit races.

        Object stores: ``create(path, overwrite=false)``.  Connectors
        with conditional-write support (s3a with If-None-Match, gs
        generation preconditions) make this a true conditional PUT;
        older connectors implement it as existence-check + PUT, which
        leaves a small two-writer race window — the same gap
        Delta-on-S3 closed with an external lock before S3 gained
        conditional writes.  The protocol is honest about this:
        exclusivity is as strong as the store's conditional-create."""
        from py4j.protocol import Py4JJavaError

        data = bytearray(text.encode("utf-8"))
        if self.atomic_rename:
            import uuid
            tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
            stream = self._fs.create(self._p(tmp), True)
            try:
                stream.write(data)
            finally:
                stream.close()
            if not self._fs.rename(self._p(tmp), self._p(path)):
                self._fs.delete(self._p(tmp), False)
                if self._fs.exists(self._p(path)):
                    raise FileExistsError(
                        f"write_text_exclusive: {path} already exists")
                raise OSError(
                    f"write_text_exclusive: rename to {path} failed "
                    "but the destination does not exist — an "
                    "infrastructure failure (missing parent dir, "
                    "permissions), not a commit race")
            return
        try:
            stream = self._fs.create(self._p(path), False)
        except Py4JJavaError as exc:
            name = exc.java_exception.getClass().getName()
            if "ExistsException" in name or "AlreadyExists" in name:
                raise FileExistsError(
                    f"write_text_exclusive: {path} already exists"
                ) from None
            raise
        try:
            stream.write(data)
        finally:
            stream.close()


def get_fs(path: str, spark=None):
    """Resolve the filesystem for `path`: PosixFS for local paths,
    HadoopFS (requires an active SparkSession) for any scheme'd URI."""
    s = scheme_of(path)
    if s == "file" and "://" not in path:
        return PosixFS()
    if spark is None:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"get_fs: {path} needs a SparkSession to reach the "
                "Hadoop FileSystem client — pass spark= (for a "
                "file:// URI without a session, strip the scheme and "
                "use the plain local path)")
    return HadoopFS(spark, path)
