"""Filesystem shim for index metadata, markers, and file moves.

The index's SMALL control-plane state (meta.json, pending-append /
pending-compact markers, staged-file moves) needs plain file ops that
work both on a local disk and on any Hadoop-visible filesystem
(hdfs://, s3a://, file://, ...).  Bulk data I/O stays with Spark's
readers/writers; this module covers only the control plane.

Dispatch rule: a path containing ``://`` goes through the Hadoop
FileSystem API (via the live SparkSession's JVM); anything else takes
the local os/shutil fast path.  ``file://`` URIs therefore exercise
the FS-API code end-to-end on a local disk — which is how the tests
pin this layer.

Atomicity note: ``write_text_atomic`` and ``rename_overwrite`` are
atomic on POSIX and HDFS (rename).  On S3-like object stores a Hadoop
rename is copy+delete — not atomic, which is exactly why the engine's
commit protocol never relies on rename atomicity alone: every
multi-file transition is guarded by a marker written BEFORE the moves
and reconciled by crash recovery on open (streaming/incremental.py).

Reference analog: the reference keeps all state in an in-process LMDB
(modules/core), so it never faced remote-storage commits; a
Spark-native engine whose index lives on shared storage must.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil


import re

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:/")


def is_remote(path: str) -> bool:
    """True for any URI-schemed path — including the single-slash form
    (``file:/tmp/x``) that Hadoop's Path.toString() emits."""
    return "://" in path or bool(_SCHEME.match(path))


# Object stores whose Hadoop "rename" is a non-atomic copy+delete.
# Multi-file swap protocols (compaction) REQUIRE atomic rename — a
# crash mid-copy leaves states the marker discipline cannot
# distinguish (partially-deleted staging vs complete live), so those
# operations fail fast on these schemes instead of risking promoting
# a partial directory (see streaming/incremental.py compact_buckets).
_NON_ATOMIC_RENAME_SCHEMES = {
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
    "oss", "cos", "swift",
}


def scheme(path: str) -> str | None:
    """URI scheme of a path, or None for plain local paths."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):/", path)
    return m.group(1).lower() if m else None


def atomic_rename_supported(path: str) -> bool:
    """True when the path's filesystem renames atomically (POSIX
    local, file://, hdfs://, viewfs://...); False for object stores
    where rename = copy+delete."""
    s = scheme(path)
    return s is None or s not in _NON_ATOMIC_RENAME_SCHEMES


def _jfs(spark, path: str):
    """(FileSystem, Path, jvm) for a URI path."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p, jvm


def exists(spark, path: str) -> bool:
    if not is_remote(path):
        return os.path.exists(path)
    fs, p, _ = _jfs(spark, path)
    return fs.exists(p)


def mkdirs(spark, path: str) -> None:
    if not is_remote(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, p, _ = _jfs(spark, path)
    fs.mkdirs(p)


def read_text(spark, path: str) -> str:
    """Read a small text file; raises FileNotFoundError if absent."""
    if not is_remote(path):
        with open(path) as f:
            return f.read()
    fs, p, jvm = _jfs(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_atomic(spark, path: str, text: str) -> None:
    """Write-then-rename: readers never observe a torn file (POSIX and
    HDFS give atomic rename; object stores are covered by the marker
    protocol, see module docstring)."""
    if not is_remote(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
        return
    fs, p, jvm = _jfs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    # Overwriting rename in ONE operation: FileSystem.rename refuses
    # to clobber, and delete-then-rename leaves a crash window with
    # the destination ABSENT (for meta.json that reads as "no index").
    # FileContext.rename(..., Rename.OVERWRITE) is atomic wherever the
    # underlying FS renames atomically (local, HDFS).
    try:
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri(), conf
        )
        ren = jvm.org.apache.hadoop.fs.Options.Rename
        arr = spark.sparkContext._gateway.new_array(ren, 1)
        arr[0] = ren.OVERWRITE
        fc.rename(tmp, p, arr)
        return
    except Exception:
        # No AbstractFileSystem registered for this scheme (common for
        # s3a) — fall back to delete+rename.  On such object stores
        # rename isn't atomic anyway; the commit protocols that depend
        # on this file (markers/meta) are guarded by marker-first
        # recovery, not by rename atomicity (module docstring).
        pass
    if fs.exists(p):
        fs.delete(p, False)
    # Hadoop rename reports failure by RETURNING false, not raising —
    # a swallowed failure here would mean a commit protocol proceeding
    # without its marker/meta, which recovery could never see
    if not fs.rename(tmp, p):
        raise OSError(f"atomic write failed: rename {tmp} -> {path}")


def create_exclusive(spark, path: str, text: str) -> bool:
    """Create-if-absent in one atomic operation (O_EXCL locally,
    FileSystem.create(overwrite=false) remotely).  Returns True iff
    THIS call created the file — the primitive behind the recovery
    lease (index/build.py recovery_lock)."""
    if not is_remote(path):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, text.encode("utf-8"))
        finally:
            os.close(fd)
        return True
    fs, p, _ = _jfs(spark, path)
    try:
        out = fs.create(p, False)  # raises if the path exists
    except Exception:
        return False
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def remove(spark, path: str, missing_ok: bool = True) -> None:
    """Delete one file."""
    if not is_remote(path):
        try:
            os.remove(path)
        except FileNotFoundError:
            if not missing_ok:
                raise
        return
    fs, p, _ = _jfs(spark, path)
    if fs.exists(p):
        fs.delete(p, False)
    elif not missing_ok:
        raise FileNotFoundError(path)


def rmtree(spark, path: str) -> None:
    """Recursive delete, missing ok."""
    if not is_remote(path):
        shutil.rmtree(path, ignore_errors=True)
        return
    fs, p, _ = _jfs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def rename_overwrite(spark, src: str, dst: str) -> None:
    """os.replace semantics: move src to dst, clobbering dst.
    src and dst must be on the same filesystem."""
    if not is_remote(src):
        os.replace(src, dst)
        return
    fs, sp, jvm = _jfs(spark, src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    if fs.exists(dp):
        fs.delete(dp, False)
    if not fs.rename(sp, dp):
        raise OSError(f"rename failed: {src} -> {dst}")


def move_dir(spark, src: str, dst: str) -> None:
    """Move a directory tree; dst must not exist."""
    if not is_remote(src):
        shutil.move(src, dst)
        return
    fs, sp, jvm = _jfs(spark, src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(sp, dp):
        raise OSError(f"move failed: {src} -> {dst}")


def list_files(spark, path: str) -> list:
    """Every regular file under ``path`` recursively as sorted
    (relative_path, size_bytes) pairs — the manifest primitive
    snapshot/restore uses."""
    return [(rel, size) for rel, size, _ in list_file_stats(spark, path)]


def list_file_stats(spark, path: str) -> list:
    """Every regular file under ``path`` recursively as sorted
    (relative_path, size_bytes, mtime_ms) triples — a file's identity
    for readers that reuse what they built from an unchanged file.
    Local paths walk the OS tree; remote paths use
    FileSystem.listFiles(recursive=true), so the same manifest works
    on HDFS/S3A."""
    out = []
    if not is_remote(path):
        base = os.path.abspath(path)
        for root, _dirs, files in os.walk(base):
            for name in files:
                full = os.path.join(root, name)
                st = os.stat(full)
                out.append(
                    (os.path.relpath(full, base).replace(os.sep, "/"),
                     st.st_size, st.st_mtime_ns // 1_000_000)
                )
        return sorted(out)
    fs, p, _ = _jfs(spark, path)
    if not fs.exists(p):
        return []
    base_uri = fs.makeQualified(p).toString().rstrip("/") + "/"
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(base_uri):] if full.startswith(base_uri) else full
        out.append((rel, int(st.getLen()), int(st.getModificationTime())))
    return sorted(out)


def copy_file(spark, src: str, dst: str) -> None:
    """Copy one file, creating parent dirs; overwrites ``dst``.
    Local-to-local goes through the OS; any remote endpoint routes
    through Hadoop FileUtil.copy (works across filesystems)."""
    if not is_remote(src) and not is_remote(dst):
        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        shutil.copyfile(src, dst)
        return
    sfs, sp, jvm = _jfs(spark, src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    dfs = dp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
        sfs, sp, dfs, dp, False, True, conf
    )
    if not ok:
        raise OSError(f"copy failed: {src} -> {dst}")


def glob(spark, pattern: str) -> list:
    """Paths matching a Hadoop glob pattern, sorted."""
    if not is_remote(pattern):
        return sorted(_glob.glob(pattern))
    fs, p, _ = _jfs(spark, pattern)
    statuses = fs.globStatus(p)
    if statuses is None:
        return []
    return sorted(st.getPath().toString() for st in statuses)
