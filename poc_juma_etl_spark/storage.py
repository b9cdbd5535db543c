"""Driver-side file operations on table paths: listing, staging
directories and the two commits of a staged write — the atomic directory
swap with crash recovery, and the per-partition replace. Every warehouse
writer stages and commits through them, one writer per table at a time,
and only this module names a swap's aside. Spark reads and writes the
data; every list, delete and rename around it goes through this module.

Listing runs in-process when the path resolves to the driver's own disk:
the Hadoop remote iterator costs py4j round trips per file
(``hasNext``/``next``/``getPath``/``getLen``), ~7 ms to fingerprint one
file and ~0.6 s to list an 83-directory table, against milliseconds
through ``os``. The gate: no scheme, no ``file:`` prefix, and a ``file:``
``fs.defaultFS`` — on an HDFS-defaulted deployment a scheme-less path names
a remote table that the driver's disk would report as missing. Every other
path lists through Hadoop (local FS, HDFS and S3A alike). Both ways give
the same files, lengths and millisecond mtimes: symlinked directories are
followed, as ``RawLocalFileSystem`` does, and checksum files (``.*.crc``,
hidden by Hadoop's local FS) are left out.

Deletes and renames always go through Hadoop: a few calls per partition
a write replaces, and ``FileSystem.rename`` is the primitive every store
implements.
"""

from __future__ import annotations

import contextlib
import os
import posixpath
import uuid

from pyspark.sql import SparkSession


def _is_local(spark: SparkSession, path: str) -> bool:
    if "://" in path or path.startswith("file:"):
        return False
    default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    return default_fs.startswith("file:")


def _is_checksum(name: str) -> bool:
    return name.startswith(".") and name.endswith(".crc")


def is_hidden(name: str) -> bool:
    """Spark's hidden-path rule: its file index skips names that start with
    ``.``, and names that start with ``_`` and hold no ``=`` — so
    ``_epoch=0`` is a partition, ``_SUCCESS`` and ``_temporary`` are not."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _listing(spark: SparkSession, path: str):
    """``(root, files)``: :func:`list_files`'s result, and ``path`` as its
    entries spell it (qualified when listed through Hadoop). ``None`` when
    ``path`` does not exist."""
    out = []
    if _is_local(spark, path):
        if os.path.isfile(path):
            st = os.stat(path)
            return path, ((path, st.st_size, st.st_mtime_ns // 1_000_000),)
        if not os.path.isdir(path):
            return None
        for root, _dirs, files in os.walk(path, followlinks=True):
            for name in files:
                if not _is_checksum(name):
                    f = os.path.join(root, name)
                    st = os.stat(f)
                    out.append((f, st.st_size, st.st_mtime_ns // 1_000_000))
        return path, tuple(sorted(out))
    fs, root = _fs(spark, path)
    if not fs.exists(root):
        return None
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        f = st.getPath().toString()
        if not _is_checksum(f.rsplit("/", 1)[-1]):
            out.append((f, st.getLen(), st.getModificationTime()))
    return fs.makeQualified(root).toString(), tuple(sorted(out))


def list_files(spark: SparkSession, path: str) -> tuple[tuple[str, int, int], ...] | None:
    """Sorted ``(path, length, mtime_ms)`` of every file under ``path``,
    listed recursively; a file path lists itself. ``None`` when ``path``
    does not exist. No Spark job runs."""
    listing = _listing(spark, path)
    return None if listing is None else listing[1]


def data_files(spark: SparkSession, path: str) -> tuple[tuple[str, int, int], ...] | None:
    """The files of :func:`list_files` that Spark's file index reads: none
    with a hidden name (:func:`is_hidden`) between ``path`` and itself. A
    file path lists itself; ``None`` when ``path`` does not exist."""
    listing = _listing(spark, path)
    if listing is None:
        return None
    root = listing[0].rstrip("/") + "/"
    return tuple(
        f for f in listing[1]
        if not f[0].startswith(root)  # path is the file itself
        or not any(is_hidden(n) for n in f[0][len(root):].split("/"))
    )


def list_dirs(spark: SparkSession, path: str) -> dict[str, str]:
    """``{name: path}`` of the directories directly under ``path``; ``{}``
    when ``path`` does not exist. Nothing below them is opened."""
    if _is_local(spark, path):
        try:
            with os.scandir(path) as entries:
                return {e.name: os.path.join(path, e.name) for e in entries if e.is_dir()}
        except (FileNotFoundError, NotADirectoryError):
            return {}
    fs, root = _fs(spark, path)
    if not fs.exists(root):
        return {}
    out = {}
    for status in fs.listStatus(root):
        if status.isDirectory():
            d = status.getPath().toString()
            out[d.rsplit("/", 1)[1]] = d
    return out


def aside(path: str) -> str:
    """Where :func:`swap_in` parks the live table at ``path`` between its
    two renames: a fixed hidden sibling, so :func:`recover` finds it again
    after a crash."""
    parent, name = posixpath.split(path.rstrip("/"))
    return posixpath.join(parent, f".{name}.aside")


@contextlib.contextmanager
def staging(spark: SparkSession, path: str):
    """A fresh directory for a write to stage the table at ``path`` in: a
    hidden sibling of ``path``, so no reader of the table sees it, on the
    same filesystem, so a commit renames rather than copies. Entering it
    heals ``path`` (:func:`recover`), so a writer enters it before it reads
    its own table. Deleted on exit, whether or not the write committed."""
    recover(spark, path)
    parent, name = posixpath.split(path.rstrip("/"))
    stage = posixpath.join(parent, f".{name}.staging-{uuid.uuid4().hex}")
    try:
        yield stage
    finally:
        fs, p = _fs(spark, stage)
        fs.delete(p, True)


def replace_partitions(spark: SparkSession, staging: str, path: str, drop=()) -> None:
    """Commit a partitioned write staged at ``staging`` into the table at
    ``path``: move each partition directory of ``staging`` over its
    namesake (delete, then rename: the per-partition step of Spark's own
    dynamic-overwrite commit), then delete each directory of ``drop`` that
    no staged partition replaced. A missing ``path`` is a plain rename of
    ``staging`` into place.

    Each partition is replaced whole. A crash part-way leaves some
    partitions new and the rest old; re-running the write completes it."""
    fs, root = _fs(spark, path)
    if not fs.exists(root):
        if not fs.rename(_fs(spark, staging)[1], root):
            raise IOError(f"commit: could not move {staging} to {path}")
        return
    staged = {n: d for n, d in list_dirs(spark, staging).items() if not is_hidden(n)}
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for name, d in staged.items():
        dest = Path(root, name)
        fs.delete(dest, True)
        if not fs.rename(Path(d), dest):
            raise IOError(f"commit: could not move {d} to {dest}")
    for d in drop:
        if d.rstrip("/").rsplit("/", 1)[-1] not in staged:
            fs.delete(Path(d), True)


def swap_in(spark: SparkSession, staging: str, path: str) -> None:
    """Replace the directory at ``path`` with ``staging``: move ``path`` to
    its :func:`aside`, move ``staging`` in, drop the aside. A missing
    ``path`` is a plain rename of ``staging`` into place.

    A crash between the two renames leaves ``path`` missing with the
    original intact at the aside; :func:`recover`, which :func:`staging`
    runs on entry, heals that state. Hadoop ``FileSystem.rename`` reports
    most failures by returning false (the destination exists, the source
    is missing), not by raising, so every return is checked, and a failed
    move-in rolls the original back rather than fall through to the delete
    that would destroy the only copy."""
    fs, p = _fs(spark, path)
    st = spark._jvm.org.apache.hadoop.fs.Path(staging)
    old = spark._jvm.org.apache.hadoop.fs.Path(aside(path))
    fs.delete(old, True)
    had_table = fs.exists(p)
    if had_table and not fs.rename(p, old):
        raise IOError(f"swap: could not move {path} aside")
    if not fs.rename(st, p):
        # the table must never be left missing when it can be restored
        restored = not had_table or fs.rename(old, p)
        raise IOError(
            f"swap: could not move {staging} into {path}"
            + ("" if restored else f" AND rollback failed — original at {aside(path)}")
        )
    fs.delete(old, True)


def recover(spark: SparkSession, path: str) -> str:
    """Heal ``path`` after a crash inside :func:`swap_in`. Three states:

    - no aside → ``"clean"`` (no-op; one existence probe);
    - ``path`` missing but its aside present → the crash hit between the
      two renames: move the original back → ``"restored"``;
    - ``path`` present with a stale aside next to it (a crash before the
      swap dropped it) → the live directory wins; drop the aside →
      ``"cleaned"``.

    Idempotent."""
    fs, p = _fs(spark, path)
    old = spark._jvm.org.apache.hadoop.fs.Path(aside(path))
    if not fs.exists(old):
        return "clean"
    if fs.exists(p):
        fs.delete(old, True)
        return "cleaned"
    if not fs.rename(old, p):  # rename failures return false, not raise
        raise IOError(f"recover: could not restore {path} from {aside(path)}")
    return "restored"
