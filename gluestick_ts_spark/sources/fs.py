"""Cluster-filesystem helpers (Hadoop FileSystem API via py4j).

``os.path`` only sees the driver's local disk: an existence check on an
``s3a://`` / ``hdfs://`` / ``file:/`` data path is always False
locally, which silently turns "dedup against the store" into "dedup
against an empty store" while writes to the remote path keep
succeeding. These helpers resolve paths through the same Hadoop
FileSystem layer Spark's own readers and writers use, so every scheme
Spark can read behaves identically — the existence check and the scan
agree on what "the store" is.

Every store that rewrites itself (snapshots, SCD2 histories, the
compacted dedup stores) swaps directories through :func:`replace_dir`
and heals a swap that died halfway through :func:`heal_dir`, so the
rename protocol and its crash recovery live in this one module.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession

__all__ = [
    "hadoop_path_exists",
    "join_uri",
    "write_text_file",
    "read_hidden_text_file",
    "read_text_file",
    "rename_path",
    "delete_path",
    "replace_dir",
    "heal_dir",
    "list_dir_names",
]


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on the filesystem its URI scheme names
    (scheme-less paths resolve against ``fs.defaultFS``, exactly as a
    ``spark.read`` of the same string would)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def join_uri(base: str, *parts: str) -> str:
    """URI-safe path join: ``os.path.join`` is the driver's OS
    convention, not the store's — URIs always join with '/'."""
    segs = [base.rstrip("/")]
    segs.extend(p.strip("/") for p in parts if p)
    return "/".join(segs)


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename/move through the Hadoop FS. O(1) on HDFS/local; on object
    stores (S3) the connector emulates it with copy+delete — callers
    doing directory swaps must treat it as non-atomic there."""
    fs, hsrc = _fs_and_path(spark, src)
    return bool(fs.rename(hsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)))


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.delete(hpath, recursive))


def replace_dir(spark: SparkSession, path: str, write: Callable[[str], None]) -> None:
    """Replace the directory ``path`` with what ``write(tmp)`` writes.

    Spark cannot overwrite a path that feeds the plan being executed,
    so ``write`` lands in ``<path>.compact-tmp`` (a stale one is deleted
    first) and two renames swap it in: the live dir moves to
    ``<path>.pre-compact``, the tmp moves to ``path``, the parked copy
    is deleted. Both renames are checked: when the first fails nothing
    moved; when the second fails the parked copy is renamed back. Either
    way the old data stays readable and ``IOError`` is raised. If
    ``write`` raises, the tmp is removed and the error propagates.

    A crash between the two renames leaves ``path`` missing and the old
    data in ``<path>.pre-compact``; :func:`heal_dir` restores it. The
    renames are atomic on HDFS/local; object-store connectors emulate
    them with copy+delete, so single-writer callers only.
    """
    tmp, pre = path + ".compact-tmp", path + ".pre-compact"
    delete_path(spark, tmp)
    try:
        write(tmp)
        if hadoop_path_exists(spark, path):
            delete_path(spark, pre)
            if not rename_path(spark, path, pre):
                raise IOError(f"replace_dir: could not move {path} aside")
            if not rename_path(spark, tmp, path):
                rename_path(spark, pre, path)  # roll back: old data stays live
                raise IOError(f"replace_dir: could not move {tmp} into place")
            delete_path(spark, pre)
        elif not rename_path(spark, tmp, path):
            raise IOError(f"replace_dir: could not move {tmp} into place")
    except BaseException:
        delete_path(spark, tmp)
        raise


def heal_dir(spark: SparkSession, path: str) -> bool:
    """Undo a :func:`replace_dir` swap that died halfway: when ``path``
    is missing but ``<path>.pre-compact`` exists, rename the parked
    data back (the rewrite is discarded, never the rows) and delete the
    stale ``<path>.compact-tmp``. Returns True when data was restored.

    A live ``path`` costs one existence check and is left as it is: a
    stale tmp beside it is harmless, and the next :func:`replace_dir`
    deletes it before writing. Stores call it before they would take a
    missing path for an empty store, so "missing after a crash" is
    never read as "empty"; raises ``IOError`` if the restore rename
    fails."""
    pre = path + ".pre-compact"
    if hadoop_path_exists(spark, path) or not hadoop_path_exists(spark, pre):
        return False
    if not rename_path(spark, pre, path):
        raise IOError(f"heal_dir: could not restore {pre} to {path}")
    delete_path(spark, path + ".compact-tmp")
    return True


def list_dir_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry NAMES of a directory (empty when it doesn't exist) —
    driver-side store-maintenance listing through the Hadoop FS, so the
    same code walks local dirs and object-store prefixes."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(hpath))


def write_text_file(spark: SparkSession, path: str, content: str) -> None:
    """Write a small driver-side text file (e.g. store metadata) through
    the Hadoop FS — works on any scheme Spark can write, unlike open()."""
    fs, hpath = _fs_and_path(spark, path)
    out = fs.create(hpath, True)  # overwrite
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark: SparkSession, path: str) -> str:
    """Read a small text file from any Spark-readable filesystem.

    Goes through ``spark.read.text`` (one tiny job) rather than py4j
    stream plumbing — py4j passes byte[] buffers by value, so a
    Java-side ``InputStream.read(buf)`` never fills a Python
    bytearray."""
    rows = spark.read.text(path).collect()
    return "\n".join(r.value for r in rows)


def read_hidden_text_file(spark: SparkSession, path: str) -> str:
    """Read a small text file that Spark's listing treats as hidden
    (``_``/``.``-prefixed sidecars inside data directories) —
    ``spark.read.text`` silently returns nothing for those. Routes the
    whole file through commons-io IOUtils (py4j passes the byte[] back
    by value), so use only for driver-side metadata."""
    fs, hpath = _fs_and_path(spark, path)
    stream = fs.open(hpath)
    try:
        data = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return data.decode("utf-8")
