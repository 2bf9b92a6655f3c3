"""Thin Hadoop FileSystem access for layout-aware operators.

The mart/index maintenance code probes and prunes directory layouts
(bucket dirs, partition dirs, marker files) before Spark ever plans a
scan. Going through the Hadoop FS API — not os.path — keeps every probe
working on HDFS/S3/ABFS exactly as on local paths. This module is the
single home for the py4j incantation, and for the staged swap that
every maintenance rewrite (compact_small_files, compact_kmv_store)
replaces a directory with.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """Return (jvm, fs, jpath) for ``path``: the py4j JVM gateway, the
    Hadoop FileSystem owning the path's scheme, and the path as a
    Hadoop Path object."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs, jpath


# Hadoop glob metacharacters (GlobPattern): alternation, classes,
# wildcards, and the backslash that escapes them.
_GLOB_CHARS = "*?[]{}\\"


def escape_glob(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a LITERAL path so
    it can be embedded in a globStatus pattern (or handed to a Spark
    path that glob-expands). Without this, a base path containing
    { } [ ] * ? mis-matches — e.g. read_mart_touched's bucket glob
    would silently fall back to the full listing it exists to avoid,
    or match a different directory outright."""
    return "".join("\\" + c if c in _GLOB_CHARS else c for c in path)


def glob_dirs(spark: SparkSession, pattern: str) -> list[str]:
    """Paths matching a Hadoop glob pattern (empty list when nothing
    matches — globStatus returns null then, which this wraps away)."""
    _, fs, jpattern = hadoop_fs(spark, pattern)
    statuses = fs.globStatus(jpattern)
    return ([str(s.getPath()) for s in statuses]
            if statuses is not None else [])


def write_text_marker(spark: SparkSession, path: str, content: str) -> None:
    """Create-or-replace a tiny marker file (e.g. fingerprint
    provenance)."""
    _, fs, jpath = hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text_marker(spark: SparkSession, path: str) -> str | None:
    """Read a marker file written by write_text_marker; None when the
    file does not exist (legacy layouts predating the marker). Bulk
    copy through IOUtils — a per-byte stream.read() loop would cost one
    py4j round trip per byte."""
    jvm, fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    # closeAll=True closes both ends for us.
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return bytes(baos.toByteArray()).decode("utf-8")


def staged_rewrite(spark: SparkSession, path: str,
                   rewritten: Callable[[], DataFrame]) -> None:
    """Replace the parquet directory at ``path`` with the frame
    ``rewritten()`` builds — typically a read of ``path`` itself —
    without ever overwriting the input while reading it: write the
    frame to ``<path>_compacting``, rename ``path`` aside to
    ``<path>_precompact``, rename the staging dir into place (renaming
    the original back if that fails), then delete the backup.

    A stale backup dir from a crashed run is a data-loss trap: HDFS
    rename semantics move the source INTO an existing destination
    directory (silently nesting the live data), and the post-swap
    cleanup would then delete it. So it is refused up front, before
    ``rewritten`` is called — a rewrite that crashed between the two
    renames leaves no dir at ``path``, and a schema-resolving read
    would die with PATH_NOT_FOUND instead of this diagnostic. On object
    stores a directory "rename" is a copy+delete, so the swap window is
    not atomic there (use a transactional table format when readers
    overlap maintenance)."""
    jvm, fs, jpath = hadoop_fs(spark, path)
    staging = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "_compacting")
    backup = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "_precompact")
    if fs.exists(backup):
        raise IOError(
            f"stale backup dir {backup} exists (previous rewrite "
            "crashed mid-swap?); inspect and remove it before rewriting")
    rewritten().write.mode("overwrite").parquet(staging.toString())
    if not fs.rename(jpath, backup):
        raise IOError(f"rename {path} -> {backup} failed")
    if not fs.rename(staging, jpath):
        fs.rename(backup, jpath)  # roll back; input left intact
        raise IOError(f"rename {staging} -> {path} failed")
    fs.delete(backup, True)
