"""Storage-agnostic filesystem helpers over the Hadoop FileSystem API.

Checkpoint/manifest/lineage paths on a real cluster live on HDFS or an
object store (s3a://, gs://, abfs://) — driver-side ``os.path`` /
``open()`` / ``shutil`` only work when the path happens to be a POSIX
mount. These helpers resolve the FileSystem for each path through the
session's Hadoop configuration, so ``file:``, ``hdfs:`` and ``s3a:`` paths
all behave identically (Spark's own writers already do this for the data
files; this extends it to the small JSON sidecars and commit markers).

Reference: ArangoRDF persists nothing but ArangoDB collections, so it has
no analogue; this is Spark-deployment plumbing.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, jvm) for ``path_str`` under the session's conf."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, hpath, _ = hadoop_fs(spark, path)
    fs.mkdirs(hpath)


def fs_delete(spark: SparkSession, path: str, recursive: bool = True) -> None:
    fs, hpath, _ = hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, recursive)


def fs_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file (JSON sidecar / manifest) from any FS."""
    fs, hpath, jvm = hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        # commons-io ships with Hadoop; reads the whole stream driver-side
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def fs_write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Atomically-enough write of a small file: create-overwrite via the FS
    contract (HDFS rename-on-close; object stores PUT on close). Callers
    that need a commit marker write it LAST (see resume.py)."""
    fs, hpath, _ = hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs_write_bytes(spark, path, text.encode("utf-8"))


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` on ``src``'s FileSystem; raise if the FS
    refuses (Hadoop reports a failed rename as ``false``, not an error)."""
    fs, hsrc, jvm = hadoop_fs(spark, src)
    if not fs.rename(hsrc, jvm.org.apache.hadoop.fs.Path(dst)):
        raise OSError(f"rename {src} -> {dst} failed")
