"""File-lifecycle management (SURVEY §2.A ``s3_object_move`` +
``append_log_sink``).

The reference shepherds every dropped file through prefix "folders"
``input → processing → processed|errored`` with copy+delete and a
per-file audit log (churn_prediction_pipeline.py:642-680, log append
:667-678). Spark-native equivalent: the Hadoop ``FileSystem`` API —
the same code path works on file://, hdfs:// and s3a:// because the
filesystem is resolved from the path's scheme. ``rename`` is atomic on
HDFS/local and a server-side copy on S3A, exactly matching the
reference's copy+delete semantics.

Streaming note: when files are consumed via the file source, the
checkpoint already records which files were consumed — these helpers
are for the reference-shaped batch orchestration where the engine moves
inputs itself.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def move_to_folder(
    spark: SparkSession,
    src: str,
    dest_folder: str,
    message: str | None = None,
    log_dir: str | None = None,
) -> str:
    """Move ``src`` into ``dest_folder`` (created if absent), optionally
    appending ``message`` to the file's audit log. Returns the new path.

    Mirrors ``move_to_folder`` churn_prediction_pipeline.py:642-680:
    same-name collision overwrites (the reference's copy does), and the
    audit line is written before the move so a crash mid-move leaves a
    record of the attempt.
    """
    fs, src_path = _fs_and_path(spark, src)
    jvm = spark._jvm
    dest_dir = jvm.org.apache.hadoop.fs.Path(dest_folder)
    fs.mkdirs(dest_dir)
    dest = jvm.org.apache.hadoop.fs.Path(dest_dir, src_path.getName())
    if message is not None and log_dir is not None:
        append_log(spark, f"{log_dir}/{src_path.getName()}.log", message)
    if fs.exists(dest):
        fs.delete(dest, False)
    if not fs.rename(src_path, dest):
        raise IOError(f"rename failed: {src} -> {dest}")
    return dest.toString()


def append_log(spark: SparkSession, log_path: str, line: str) -> None:
    """Append one line to a per-file audit log.

    The reference does read-modify-write against S3 (existing + new line,
    churn_prediction_pipeline.py:667-678) because S3 has no append; the
    Hadoop API exposes the same portable fallback: read existing bytes,
    rewrite with the new line. Logs are per-file and tiny (one line per
    lifecycle transition), so the rewrite is O(lifecycle length), never
    O(data).
    """
    fs, path = _fs_and_path(spark, log_path)
    jvm = spark._jvm
    fs.mkdirs(path.getParent())
    existing = b""
    if fs.exists(path):
        stream = fs.open(path)
        try:
            util = jvm.org.apache.commons.io.IOUtils
            existing = bytes(util.toByteArray(stream))
        finally:
            stream.close()
    out = fs.create(path, True)
    try:
        out.write(existing + (line + "\n").encode("utf-8"))
    finally:
        out.close()


def read_log(spark: SparkSession, log_path: str) -> list[str]:
    """Audit-log lines for a file (empty list if no log yet)."""
    fs, path = _fs_and_path(spark, log_path)
    if not fs.exists(path):
        return []
    stream = fs.open(path)
    try:
        util = spark._jvm.org.apache.commons.io.IOUtils
        data = bytes(util.toByteArray(stream))
    finally:
        stream.close()
    return [ln for ln in data.decode("utf-8").splitlines() if ln]


__all__ = ["append_log", "move_to_folder", "read_log"]
