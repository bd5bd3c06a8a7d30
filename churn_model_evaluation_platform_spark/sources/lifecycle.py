"""Small-file IO and file lifecycle over the Hadoop ``FileSystem``
(SURVEY §2.A ``s3_object_move`` + ``append_log_sink``).

The reference shepherds every dropped file through prefix "folders"
``input → processing → processed|errored`` with copy+delete and a
per-file audit log (churn_prediction_pipeline.py:642-680, log append
:667-678), reads each drop's header (:142-159) and fetches its model by
alias (:87-113). Every byte-sized read and write of the deployed path
goes through the helpers here: the same code path works on file://,
hdfs:// and s3a:// because the filesystem is resolved from the path's
scheme, and none of them runs a Spark job.

A path is a Hadoop path string. A file the file source hands over is
named by its percent-encoded URI (``input_file_name()``); the helpers
that take such a ``source_uri`` build ``Path(URI)`` from it, which keeps
``%20`` and ``%25`` as they are, where ``Path(String)`` would encode the
``%`` again.
"""

from __future__ import annotations

import csv

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path):
    """The FileSystem and Hadoop ``Path`` of ``path``: a path string, or a
    ``java.net.URI`` (py4j picks the matching ``Path`` constructor)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def read_text(spark: SparkSession, path: str) -> str | None:
    """The UTF-8 text of a small file, or None if there is no file."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return data.decode("utf-8")


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create or overwrite a small file with ``text`` (UTF-8)."""
    fs, p = _fs_and_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()


def read_csv_header(spark: SparkSession, source_uri: str) -> list[str]:
    """The column names on a CSV file's first line, parsed as CSV (quoted
    names) past a UTF-8 byte-order mark, as pandas reads them. Only the
    first line is read."""
    fs, p = _fs_and_path(spark, spark._jvm.java.net.URI(source_uri))
    jio = spark._jvm.java.io
    reader = jio.BufferedReader(jio.InputStreamReader(fs.open(p), "UTF-8"))
    try:
        line = reader.readLine() or ""
    finally:
        reader.close()
    return [c.strip() for c in next(csv.reader([line.removeprefix("\ufeff")]), [])]


def _copy(spark: SparkSession, src, dest_folder: str, delete_source: bool) -> str:
    src_fs, src_path = _fs_and_path(spark, src)
    dest_fs, dest_dir = _fs_and_path(spark, dest_folder)
    dest = spark._jvm.org.apache.hadoop.fs.Path(dest_dir, src_path.getName())
    conf = spark._jsc.hadoopConfiguration()
    if not spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_fs, src_path, dest_fs, dest, delete_source, True, conf
    ):
        raise IOError(f"copy failed: {src_path.toString()} -> {dest.toString()}")
    return dest.toString()


def copy_file(spark: SparkSession, source_uri: str, dest_folder: str) -> str:
    """Copy a file byte for byte into ``dest_folder`` under its own name,
    overwriting a same-name file. Returns the new path."""
    return _copy(spark, spark._jvm.java.net.URI(source_uri), dest_folder, False)


def move_to_folder(
    spark: SparkSession,
    src: str,
    dest_folder: str,
    message: str | None = None,
    log_dir: str | None = None,
) -> str:
    """Move ``src`` into ``dest_folder`` (created if absent), optionally
    appending ``message`` to the file's audit log. Returns the new path.

    Mirrors ``move_to_folder`` churn_prediction_pipeline.py:642-680: a
    copy then a delete, a same-name file is overwritten, and the audit
    line is written before the move so a crash mid-move leaves a record
    of the attempt.
    """
    if message is not None and log_dir is not None:
        name = _fs_and_path(spark, src)[1].getName()
        append_log(spark, f"{log_dir}/{name}.log", message)
    return _copy(spark, src, dest_folder, True)


def append_log(spark: SparkSession, log_path: str, line: str) -> None:
    """Append one line to a per-file audit log.

    The reference does read-modify-write against S3 (existing + new line,
    churn_prediction_pipeline.py:667-678) because S3 has no append; the
    same portable fallback here: read the existing text, rewrite it with
    the new line. Logs are per-file and tiny (one line per lifecycle
    transition), so the rewrite is O(lifecycle length), never O(data).
    """
    write_text(spark, log_path, (read_text(spark, log_path) or "") + line + "\n")


def read_log(spark: SparkSession, log_path: str) -> list[str]:
    """Audit-log lines for a file (empty list if no log yet)."""
    return [ln for ln in (read_text(spark, log_path) or "").splitlines() if ln]


__all__ = [
    "append_log",
    "copy_file",
    "move_to_folder",
    "read_csv_header",
    "read_log",
    "read_text",
    "write_text",
]
