"""Loaders for the driver-generated TPC-H-ish parquet tables
(/root/testdata/sf*/; see TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver's cwd/sys.path: module-level functions crossing the worker
    boundary (pandas UDFs, applyInPandasWithState) are cloudpickled BY
    REFERENCE, so workers must import the module. A driver that added
    /root/repo to sys.path at runtime doesn't propagate that to workers
    — ship a zip of the package via addPyFile once per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_churnspark_shipped", False):
        return
    import os
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(
        tempfile.gettempdir(), f"churnspark_pkg_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        base, "zip", root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    sc._churnspark_shipped = True


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    # The driver owns the session; events.parquet carries TIMESTAMP(NANOS)
    # which Spark rejects unless this runtime SQL conf is set.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Every registry query flows through here — central hook to make the
    # package importable on Python workers (see ensure_package_shipped).
    ensure_package_shipped(spark)
    path = f"{sf_dir or DEFAULT_SF_DIR}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return _spread_small_scan(spark, df, path)


def _parse_bytes_conf(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1g',
    plain digits) to bytes; unparseable values fall back to the 128 MB
    default rather than raising."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return 128 << 20


#: below this on-disk size a table is treated as a broadcast-shaped
#: dimension (region/nation/supplier/part) and left on its natural
#: single split — spreading those would add an exchange to every
#: join that today broadcasts them straight off the scan.
_SPREAD_MIN_BYTES = 256 << 10

#: minimum COMPRESSED bytes/row for the spread to engage: wide rows
#: (document text, embedding vectors) are where per-row map work
#: dominates and a single-task scan starves the cores; narrow-row
#: tables (events/orders/lineitem fact rows, ~20 B/row) are
#: aggregation-shaped — their pre-exchange work is a cheap partial
#: aggregate, and an added full-table exchange measurably DOUBLED the
#: small-aggregation queries in the r15 bench (metrics_unpivot 0.23 s
#: → 0.82 s isolated, agg_rollup 0.46 s → 1.05 s) for no map-side win.
_SPREAD_MIN_ROW_BYTES = 64


def _spread_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """SCALE-ADAPTIVE scan parallelism floor (optimization r15, guide
    §2/§6): the test tables are single-file single-ROW-GROUP parquet,
    so every scan is ONE task no matter what
    ``spark.sql.files.maxPartitionBytes`` says (a split can only claim
    whole row groups) — and all map-side work before the first
    exchange (tokenization, shingle/minhash hashing, classifier
    margins, partial aggregation) ran on one core (measured: the
    quality-classifier margin pass over documents at sf0.1 took 9.8 s
    single-task vs 0.8 s spread over 32). When the file is WIDE-ROW
    (payload tables — see ``_SPREAD_MIN_ROW_BYTES``) and too small for
    the scan to reach the core count on its own, redistribute it once
    with a round-robin exchange — the moved bytes are bounded by the
    smallness that triggered the path. At production scale the
    estimated split count exceeds any core count and this is a no-op;
    the decision derives from input size, row width (parquet footer
    metadata), and session confs, not from a local constant."""
    import math

    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    if size < _SPREAD_MIN_BYTES:
        return df
    try:
        import pyarrow.parquet as _pq

        n_rows = _pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return df
    if n_rows <= 0 or size / n_rows < _SPREAD_MIN_ROW_BYTES:
        return df
    cores = spark.sparkContext.defaultParallelism
    max_split = _parse_bytes_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    est_splits = max(1, math.ceil(size / max(1, max_split)))
    if 2 * est_splits >= cores:
        return df
    return df.repartition(cores)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to session-tz TIMESTAMP
    regardless of the parquet physical type the generator emitted.
    Used by both batch `load_table` and the streaming readers (which
    bypass load_table)."""
    ts_type = df.schema[col].dataType
    if isinstance(ts_type, LongType):
        # TIMESTAMP(NANOS) read as long (see session.py). Integer DIV —
        # double division would lose precision at epoch-nanos magnitude.
        # DuckDB's native TIMESTAMP is µs too, so oracle comparisons agree.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # parquet timestamp[us] (no tz) arrives as TIMESTAMP_NTZ, which
        # unix_micros and streaming event-time reject. The session runs
        # in UTC, so the cast is a pure re-tag — wall-clock values (and
        # DuckDB-µs oracle parity) are unchanged.
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df

