"""Metric reshaping + the metrics-store SQL surface (SURVEY §2.E).

The reference unpivots an Evidently report dict into long rows
``(metric_name, value, created_at)`` (churn_prediction_pipeline.py:488-530)
with names simplified by ``simplify_metric_name`` (:533-553), appends them
to Postgres, and serves two dashboard SQL shapes
(churn-model-evaluation.json): latest-value-per-metric and per-metric time
series. Here the store is any Spark-SQL-queryable table (parquet dir by
default) and both shapes run through ``spark.sql`` verbatim.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

METRICS_TABLE = "drift_metrics"


def metrics_unpivot(
    wide: DataFrame, id_cols: list[str] | None = None
) -> DataFrame:
    """Wide single-row aggregates → long ``(metric_name, value)`` rows.

    ``DataFrame.unpivot`` (Catalyst ``Expand``) — no shuffle; each input
    row fans out to one row per metric column.
    """
    ids = id_cols or []
    values = [c for c in wide.columns if c not in ids]
    long = wide.unpivot(ids, values, "metric_name", "value")
    return long.withColumn("value", F.col("value").cast("double"))


def explode_dict_metric(
    df: DataFrame, name_col: str, map_col: str
) -> DataFrame:
    """Dict-valued metric → one row per entry, named ``<name>[<key>]``
    (flattening at churn_prediction_pipeline.py:513-523).
    """
    e = df.select(
        F.col(name_col).alias("__name"), F.explode(F.map_entries(F.col(map_col)))
    ).select(
        F.concat(F.col("__name"), F.lit("["), F.col("col.key"), F.lit("]")).alias(
            "metric_name"
        ),
        F.col("col.value").cast("double").alias("value"),
    )
    return e


def simplify_metric_name_expr(metric_id: Column) -> Column:
    """Column expression of the reference's ``simplify_metric_name``
    (churn_prediction_pipeline.py:533-553):

    ``"F1Score(conf_matrix=True)"``      → ``"f1score"``
    ``"ValueDrift(column=age_group)"``   → ``"valuedrift_age_group"``
    ``"Accuracy"``                       → ``"accuracy"``
    """
    base = F.lower(F.regexp_extract(metric_id, r"^([A-Za-z0-9_]+)", 1))
    column = F.regexp_extract(metric_id, r"column=([A-Za-z0-9_]+)", 1)
    return F.when(column == "", base).otherwise(
        F.concat(base, F.lit("_"), F.lower(column))
    )


def simplify_metric_name(metric_id: str) -> str:
    """Driver-side twin of ``simplify_metric_name_expr``."""
    m = re.match(r"^([A-Za-z0-9_]+)", metric_id)
    base = m.group(1).lower() if m else metric_id.lower()
    col = re.search(r"column=([A-Za-z0-9_]+)", metric_id)
    return f"{base}_{col.group(1).lower()}" if col else base


def metrics_frame(spark: SparkSession, rows: list[tuple[str, float | None]]) -> DataFrame:
    """``(metric_name, value)`` rows held by the driver as a DataFrame,
    built from an Arrow table so no Python worker starts."""
    names, values = zip(*rows)
    columns = [pa.array(names, pa.string()), pa.array(values, pa.float64())]
    table = pa.table(columns, names=["metric_name", "value"])
    return spark.createDataFrame(table)


def with_created_at(df: DataFrame, ts: Column | None = None) -> DataFrame:
    """Stamp the append time (churn_prediction_pipeline.py:509,521 uses
    ``datetime.utcnow()``). Pass a literal for deterministic tests.
    """
    return df.withColumn("created_at", ts if ts is not None else F.current_timestamp())


def append_metrics(df: DataFrame, path: str, partition_by_date: bool = False) -> None:
    """Append metric rows to the store — parquet append (the distributed
    stand-in for the reference's Postgres INSERT,
    churn_prediction_pipeline.py:529-530). For a real warehouse use
    ``df.write.jdbc(url, table, mode="append")`` or a Delta table; the
    schema is DRIFT_METRICS_SCHEMA either way.

    ``partition_by_date=True`` is the 100 TB layout: a ``metric_date``
    partition column derived from ``created_at`` so the dashboard's
    time-windowed queries prune to recent partitions instead of scanning
    the append-forever history.

    A metrics frame is small (one row per metric of a run), so it is
    written as one file per date partition: each dashboard scan pays for
    every file. ``repartition`` rather than ``coalesce``: the frame's own
    partitions still compute in parallel, then one shuffle of a few rows.
    """
    df = df.repartition(1)
    if partition_by_date:
        df.withColumn(
            "metric_date", F.to_date("created_at")
        ).write.mode("append").partitionBy("metric_date").parquet(path)
    else:
        df.write.mode("append").parquet(path)


def compact_store(
    spark: SparkSession,
    path: str,
    target_partitions: int = 1,
    partition_by_date: bool = False,
) -> int:
    """Compact an append-only parquet store in place: every micro-batch
    append adds small files (the streaming metrics sink produces one+
    per trigger), and scan cost degrades with file count. Rewrites the
    store to ``target_partitions`` files (per date partition when
    ``partition_by_date``) via a temp dir + atomic-ish swap. Returns the
    row count (callers assert it unchanged).

    At warehouse scale this is OPTIMIZE/bin-packing on a Delta/Iceberg
    table; on plain parquet the rewrite is the portable equivalent. Run
    it from maintenance, never concurrently with an appender.
    """
    import shutil
    import uuid

    df = spark.read.parquet(path)
    n = df.count()
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    writer = df.repartition(target_partitions).write.mode("overwrite")
    if partition_by_date:
        writer = writer.partitionBy("metric_date")
    writer.parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n


def jdbc_execute(
    spark: SparkSession, url: str, sql: str, properties: dict | None = None
) -> bool:
    """Run one DDL/DML statement over a plain JDBC connection (the
    engine's stand-in for the reference's SQLAlchemy session,
    churn_prediction_pipeline.py:628-636). Returns False instead of
    raising when the statement fails (e.g. DELETE against a
    not-yet-created table)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    try:
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
    except Exception:
        return False
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
            return True
        except Exception:
            return False
        finally:
            stmt.close()
    finally:
        conn.close()


def append_metrics_jdbc(
    df: DataFrame,
    url: str,
    table: str = METRICS_TABLE,
    properties: dict | None = None,
    batch_id: int | None = None,
) -> None:
    """JDBC append sink (churn_prediction_pipeline.py:529-530,628-636).

    - Create-if-absent DDL comes free from Spark's JDBC relation
      provider in Append mode (the reference's
      ``Base.metadata.create_all`` equivalent).
    - ``batch_id`` makes the append IDEMPOTENT under retry (the
      reference wraps the DB task in ``@task(retries=3)``): rows are
      stamped with the batch id and any rows from a previous attempt of
      the SAME batch are deleted first, so replaying a failed batch
      never double-writes. Use the streaming micro-batch id or any
      monotonically-assigned run id.
    """
    props = properties or {}
    if batch_id is None:
        df.write.jdbc(url, table, mode="append", properties=props)
        return
    stamped = df.withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
    # Delete any partial previous attempt of this batch; failure (table
    # absent on first ever write) is fine — Append mode will create it.
    # Spark's JDBC writer passes the TABLE name through verbatim but
    # ANSI-quotes COLUMN names in its DDL, so the predicate column must
    # be quoted (unquoted it would case-fold to a different name).
    jdbc_execute(
        stamped.sparkSession,
        url,
        f'DELETE FROM {table} WHERE "batch_id" = {int(batch_id)}',
        props,
    )
    stamped.write.jdbc(url, table, mode="append", properties=props)


def register_metrics_view(
    spark: SparkSession, source: DataFrame | str, name: str = METRICS_TABLE
) -> None:
    """Expose the metrics table to Spark SQL so the dashboard queries run
    verbatim (SURVEY §3.3)."""
    df = spark.read.parquet(source) if isinstance(source, str) else source
    df.createOrReplaceTempView(name)


def latest_metric_value(
    spark: SparkSession, metric_name: str, table: str = METRICS_TABLE
) -> DataFrame:
    """Dashboard shape A (churn-model-evaluation.json:110):
    ``SELECT value WHERE metric_name=? ORDER BY created_at DESC LIMIT 1``.
    Catalyst plans this as TakeOrderedAndProject after a pushed filter —
    no full sort.
    """
    return spark.sql(
        f"SELECT value FROM {table} WHERE metric_name = ? "
        "ORDER BY created_at DESC LIMIT 1",
        args=[metric_name],
    )


def latest_metric_value_scalable(
    metrics: DataFrame, metric_name: str
) -> DataFrame:
    """Single-metric dashboard shape A via the max-timestamp semi-join
    rewrite (SURVEY §4's optional 100 TB rule, single-metric form of
    ``latest_per_metric_scalable``): filter to the metric (pushed,
    partition-prunable predicate), aggregate ``max(created_at)`` —
    map-side combinable down to ONE row — broadcast it back and keep
    the matching row(s). No ordering operator anywhere in the plan:
    the ``ORDER BY created_at DESC LIMIT 1`` form plans a
    TakeOrderedAndProject whose heap still examines every surviving
    row's sort key per partition plus a single-partition final merge.

    Ties on the max timestamp return every tied row (the LIMIT-1 form
    silently picks one); dedupe upstream if the store can hold
    duplicate timestamps for a metric.
    """
    filtered = metrics.where(F.col("metric_name") == metric_name)
    latest_ts = filtered.agg(F.max("created_at").alias("__max_ts"))
    return (
        filtered.join(
            F.broadcast(latest_ts),
            F.col("created_at") == F.col("__max_ts"),
        )
        .select("value")
    )


def latest_per_metric_scalable(metrics: DataFrame) -> DataFrame:
    """Latest row per metric via the max-timestamp semi-join rewrite
    (SURVEY §4 'optional later', now implemented): aggregate
    ``max(created_at)`` per metric (map-side combinable — one tiny row
    per metric), broadcast it back, and keep matching rows. At 100 TB of
    metrics this beats the window form: no per-metric ordered state,
    just one full-shuffle-free aggregate plus a broadcast hash join.

    Ties on (metric_name, max created_at) keep every tied row — break
    them upstream if the store can hold duplicates for one timestamp.
    """
    latest_ts = (
        metrics.groupBy("metric_name")
        .agg(F.max("created_at").alias("__max_ts"))
        .select(
            F.col("metric_name").alias("__mname"),  # disambiguate self-join
            "__max_ts",
        )
    )
    return (
        metrics.join(
            F.broadcast(latest_ts),
            (F.col("metric_name") == F.col("__mname"))
            & (F.col("created_at") == F.col("__max_ts")),
        )
        .select("metric_name", "value", "created_at")
    )


def latest_per_metric(metrics: DataFrame) -> DataFrame:
    """Generalized shape A: latest value for EVERY metric in one pass.

    Uses ``max_by`` (one hash aggregation, map-side partial) instead of a
    window over a global sort — at a 100 TB metrics table this is a single
    shuffle of (metric_name → (value, ts)) pairs, not a per-partition sort.
    """
    return metrics.groupBy("metric_name").agg(
        F.max_by("value", "created_at").alias("value"),
        F.max("created_at").alias("created_at"),
    )


def metric_timeseries(
    spark: SparkSession, metric_name: str, table: str = METRICS_TABLE
) -> DataFrame:
    """Dashboard shape B (churn-model-evaluation.json:479 et al.):
    ``SELECT created_at, value WHERE metric_name=? ORDER BY created_at``.
    """
    return spark.sql(
        f"SELECT created_at, value FROM {table} WHERE metric_name = ? "
        "ORDER BY created_at",
        args=[metric_name],
    )


_IDENTIFIER = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def grant_select_ddl(table: str = METRICS_TABLE, principal: str = "grafana") -> str:
    """The dashboard-reader grant (SURVEY §2.E `grant_select_ddl`;
    churn_prediction_pipeline.py:782-810): ``GRANT SELECT ON TABLE t TO
    user`` as a DDL string for whatever catalog fronts the metrics store
    (Hive/Unity/a JDBC warehouse — OSS Spark's default in-memory catalog
    has no ACLs, so generation and execution are deliberately separate).

    Unlike the reference's f-string interpolation, identifiers are
    validated so a principal name can never smuggle extra SQL."""
    for ident in (table, principal):
        if not _IDENTIFIER.match(ident):
            raise ValueError(f"invalid SQL identifier: {ident!r}")
    return f"GRANT SELECT ON TABLE {table} TO {principal};"


def grant_select(
    spark: SparkSession, table: str = METRICS_TABLE, principal: str = "grafana"
) -> str:
    """Execute the grant against the session catalog (rolls the
    reference's session.execute+commit into one call — Spark DDL is
    auto-committed). Raises on catalogs without GRANT support instead of
    silently skipping, mirroring the reference's RuntimeError path."""
    from pyspark.errors import ParseException

    ddl = grant_select_ddl(table, principal)
    try:
        spark.sql(ddl.rstrip(";"))
    except ParseException as e:
        # only a parser rejection means "this catalog has no GRANT" —
        # real errors from ACL-capable catalogs (missing table,
        # insufficient privilege) propagate untouched.
        raise RuntimeError(
            f"catalog rejected {ddl!r} (OSS Spark's built-in catalog has "
            "no ACL support; use a Hive/Unity/JDBC-backed catalog)"
        ) from e
    return ddl
