"""Query registry: the SURVEY §2 operator inventory exercised on the
driver's TPC-H-ish testdata, each with a DuckDB oracle (FIXTURES.md F7
mapping: events → drift/scoring inputs, lineitem wide aggregates →
metrics reshaping, events(ts) → metrics-store SQL shapes).

Determinism rules for oracle parity:
- identical expression trees on both sides → no rounding needed (IEEE ops
  are deterministic; parquet values are read bit-identically);
- accumulation-order-dependent float aggregates (sum/avg/stddev of
  doubles) and libm-dependent fns (exp) → round on BOTH sides, coarse
  enough that engine-order noise can't cross a rounding boundary;
- every computed column aliased identically on both sides (the driver
  hashes by sorted column name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.stats import ks_pvalue_sql
from ..operators import eda, quality
from ..operators.drift import drifted_columns_count, ks_2samp, value_drift
from ..operators.metrics import (
    latest_per_metric,
    metrics_unpivot,
    simplify_metric_name_expr,
)
from ..operators.prep import (
    cast_features_double,
    clean_column_names,
    derive_output_key,
    feature_projection,
    proba_threshold,
)
from ..sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def drain_stream(q, timeout_sec: int = 300) -> None:
    """Block until an availableNow drain finishes; RAISE on timeout
    instead of letting the caller read a partially-filled memory sink —
    a partial drain produces a well-formed but wrong result that would
    surface downstream as a phantom cross-engine parity bug (r8
    review)."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {timeout_sec}s"
        )


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# §2.B — projection / filter / prep
# ---------------------------------------------------------------------------

_FEATURE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "feature_projection",
    "SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem",
)
def q_feature_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_model_training.py:79 — fixed projection; Catalyst prunes the
    # scan to exactly these columns (ReadSchema in explain).
    return feature_projection(_t(spark, sf_dir, "lineitem"), _FEATURE_COLS)


@register(
    "cast_features_double",
    "SELECT CAST(l_linenumber AS DOUBLE) AS l_linenumber, "
    "CAST(l_quantity AS DOUBLE) AS l_quantity FROM lineitem",
)
def q_cast_features_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_linenumber", "l_quantity")
    return cast_features_double(li)


@register(
    "target_extract_cast",
    "SELECT CAST(value > 50 AS INT) AS churn FROM events",
)
def q_target_extract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_model_training.py:76-78 — label pop + int cast, on the events
    # table (value>50 as the synthetic label).
    ev = _t(spark, sf_dir, "events")
    labeled = ev.select((F.col("value") > 50).alias("churn"))
    return labeled.select(F.col("churn").cast("int").alias("churn"))


@register(
    "clean_column_names",
    "SELECT l_orderkey AS l_order_key, l_quantity AS qty_val FROM lineitem",
)
def q_clean_column_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_model_training.py:87-99 — messy headers → snake_case.
    messy = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("L Order  Key"),
        F.col("l_quantity").alias("Qty  Val"),
    )
    return clean_column_names(messy)


@register(
    "proba_threshold",
    "SELECT event_id, CASE WHEN value / 100.0 >= 0.35 THEN 1 ELSE 0 END AS "
    "churn_prediction FROM events",
)
def q_proba_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_model_training.py:266-269 — binarize P at tuned threshold.
    ev = _t(spark, sf_dir, "events").select(
        "event_id", (F.col("value") / F.lit(100.0)).alias("proba")
    )
    return proba_threshold(ev, "proba", 0.35).select("event_id", "churn_prediction")


_SCORED_SPARK = None  # built per-call below


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic scored batch on events: actual = value>50, predicted =
    value + (user_id % 7) > 50 — a deterministic imperfect classifier."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.col("value") > 50).cast("int").alias("churn"),
        ((F.col("value") + F.col("user_id") % 7) > 50)
        .cast("int")
        .alias("churn_prediction"),
    )


_SCORED_SQL = (
    "SELECT event_id, CAST(value > 50 AS INT) AS churn, "
    "CAST(value + (user_id % 7) > 50 AS INT) AS churn_prediction FROM events"
)


@register("append_prediction_cols", _SCORED_SQL)
def q_append_prediction_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_prediction_pipeline.py:233-235.
    return _scored(spark, sf_dir)


@register(
    "derive_output_key",
    "SELECT doc_id, concat(regexp_replace(regexp_extract("
    "concat('data/input/doc_', CAST(doc_id AS VARCHAR), '.csv'), '([^/]+)$', 1), "
    "'\\.csv$', ''), '_predictions_ChurnModel_v3.csv') AS output_key FROM documents",
)
def q_derive_output_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_prediction_pipeline.py:238-246 — output filename composition.
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("data/input/doc_"), F.col("doc_id").cast("string"), F.lit(".csv")
        ).alias("input_key"),
    )
    return docs.select(
        "doc_id",
        derive_output_key(F.col("input_key"), "ChurnModel", 3).alias("output_key"),
    )


# ---------------------------------------------------------------------------
# §2.D — quality + drift statistics
# ---------------------------------------------------------------------------

_CM_SQL = f"""
WITH scored AS ({_SCORED_SQL}),
cm AS (
  SELECT
    CAST(SUM(CASE WHEN churn = 1 AND churn_prediction = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
    CAST(SUM(CASE WHEN churn <> 1 AND churn_prediction = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
    CAST(SUM(CASE WHEN churn = 1 AND churn_prediction <> 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fn,
    CAST(SUM(CASE WHEN churn <> 1 AND churn_prediction <> 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tn,
    CAST(COUNT(*) AS DOUBLE) AS n
  FROM scored
)
"""


@register(
    "classification_scores",
    _CM_SQL
    + """,
s AS (
  SELECT (tp + tn) / n AS accuracy,
         CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS prec,
         CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS rec
  FROM cm
),
s2 AS (
  SELECT accuracy, prec, rec,
         CASE WHEN prec + rec = 0 THEN 0.0
              ELSE 2.0 * prec * rec / (prec + rec) END AS f1
  FROM s
)
SELECT 'accuracy' AS metric_name, accuracy AS value FROM s2
UNION ALL SELECT 'precision', prec FROM s2
UNION ALL SELECT 'recall', rec FROM s2
UNION ALL SELECT 'f1score', f1 FROM s2
""",
)
def q_classification_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Evidently ClassificationPreset consumption,
    # churn_prediction_pipeline.py:452-457 — one conditional-agg pass.
    return quality.classification_scores(_scored(spark, sf_dir))


@register(
    "per_label_scores",
    _CM_SQL
    + """,
s AS (
  SELECT
    CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS p1,
    CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS r1,
    CASE WHEN tn + fn = 0 THEN 0.0 ELSE tn / (tn + fn) END AS p0,
    CASE WHEN tn + fp = 0 THEN 0.0 ELSE tn / (tn + fp) END AS r0
  FROM cm
),
s2 AS (
  SELECT p1, r1, p0, r0,
         CASE WHEN p1 + r1 = 0 THEN 0.0 ELSE 2.0 * p1 * r1 / (p1 + r1) END AS f1_1,
         CASE WHEN p0 + r0 = 0 THEN 0.0 ELSE 2.0 * p0 * r0 / (p0 + r0) END AS f1_0
  FROM s
)
SELECT 'precisionbylabel_1' AS metric_name, p1 AS value FROM s2
UNION ALL SELECT 'recallbylabel_1', r1 FROM s2
UNION ALL SELECT 'f1bylabel_1', f1_1 FROM s2
UNION ALL SELECT 'precisionbylabel_0', p0 FROM s2
UNION ALL SELECT 'recallbylabel_0', r0 FROM s2
UNION ALL SELECT 'f1bylabel_0', f1_0 FROM s2
""",
)
def q_per_label_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dict-valued metric flattening, churn_prediction_pipeline.py:513-523.
    return quality.per_label_scores(_scored(spark, sf_dir))


# Drift scenario: reference = all events; current = 'view' events with the
# value column scaled 1.25x (drifted) and user_id untouched (not drifted).
_DRIFT_REF_SQL = "SELECT value, CAST(user_id AS DOUBLE) AS user_id FROM events"
_DRIFT_CUR_SQL = (
    "SELECT value * 1.25 AS value, CAST(user_id AS DOUBLE) AS user_id "
    "FROM events WHERE event_type = 'view'"
)


def _drift_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = _t(spark, sf_dir, "events")
    ref = ev.select("value", F.col("user_id").cast("double").alias("user_id"))
    cur = ev.where(F.col("event_type") == "view").select(
        (F.col("value") * F.lit(1.25)).alias("value"),
        F.col("user_id").cast("double").alias("user_id"),
    )
    return ref, cur


def _ks_sql_block(col: str, suffix: str) -> str:
    """CTE chain computing tie-aware two-sample KS for one column.
    Default window frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW) groups
    ties — same ECDF semantics as the Spark implementation."""
    return f"""
pooled_{suffix} AS (
  SELECT {col} AS v, 1 AS is_ref, 0 AS is_cur FROM ref WHERE {col} IS NOT NULL
  UNION ALL
  SELECT {col}, 0, 1 FROM cur WHERE {col} IS NOT NULL
),
cums_{suffix} AS (
  SELECT SUM(is_ref) OVER (ORDER BY v) AS cr,
         SUM(is_cur) OVER (ORDER BY v) AS cc,
         SUM(is_ref) OVER () AS nr,
         SUM(is_cur) OVER () AS nc
  FROM pooled_{suffix}
),
stat_{suffix} AS (
  SELECT MAX(ABS(CAST(cr AS DOUBLE) / nr - CAST(cc AS DOUBLE) / nc)) AS ks_stat,
         MAX(nr) AS n_ref, MAX(nc) AS n_cur
  FROM cums_{suffix}
)"""


_VALUE_DRIFT_SQL = (
    f"WITH ref AS ({_DRIFT_REF_SQL}), cur AS ({_DRIFT_CUR_SQL}),"
    + _ks_sql_block("value", "v")
    + ","
    + _ks_sql_block("user_id", "u")
    + f"""
SELECT 'value' AS column_name, ks_stat,
       round({ks_pvalue_sql('ks_stat', 'n_ref', 'n_cur')}, 6) AS p_value
FROM stat_v
UNION ALL
SELECT 'user_id', ks_stat,
       round({ks_pvalue_sql('ks_stat', 'n_ref', 'n_cur')}, 6) AS p_value
FROM stat_u
"""
)


@register("value_drift", _VALUE_DRIFT_SQL)
def q_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The analytical core: per-column two-sample KS (SURVEY §2.D
    # value_drift_ks; Evidently preset at churn_prediction_pipeline.py:322).
    # p-value rounded on both sides (exp() is libm-dependent).
    ref, cur = _drift_inputs(spark, sf_dir)
    return value_drift(ref, cur, ["value", "user_id"]).select(
        F.col("column").alias("column_name"),
        "ks_stat",
        F.round(F.col("p_value"), 6).alias("p_value"),
    )


@register("value_drift_scalable", _VALUE_DRIFT_SQL)
def q_value_drift_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same semantics/oracle as value_drift, and now the same route: the
    # per-column window that value_drift runs (kept under this name for
    # bench.py's headline and slope queries).
    ref, cur = _drift_inputs(spark, sf_dir)
    drift = value_drift(ref, cur, ["value", "user_id"])
    return drift.select(
        F.col("column").alias("column_name"),
        "ks_stat",
        F.round(F.col("p_value"), 6).alias("p_value"),
    )


@register(
    "value_drift_ks",
    f"WITH ref AS ({_DRIFT_REF_SQL}), cur AS ({_DRIFT_CUR_SQL}),"
    + _ks_sql_block("value", "v")
    + """
SELECT ks_stat, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur
FROM stat_v
""",
)
def q_value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-column KS: the one-column value_drift.
    ref, cur = _drift_inputs(spark, sf_dir)
    return ks_2samp(ref, cur, "value").select(
        "ks_stat", F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
    )


_DRIFT_WINDOW_SQL = (
    f"WITH ref AS ({_DRIFT_REF_SQL}), "
    "cur AS (SELECT date_trunc('week', ts) AS window_start, "
    "value * 1.25 AS value, CAST(user_id AS DOUBLE) AS user_id "
    "FROM events WHERE event_type = 'view'), "
    "wins AS (SELECT DISTINCT window_start FROM cur), "
    "pooled AS ("
    "  SELECT w.window_start, 'value' AS col, r.value AS v, 1 AS is_ref, 0 AS is_cur"
    "  FROM ref r CROSS JOIN wins w WHERE r.value IS NOT NULL"
    "  UNION ALL"
    "  SELECT window_start, 'value', value, 0, 1 FROM cur WHERE value IS NOT NULL"
    "  UNION ALL"
    "  SELECT w.window_start, 'user_id', r.user_id, 1, 0"
    "  FROM ref r CROSS JOIN wins w WHERE r.user_id IS NOT NULL"
    "  UNION ALL"
    "  SELECT window_start, 'user_id', user_id, 0, 1 FROM cur WHERE user_id IS NOT NULL"
    "), "
    "cums AS ("
    "  SELECT window_start, col,"
    "    SUM(is_ref) OVER (PARTITION BY window_start, col ORDER BY v) AS cr,"
    "    SUM(is_cur) OVER (PARTITION BY window_start, col ORDER BY v) AS cc,"
    "    SUM(is_ref) OVER (PARTITION BY window_start, col) AS nr,"
    "    SUM(is_cur) OVER (PARTITION BY window_start, col) AS nc"
    "  FROM pooled"
    "), "
    "stat AS ("
    "  SELECT window_start, col AS column_name,"
    "    MAX(ABS(CAST(cr AS DOUBLE) / nr - CAST(cc AS DOUBLE) / nc)) AS ks_stat,"
    "    MAX(nr) AS n_ref, MAX(nc) AS n_cur"
    "  FROM cums GROUP BY window_start, col"
    ") "
    "SELECT CAST(window_start AS DATE) AS window_start, column_name, ks_stat, "
    f"round({ks_pvalue_sql('ks_stat', 'n_ref', 'n_cur')}, 6) AS p_value "
    "FROM stat"
)


@register("value_drift_by_window", _DRIFT_WINDOW_SQL)
def q_value_drift_by_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The dashboard's drift timeseries as ONE lazy plan: weekly windows
    # of the drifted 'view' slice, each KS-compared against the full
    # reference (operators/drift.py:value_drift_by_window). Every
    # (window, column) pair is its own ECDF partition — more parallelism
    # than single-batch drift, no serial stage.
    from ..operators.drift import value_drift_by_window

    ev = _t(spark, sf_dir, "events")
    ref = ev.select("value", F.col("user_id").cast("double").alias("user_id"))
    cur = ev.where(F.col("event_type") == "view").select(
        "ts",
        (F.col("value") * F.lit(1.25)).alias("value"),
        F.col("user_id").cast("double").alias("user_id"),
    )
    out = value_drift_by_window(
        ref, cur, ["value", "user_id"], ts_col="ts", unit="week"
    )
    return out.select(
        # DuckDB's date_trunc('week') is DATE-typed; align the key type
        F.col("window_start").cast("date").alias("window_start"),
        F.col("column").alias("column_name"),
        "ks_stat",
        F.round(F.col("p_value"), 6).alias("p_value"),
    )


@register(
    "drifted_columns_count",
    f"WITH ref AS ({_DRIFT_REF_SQL}), cur AS ({_DRIFT_CUR_SQL}),"
    + _ks_sql_block("value", "v")
    + ","
    + _ks_sql_block("user_id", "u")
    + f""",
drift AS (
  SELECT {ks_pvalue_sql('ks_stat', 'n_ref', 'n_cur')} AS p_value FROM stat_v
  UNION ALL
  SELECT {ks_pvalue_sql('ks_stat', 'n_ref', 'n_cur')} FROM stat_u
),
agg AS (
  SELECT CAST(SUM(CASE WHEN p_value < 0.05 THEN 1 ELSE 0 END) AS DOUBLE) AS cnt,
         CAST(COUNT(*) AS DOUBLE) AS n_cols
  FROM drift
)
SELECT 'driftedcolumnscount[count]' AS metric_name, cnt AS value FROM agg
UNION ALL
SELECT 'driftedcolumnscount[share]', cnt / n_cols FROM agg
""",
)
def q_drifted_columns_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_prediction_pipeline.py:412-416 — count + share over per-column
    # drift flags (threshold far from computed p-values → rounding-safe).
    ref, cur = _drift_inputs(spark, sf_dir)
    return drifted_columns_count(value_drift(ref, cur, ["value", "user_id"]))


# ---------------------------------------------------------------------------
# §2.E — metric reshaping + metrics-store SQL shapes
# ---------------------------------------------------------------------------


@register(
    "metrics_unpivot",
    """
WITH wide AS (
  SELECT round(SUM(l_quantity), 2) AS sum_qty,
         round(SUM(l_extendedprice), 2) AS sum_base_price,
         round(AVG(l_discount), 6) AS avg_disc,
         CAST(COUNT(*) AS DOUBLE) AS count_order
  FROM lineitem
)
SELECT 'sum_qty' AS metric_name, sum_qty AS value FROM wide
UNION ALL SELECT 'sum_base_price', sum_base_price FROM wide
UNION ALL SELECT 'avg_disc', avg_disc FROM wide
UNION ALL SELECT 'count_order', count_order FROM wide
""",
)
def q_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_prediction_pipeline.py:488-530 — wide report → long rows.
    # Sums of doubles are accumulation-order-dependent → rounded both sides.
    li = _t(spark, sf_dir, "lineitem")
    wide = li.agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).cast("double").alias("count_order"),
    )
    return metrics_unpivot(wide)


@register(
    "simplify_metric_name",
    """
SELECT metric_id,
       CASE WHEN regexp_extract(metric_id, 'column=([A-Za-z0-9_]+)', 1) = ''
            THEN lower(regexp_extract(metric_id, '^([A-Za-z0-9_]+)', 1))
            ELSE concat(lower(regexp_extract(metric_id, '^([A-Za-z0-9_]+)', 1)),
                        '_',
                        lower(regexp_extract(metric_id, 'column=([A-Za-z0-9_]+)', 1)))
       END AS metric_name
FROM (
  SELECT DISTINCT concat('ValueDrift(column=', event_type, ')') AS metric_id
  FROM events
  UNION ALL
  SELECT DISTINCT concat('F1Score(conf_matrix=True)') FROM events
)
""",
)
def q_simplify_metric_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn_prediction_pipeline.py:533-553.
    ev = _t(spark, sf_dir, "events")
    ids = (
        ev.select(
            F.concat(
                F.lit("ValueDrift(column="), F.col("event_type"), F.lit(")")
            ).alias("metric_id")
        )
        .distinct()
        .unionAll(
            ev.select(F.lit("F1Score(conf_matrix=True)").alias("metric_id")).distinct()
        )
    )
    return ids.select(
        "metric_id", simplify_metric_name_expr(F.col("metric_id")).alias("metric_name")
    )


# The events table doubles as a metrics store: metric_name = event_type,
# value = value, created_at = ts (FIXTURES.md F7).
_METRICS_VIEW_SQL = (
    "SELECT event_type AS metric_name, value, ts AS created_at FROM events"
)


def _metrics_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("metric_name"),
        "value",
        F.col("ts").alias("created_at"),
    )


@register(
    "latest_metric_value",
    f"WITH m AS ({_METRICS_VIEW_SQL}) "
    "SELECT value FROM m WHERE metric_name = 'click' "
    "ORDER BY created_at DESC LIMIT 1",
)
def q_latest_metric_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dashboard shape A (churn-model-evaluation.json:110). Catalyst plans
    # TakeOrderedAndProject — no full sort.
    m = _metrics_view(spark, sf_dir)
    m.createOrReplaceTempView("drift_metrics")
    return spark.sql(
        "SELECT value FROM drift_metrics WHERE metric_name = 'click' "
        "ORDER BY created_at DESC LIMIT 1"
    )


@register(
    "latest_per_metric",
    f"WITH m AS ({_METRICS_VIEW_SQL}) "
    "SELECT metric_name, arg_max(value, created_at) AS value, "
    "max(created_at) AS created_at FROM m GROUP BY metric_name",
)
def q_latest_per_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Generalized shape A at scale: max_by aggregation instead of a window
    # over a global sort (one map-side-combinable shuffle).
    return latest_per_metric(_metrics_view(spark, sf_dir))


@register(
    "latest_per_metric_scalable",
    f"WITH m AS ({_METRICS_VIEW_SQL}) "
    "SELECT metric_name, arg_max(value, created_at) AS value, "
    "max(created_at) AS created_at FROM m GROUP BY metric_name",
)
def q_latest_per_metric_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SURVEY §4's max-timestamp semi-join rewrite: tiny max-ts aggregate
    # broadcast back — same oracle as latest_per_metric.
    from ..operators.metrics import latest_per_metric_scalable

    return latest_per_metric_scalable(_metrics_view(spark, sf_dir))


@register(
    "latest_metric_value_scalable",
    f"WITH m AS ({_METRICS_VIEW_SQL}) "
    "SELECT value FROM m WHERE metric_name = 'click' AND created_at = "
    "(SELECT max(created_at) FROM m WHERE metric_name = 'click')",
)
def q_latest_metric_value_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-metric shape A via the max-timestamp semi-join rewrite —
    # tie-safe twin of latest_metric_value's ORDER BY ... LIMIT 1 (on a
    # unique max timestamp the two are identical; on ties this keeps all
    # tied rows on BOTH sides, so the hashes still match). No ordering
    # operator in the plan (asserted by tests/test_metrics.py).
    from ..operators.metrics import latest_metric_value_scalable

    return latest_metric_value_scalable(_metrics_view(spark, sf_dir), "click")


@register(
    "metric_timeseries",
    f"WITH m AS ({_METRICS_VIEW_SQL}) "
    "SELECT created_at, value FROM m WHERE metric_name = 'click' "
    "ORDER BY created_at",
)
def q_metric_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dashboard shape B (churn-model-evaluation.json:479 …).
    m = _metrics_view(spark, sf_dir)
    m.createOrReplaceTempView("drift_metrics")
    return spark.sql(
        "SELECT created_at, value FROM drift_metrics "
        "WHERE metric_name = 'click' ORDER BY created_at"
    )


# ---------------------------------------------------------------------------
# §2.F — EDA
# ---------------------------------------------------------------------------


@register(
    "describe_stats",
    """
WITH s AS (
  SELECT CAST(COUNT(l_quantity) AS DOUBLE) AS cnt,
         round(AVG(l_quantity), 6) AS mean,
         round(STDDEV_SAMP(l_quantity), 6) AS std,
         CAST(MIN(l_quantity) AS DOUBLE) AS mn,
         round(quantile_cont(l_quantity, 0.25), 6) AS q1,
         round(quantile_cont(l_quantity, 0.5), 6) AS median,
         round(quantile_cont(l_quantity, 0.75), 6) AS q3,
         CAST(MAX(l_quantity) AS DOUBLE) AS mx
  FROM lineitem
)
SELECT 'l_quantity' AS column, cnt AS count, mean, std, mn AS min,
       q1, median, q3, mx AS max
FROM s
""",
)
def q_describe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Notebook cell 2 (df.describe()) — exact percentile() matches
    # DuckDB's quantile_cont; mean/std rounded (order-dependent sums).
    li = _t(spark, sf_dir, "lineitem")
    out = eda.describe_stats(li, ["l_quantity"])
    return out.select(
        "column",
        "count",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        "min",
        F.round("q1", 6).alias("q1"),
        F.round("median", 6).alias("median"),
        F.round("q3", 6).alias("q3"),
        "max",
    )


@register(
    "null_count_per_column",
    """
SELECT 'value' AS column, CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count FROM events
UNION ALL
SELECT 'props', CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
""",
)
def q_null_count_per_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Notebook cell 6.
    ev = _t(spark, sf_dir, "events")
    return eda.null_count_per_column(ev, ["value", "props"])


@register(
    "duplicate_row_count",
    "SELECT CAST(COUNT(*) - COUNT(DISTINCT (l_returnflag, l_linestatus, l_quantity)) "
    "AS BIGINT) AS duplicate_rows FROM lineitem",
)
def q_duplicate_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Notebook cell 7 — one aggregation, no self-join.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    return eda.duplicate_row_count(li)


@register(
    "grouped_describe",
    """
SELECT l_returnflag,
       CAST(COUNT(l_quantity) AS DOUBLE) AS count,
       round(AVG(l_quantity), 6) AS mean,
       round(STDDEV_SAMP(l_quantity), 6) AS std,
       CAST(MIN(l_quantity) AS DOUBLE) AS min,
       round(quantile_cont(l_quantity, 0.25), 6) AS q1,
       round(quantile_cont(l_quantity, 0.5), 6) AS median,
       round(quantile_cont(l_quantity, 0.75), 6) AS q3,
       CAST(MAX(l_quantity) AS DOUBLE) AS max
FROM lineitem GROUP BY l_returnflag
""",
)
def q_grouped_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Notebook cell 11 — per-class distribution stats.
    li = _t(spark, sf_dir, "lineitem")
    out = eda.grouped_describe(li, "l_returnflag", "l_quantity")
    return out.select(
        "l_returnflag",
        F.col("count").cast("double").alias("count"),
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        "min",
        F.round("q1", 6).alias("q1"),
        F.round("median", 6).alias("median"),
        F.round("q3", 6).alias("q3"),
        "max",
    )


@register(
    "histogram_bins",
    """
SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
       FLOOR(value / 25.0) * 25.0 AS bin_start,
       COUNT(*) AS bin_count
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
""",
)
def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Notebook cells 8-10 — fixed-width binned counts.
    return eda.histogram_bins(_t(spark, sf_dir, "events"), "value", 25.0)


@register(
    "histogram_bins_by_label",
    """
SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
       FLOOR(value / 25.0) * 25.0 AS bin_start,
       event_type AS label,
       COUNT(*) AS bin_count
FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2, 3
""",
)
def q_histogram_bins_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Notebook cells 8-10 with hue="Churn" — binned counts per label in
    # the same single hash aggregation.
    return eda.histogram_bins_by_label(
        _t(spark, sf_dir, "events"), "value", 25.0, "event_type"
    )
