"""Drift statistics — the reference's analytical core (SURVEY §2.D).

The reference delegates to Evidently's ``DataDriftPreset``
(churn_prediction_pipeline.py:322); every downstream consumer treats the
per-column drift value as a two-sample KS p-value with a 0.05 cutoff
(churn_prediction_pipeline.py:419; dashboard threshold
churn-model-evaluation.json:1170). We implement KS-with-p-value natively:

  KS statistic = max over x of |ECDF_ref(x) - ECDF_cur(x)|

as a pure DataFrame aggregation: melt both samples to long
``(keys…, v)`` rows, tie pre-aggregate to one row per distinct value
with the reference/current counts (``tie_counts``), take per-key running
counts ordered by value, and finish with the max absolute normalized
difference and its asymptotic p-value. ``value_drift``, ``ks_2samp`` and
``value_drift_by_window`` all run that one kernel (``_ks``).

The running counts come from one window per key, so one column's
distinct values are ordered in one task, which is measured up to 10^7
distinct values (SCALE.md §Drift statistics).

p-values use the asymptotic Kolmogorov series (functions/stats.py) since
scipy is deliberately not a dependency. Unit tests pin values against
scipy computed offline. Deviation from the reference noted in SURVEY §7.4:
Evidently switches to Wasserstein above 1000 rows; we keep KS as *the*
semantic at all sizes (it is what every consumer of the value assumes) and
keep the stat pluggable.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import (
    ks_pvalue_expr,
    partitioned_prefix_sum,
    range_boundaries,
)
from .metrics import metrics_frame

P_VALUE_DRIFT_THRESHOLD = 0.05  # churn_prediction_pipeline.py:419
DATASET_DRIFT_SHARE = 0.5  # churn_prediction_pipeline.py:415
WINDOWED_MAX_DISTINCT = 250_000  # read only by perfbench's traced install


def _pool(
    ref: DataFrame, cur: DataFrame, column: str, numeric: bool = True
) -> DataFrame:
    v = F.col(column).cast("double") if numeric else F.col(column)
    r = ref.select(
        v.alias("v"),
        F.lit(1).alias("is_ref"),
        F.lit(0).alias("is_cur"),
    ).where(F.col("v").isNotNull())
    c = cur.select(
        v.alias("v"),
        F.lit(0).alias("is_ref"),
        F.lit(1).alias("is_cur"),
    ).where(F.col("v").isNotNull())
    return r.unionAll(c)


def _long(df: DataFrame, columns: list[str], *ids: Column) -> DataFrame:
    """Melt ``columns`` (cast to double) to ``(ids…, column, v)`` rows,
    nulls dropped."""
    wide = df.select(*ids, *[F.col(c).cast("double").alias(c) for c in columns])
    return wide.unpivot(wide.columns[: len(ids)], columns, "column", "v").where(
        F.col("v").isNotNull()
    )


def _tie_counts(
    ref_long: DataFrame, cur_long: DataFrame, keys: list[str]
) -> DataFrame:
    """Pool two long frames into one row per (keys…, v) with the
    reference count ``r`` and current count ``c`` at v. Map-side partial
    aggregation shrinks the shuffle to each key's cardinality, and every
    later ordering sees one row per value, so ties need no special case."""

    def tag(df: DataFrame, is_ref: int) -> DataFrame:
        return df.select(
            *keys,
            "v",
            F.lit(is_ref).alias("is_ref"),
            F.lit(1 - is_ref).alias("is_cur"),
        )

    return (
        tag(ref_long, 1)
        .unionAll(tag(cur_long, 0))
        .groupBy(*keys, "v")
        .agg(F.sum("is_ref").alias("r"), F.sum("is_cur").alias("c"))
    )


def _ks(counts: DataFrame, keys: list[str]) -> DataFrame:
    """The KS kernel: tie counts ``(keys…, v, r, c)`` → one row per key
    ``(keys…, ks_stat, p_value, n_ref, n_cur)``.

    Running counts come from a window partitioned by the keys. A key with
    no values on one side has no ECDF there: its ks_stat and p_value are
    null instead of a division-by-zero error.
    """
    w = Window.partitionBy(*keys).orderBy("v")  # 1 row per v → tie-safe
    tot = Window.partitionBy(*keys)
    cums = counts.select(
        *keys,
        F.sum("r").over(w).alias("cum_r"),
        F.sum("c").over(w).alias("cum_c"),
        F.sum("r").over(tot).alias("n_ref"),
        F.sum("c").over(tot).alias("n_cur"),
    )
    n_ref, n_cur = F.col("n_ref"), F.col("n_cur")
    gap = F.abs(F.col("cum_r") / n_ref - F.col("cum_c") / n_cur)
    stat = cums.groupBy(*keys).agg(
        F.max(F.when((n_ref > 0) & (n_cur > 0), gap)).alias("ks_stat"),
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
    )
    d = F.col("ks_stat")
    return stat.select(
        *keys,
        "ks_stat",
        F.when(d.isNotNull(), ks_pvalue_expr(d, n_ref, n_cur)).alias("p_value"),
        "n_ref",
        "n_cur",
    )


def tie_counts(ref: DataFrame, cur: DataFrame, columns: list[str]) -> DataFrame:
    """Tie counts ``(column, v, r, c)`` of every column in one
    aggregation: one row per distinct non-null value, with its reference
    and current counts. Partitioned by column, so the per-column window
    over it shuffles nothing more."""
    keys = ["column"]
    return _tie_counts(_long(ref, columns), _long(cur, columns), keys).repartition(
        *keys
    )


# read only by perfbench's traced install, which wraps this name
def estimate_distinct_counts(counts: DataFrame, columns: list[str]) -> dict[str, int]:
    """Each column's pooled distinct count, off ``tie_counts`` output."""
    found = dict(counts.groupBy("column").count().collect())
    return {c: int(found.get(c, 0)) for c in columns}


def value_drift(ref: DataFrame, cur: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column two-sample KS drift for a set of columns in one lazy
    plan (building it runs no Spark job).

    Returns ``(column string, ks_stat double, p_value double, n_ref
    long, n_cur long)``, one row per input column that has a non-null
    value on either side.
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    return _ks(tie_counts(ref, cur, columns), ["column"])


def ks_2samp(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """Two-sample KS over one column: ``value_drift`` on ``[column]``
    projected to one row ``(ks_stat, p_value, n_ref, n_cur)`` (no row
    when neither side has a non-null value)."""
    return value_drift(ref, cur, [column]).select(
        "ks_stat", "p_value", "n_ref", "n_cur"
    )


def value_drift_by_window(
    ref: DataFrame,
    cur: DataFrame,
    columns: list[str],
    ts_col: str,
    unit: str = "day",
) -> DataFrame:
    """Drift TIMESERIES in one pass: per-column two-sample KS of every
    event-time window of ``cur`` against the (static) reference —
    rows ``(window_start, column, ks_stat, p_value, n_ref, n_cur)``.
    This is the dashboard's drift-over-time panel computed as ONE lazy
    plan over the whole history, instead of re-running per-batch
    ``value_drift`` N times (churn_prediction_pipeline.py:322 ran once
    per pipeline invocation; Grafana then plotted the stored points —
    churn-model-evaluation.json's drift timeseries panels).

    ``unit`` is a ``date_trunc`` unit ('day'/'week'/'month') so the
    window key is reproducible across engines.

    Scale: ``ref`` is a training snapshot — broadcast-sized by platform
    design — so it is replicated once per distinct window via a
    broadcast cross join (n_windows is the dashboard x-axis grain:
    small). The 100 TB side (``cur``) is read ONCE, melted, and tie
    pre-aggregated map-side; each (window, column) pair then forms its
    own window-route ECDF partition — strictly MORE parallelism than
    single-batch drift, with no serial stage. A (window, column) group
    with no current values yields a null ks_stat, never an error.
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    wstart = F.date_trunc(unit, F.col(ts_col)).alias("window_start")
    windows = cur.select(wstart).distinct()
    ref_long = _long(ref, columns).crossJoin(F.broadcast(windows))
    keys = ["window_start", "column"]
    return _ks(_tie_counts(ref_long, _long(cur, columns, wstart), keys), keys)


def wasserstein(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """1-Wasserstein (earth mover's) distance between the two samples —
    Evidently's drift method above 1000 rows (closing the deviation
    documented in SURVEY §7.4; KS remains the default `value_drift`
    semantic because every reference consumer reads a p-value).

    W1 = ∫ |ECDF_ref(v) − ECDF_cur(v)| dv, computed exactly over the
    pooled distinct values: Σ |Δcdf(v)| · (v_next − v). Scalable shape:
    range-bucketed prefix sums (``partitioned_prefix_sum``); the only new
    piece is v_next — a within-bucket ``lead`` whose bucket-boundary
    null is filled from the next bucket's min(v) (a per-bucket frame of
    a few hundred rows, broadcast).
    """
    stepped = _ecdf_steps(ref, cur, column)
    term = (
        F.abs(
            F.col("cum_is_ref") / F.col("tot_is_ref")
            - F.col("cum_is_cur") / F.col("tot_is_cur")
        )
        * (F.col("__v_next") - F.col("v"))
    )
    return stepped.agg(
        F.sum(F.when(F.col("__v_next").isNotNull(), term).otherwise(0.0)).alias(
            "wasserstein"
        )
    )


def _ecdf_steps(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """Shared ECDF step frame for the integral drift statistics
    (wasserstein, energy): one row per pooled distinct value with both
    sides' inclusive prefix sums, totals, and the next distinct value
    ``__v_next`` (null on the global max). Range-bucketed prefix sums
    (``partitioned_prefix_sum``) — no single-reducer window."""
    raw = _pool(ref, cur, column)
    pooled = raw.groupBy("v").agg(
        F.sum("is_ref").alias("is_ref"), F.sum("is_cur").alias("is_cur")
    )
    bounds = range_boundaries(raw, "v")
    cums = partitioned_prefix_sum(
        pooled, "v", ["is_ref", "is_cur"], bounds=bounds, with_totals=True
    )
    bucket: Column = F.lit(0)
    for b in bounds:
        bucket = bucket + (F.col("v") > F.lit(b)).cast("int")
    bucketed = cums.withColumn("__bucket", bucket)
    w_b = Window.partitionBy("__bucket").orderBy("v")
    bucket_mins = bucketed.groupBy("__bucket").agg(F.min("v").alias("__minv"))
    w_next = Window.orderBy("__bucket")  # a few hundred rows — trivial
    next_mins = bucket_mins.select(
        "__bucket", F.lead("__minv").over(w_next).alias("__next_bucket_min")
    )
    return bucketed.join(F.broadcast(next_mins), "__bucket").select(
        "*",
        F.coalesce(
            F.lead("v").over(w_b), F.col("__next_bucket_min")
        ).alias("__v_next"),
    )


def energy_distance(
    ref: DataFrame, cur: DataFrame, column: str
) -> DataFrame:
    """Energy distance between the two samples (Székely & Rizzo;
    Evidently's ``ed`` stat test, scipy.stats.energy_distance):
    E = sqrt(2 · ∫ (ECDF_ref(v) − ECDF_cur(v))² dv) — the same exact
    pooled-distinct-value step integral as ``wasserstein`` with the
    squared difference, so the O(n²) pairwise definition is never
    materialized."""
    stepped = _ecdf_steps(ref, cur, column)
    d = (
        F.col("cum_is_ref") / F.col("tot_is_ref")
        - F.col("cum_is_cur") / F.col("tot_is_cur")
    )
    term = d * d * (F.col("__v_next") - F.col("v"))
    return stepped.agg(
        F.sqrt(
            F.lit(2.0)
            * F.sum(
                F.when(F.col("__v_next").isNotNull(), term).otherwise(0.0)
            )
        ).alias("energy")
    )


def _binned_counts(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """Shared fixed-width binning for the binned drift family: one row
    per bin with both sides' counts (full-outer via conditional sums on
    the pooled frame — a single groupBy, no join). ``bin_width=None``
    (r9) keys by the RAW value — the CATEGORICAL form of the same
    family (Evidently runs chi2/TVD on category frequencies directly),
    valid for string columns too."""
    pooled = _pool(ref, cur, column, numeric=bin_width is not None)
    b = (
        F.col("v")
        if bin_width is None
        else F.floor(F.col("v") / F.lit(bin_width)).cast("long")
    )
    return pooled.groupBy(b.alias("bin")).agg(
        F.sum("is_ref").alias("n_ref"), F.sum("is_cur").alias("n_cur")
    )


def psi(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    bin_width: float | None,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index over fixed-width bins:
    Σ (p_cur - p_ref) * ln(p_cur / p_ref), zero-count bins floored at
    ``epsilon`` (industry convention; < 0.1 stable, > 0.25 shifted).
    One groupBy + one scalar aggregation — same shape at any scale.
    """
    counts = _binned_counts(ref, cur, column, bin_width)
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p_ref = F.greatest(F.col("n_ref") / F.col("t_ref"), F.lit(epsilon))
    p_cur = F.greatest(F.col("n_cur") / F.col("t_cur"), F.lit(epsilon))
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return j.agg(F.sum(term).alias("psi"))


def binned_ref_counts(
    ref: DataFrame, columns: dict[str, float]
) -> DataFrame:
    """Static-reference bin counts ``(column, bin, n_ref)`` for the
    streaming-capable PSI drift panel: ``columns`` maps column name →
    fixed bin width. Computed once per reference snapshot (broadcast-
    sized by platform design) and reused across every window/batch."""
    cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.floor(F.col(c).cast("double") / F.lit(w)).alias("bin"),
            )
            for c, w in columns.items()
        ]
    )
    return (
        ref.select(F.explode(cols).alias("cb"))
        .select("cb.column", "cb.bin")
        .where(F.col("bin").isNotNull())
        .groupBy("column", "bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )


def binned_window_counts(
    cur: DataFrame,
    columns: dict[str, float],
    ts_col: str,
    unit: str = "week",
) -> DataFrame:
    """Per-window current-side bin counts ``(window_start, column, bin,
    n_cur)`` — the ONLY stateful piece of the PSI drift panel, and a
    pure streaming groupBy-count. This is why the streaming panel is
    PSI-based: KS needs the full value multiset per window (ECDF),
    which no mergeable bounded state can carry; binned counts are the
    drift statistic that STREAMS.

    Window key = ``date_trunc(unit, ts)`` — CALENDAR windows, matching
    the batch dashboard and the DuckDB oracle exactly. Caveat (r8
    review): date_trunc does not propagate the event-time watermark
    attribute (only ``F.window``/``session_window`` do), so a streaming
    aggregation on THIS shape runs in complete/update mode with state
    for every window ever seen — fine for a bounded drain
    (``stream_value_drift``) or a dashboard-span history, NOT for an
    unbounded 100 TB stream. For watermark-EVICTED bounded state use
    ``binned_window_counts_append`` (tumbling ``F.window`` keys,
    append-mode capable); same output schema, so ``psi_from_binned``
    finishes either one."""
    cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.floor(F.col(c).cast("double") / F.lit(w)).alias("bin"),
            )
            for c, w in columns.items()
        ]
    )
    return (
        cur.select(
            F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
            F.explode(cols).alias("cb"),
        )
        .select("window_start", "cb.column", "cb.bin")
        .where(F.col("bin").isNotNull())
        .groupBy("window_start", "column", "bin")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )


def binned_window_counts_append(
    cur: DataFrame,
    columns: dict[str, float],
    ts_col: str,
    window_duration: str = "7 days",
) -> DataFrame:
    """``binned_window_counts`` with TUMBLING ``F.window`` keys instead
    of calendar ``date_trunc`` — the shape whose grouping carries the
    event-time watermark, so an APPEND-mode streaming aggregation is
    accepted and state is EVICTED once the watermark passes a window:
    live state = (open windows × columns × bins), bounded regardless of
    stream length — the 100 TB deployment shape (the input must carry
    ``withWatermark(ts_col, ...)``). Output schema matches
    ``binned_window_counts`` (window_start = the tumbling window's
    start), so ``psi_from_binned`` finishes the drained counts
    unchanged. Trade-off vs the calendar variant: epoch-aligned 7-day
    windows, not ISO weeks — use it where bounded state matters more
    than calendar alignment (proven equivalent per-window in
    tests/test_stream_drift.py)."""
    cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.floor(F.col(c).cast("double") / F.lit(w)).alias("bin"),
            )
            for c, w in columns.items()
        ]
    )
    return (
        cur.select(F.col(ts_col), F.explode(cols).alias("cb"))
        .select(ts_col, "cb.column", "cb.bin")
        .where(F.col("bin").isNotNull())
        .groupBy(
            F.window(ts_col, window_duration).alias("w"), "column", "bin"
        )
        .agg(F.count(F.lit(1)).alias("n_cur"))
        .select(
            F.col("w.start").alias("window_start"), "column", "bin", "n_cur"
        )
    )


def psi_from_binned(
    ref_bins: DataFrame,
    cur_bins: DataFrame,
    epsilon: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Finish the PSI drift panel from binned counts: one row
    ``(window_start, column, psi)`` per window × column. Shared verbatim
    by the batch plan and the streaming drain (registry
    ``value_drift_psi_window`` / ``stream_value_drift``), which is what
    makes the drain == batch proof an identity of inputs, not a
    coincidence of two implementations.

    All frames here are bin-count sized (windows × columns × bins) —
    the 100 TB data only ever flows through ``binned_window_counts``.
    The full-outer join keeps ref-only bins (p_cur floored at
    ``epsilon``) and cur-only bins (p_ref floored) alike. Totals are
    clamped with greatest(·, 1e-12) before dividing so a (window,
    column) slice with zero rows stays finite and cross-engine
    identical (0/0 is NULL on Spark but NaN on DuckDB); ln() is libm-
    dependent → the final sum is rounded on both engines."""
    joined, p, q = _window_joined_pq(ref_bins, cur_bins)
    p_ref = F.greatest(p, F.lit(epsilon))
    p_cur = F.greatest(q, F.lit(epsilon))
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        joined.select("window_start", "column", term.alias("term"))
        .groupBy("window_start", "column")
        .agg(F.round(F.sum("term"), round_to).alias("psi"))
    )


def _window_joined_pq(ref_bins: DataFrame, cur_bins: DataFrame):
    """Shared (window_start, column, bin) -> clamped (p, q) scaffolding
    for the windowed-panel finishers — ONE definition so a fix to the
    join or the clamp applies to every statistic (r9 review). The alias
    hop mints fresh attribute ids so base-vs-cur_bins is not a
    self-join on the same plan (memory-sink sources otherwise hit
    "conflicting references" in the full-outer join below)."""
    from pyspark.sql import Window as W

    windows = (
        cur_bins.select(F.col("window_start").alias("__w"))
        .distinct()
        .withColumnRenamed("__w", "window_start")
    )
    base = ref_bins.crossJoin(F.broadcast(windows))
    joined = base.join(
        cur_bins, ["window_start", "column", "bin"], "full_outer"
    ).select(
        "window_start",
        "column",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    w = W.partitionBy("window_start", "column")
    p = F.col("n_ref").cast("double") / F.greatest(
        F.sum("n_ref").over(w).cast("double"), F.lit(1e-12)
    )
    q = F.col("n_cur").cast("double") / F.greatest(
        F.sum("n_cur").over(w).cast("double"), F.lit(1e-12)
    )
    return joined, p, q


def stat_from_binned(
    ref_bins: DataFrame,
    cur_bins: DataFrame,
    method: str = "psi",
    epsilon: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Statistic-selectable finisher for the windowed drift panel (r9):
    any of the BINNED statistics — ``psi`` | ``hellinger`` | ``tvd`` |
    ``js`` — from the same ``(window_start, column, bin, n_*)`` count
    frames ``binned_ref_counts`` / ``binned_window_counts`` /
    ``binned_window_counts_append`` produce, so every one of them
    STREAMS with the identical bounded state (the statistic choice
    costs nothing at the stateful layer — it is pure arithmetic over
    the drained counts). Output ``(window_start, column, <method>)``.
    ``epsilon`` applies to ``psi`` only (hellinger/tvd/js are finite on
    zero bins by construction); totals are clamped at 1e-12 everywhere
    so an empty (window, column) slice stays finite and cross-engine
    identical."""
    if method == "psi":
        return psi_from_binned(ref_bins, cur_bins, epsilon, round_to)
    if method not in ("hellinger", "tvd", "js"):
        raise ValueError(
            f"unknown binned drift method {method!r}; "
            "expected psi|hellinger|tvd|js"
        )
    joined, p, q = _window_joined_pq(ref_bins, cur_bins)
    if method == "hellinger":
        d = F.sqrt(p) - F.sqrt(q)
        term, finish = d * d, lambda s: F.sqrt(F.lit(0.5) * s)
    elif method == "tvd":
        term, finish = F.abs(p - q), lambda s: F.lit(0.5) * s
    else:  # js
        m = (p + q) / F.lit(2.0)
        term = F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
            F.lit(0.0)
        ) + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(
            F.lit(0.0)
        )
        finish = lambda s: s  # noqa: E731
    return (
        joined.select("window_start", "column", term.alias("term"))
        .groupBy("window_start", "column")
        .agg(F.round(finish(F.sum("term")), round_to).alias(method))
    )


def value_drift_psi_by_window(
    ref: DataFrame,
    cur: DataFrame,
    columns: dict[str, float],
    ts_col: str,
    unit: str = "week",
    epsilon: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Drift TIMESERIES with a statistic that also STREAMS: per-column
    PSI of every event-time window of ``cur`` against the static
    reference, ``(window_start, column, psi)``. The windowed-KS panel
    (``value_drift_by_window``) stays the batch dashboard's default;
    this is its streaming-capable sibling — the stateful piece is a
    pure groupBy-count over (window, column, bin) that Structured
    Streaming maintains incrementally with watermark-bounded state,
    and ``psi_from_binned`` finishes from counts alone."""
    return psi_from_binned(
        binned_ref_counts(ref, columns),
        binned_window_counts(cur, columns, ts_col, unit),
        epsilon,
        round_to,
    )


def js_divergence(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """Jensen–Shannon divergence (base e, in [0, ln 2]) between the two
    binned distributions: JS = 0.5 KL(p||m) + 0.5 KL(q||m), m=(p+q)/2.
    Zero-count bins contribute 0 by the 0·log0 = 0 convention."""
    counts = _binned_counts(ref, cur, column, bin_width)
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("n_ref") / F.col("t_ref")
    q = F.col("n_cur") / F.col("t_cur")
    m = (p + q) / F.lit(2.0)
    kl_p = F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    return j.agg((F.lit(0.5) * F.sum(kl_p) + F.lit(0.5) * F.sum(kl_q)).alias("js"))


def chi2_drift(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """Pearson chi-squared homogeneity test over the binned counts
    (Evidently's categorical drift method): the statistic from the
    standard contingency expectation, p-value via the Wilson–Hilferty
    cube-root normal approximation (pure closed form — identical on any
    engine; exact chi2 CDF needs the incomplete gamma, out of scope
    without scipy and documented as approximate here)."""
    return chi2_from_counts(_binned_counts(ref, cur, column, bin_width))


def chi2_from_counts(counts: DataFrame) -> DataFrame:
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.crossJoin(F.broadcast(tot))
    row_tot = F.col("n_ref") + F.col("n_cur")
    grand = F.col("t_ref") + F.col("t_cur")
    e_ref = row_tot * F.col("t_ref") / grand
    e_cur = row_tot * F.col("t_cur") / grand
    term = F.when(
        row_tot > 0,
        F.pow(F.col("n_ref") - e_ref, 2) / e_ref
        + F.pow(F.col("n_cur") - e_cur, 2) / e_cur,
    ).otherwise(F.lit(0.0))
    agg = j.agg(
        F.sum(term).alias("chi2"),
        (F.count(F.lit(1)) - F.lit(1)).cast("double").alias("dof"),
    )
    # Wilson–Hilferty: (X/k)^(1/3) ~ N(1 - 2/(9k), 2/(9k)); upper tail
    # via the complementary error function-free normal approx
    # 0.5 * erfc(z / sqrt(2)) expressed with exp-based logistic-ish
    # closed form is NOT portable — use the standard normal tail bound
    # via erfc available in both engines? Spark lacks erfc; use the
    # Abramowitz-Stegun 7.1.26 erf polynomial (max err 1.5e-7), exact
    # same arithmetic on both sides.
    z = (
        (F.pow(F.col("chi2") / F.col("dof"), 1.0 / 3.0)
         - (1 - 2.0 / (9.0 * F.col("dof"))))
        / F.sqrt(2.0 / (9.0 * F.col("dof")))
    )
    p_upper = F.lit(1.0) - _norm_cdf_expr(z)
    # dof == 0 (all mass in one shared bin): the Wilson–Hilferty z is
    # 0/0 — no distributional evidence either way, report p = 1.0.
    p_guarded = F.when(
        F.col("dof") >= 1,
        F.least(F.greatest(p_upper, F.lit(0.0)), F.lit(1.0)),
    ).otherwise(F.lit(1.0))
    return agg.select(
        "chi2",
        F.col("dof").cast("bigint").alias("dof"),
        p_guarded.alias("p_approx"),
    )


def _counts_with_totals(counts: DataFrame) -> tuple[DataFrame, Column, Column]:
    """Shared finisher input for the binned distances: the counts frame
    crossed with its single-row totals, plus the clamped probability
    expressions (totals floored at 1e-12 per the repo's zero-division
    convention — an empty or all-null side yields a FINITE zero-measure
    statistic, not a NULL a monitoring threshold silently ignores;
    r9 review)."""
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("n_ref").cast("double") / F.greatest(
        F.col("t_ref").cast("double"), F.lit(1e-12)
    )
    q = F.col("n_cur").cast("double") / F.greatest(
        F.col("t_cur").cast("double"), F.lit(1e-12)
    )
    return j, p, q


def hellinger_from_counts(counts: DataFrame) -> DataFrame:
    j, p, q = _counts_with_totals(counts)
    d = F.sqrt(p) - F.sqrt(q)
    return j.agg(F.sqrt(F.lit(0.5) * F.sum(d * d)).alias("hellinger"))


def hellinger(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """Hellinger distance between the two binned distributions
    (Evidently's ``hellinger`` stat test): H = sqrt(0.5 · Σ (sqrt(p) −
    sqrt(q))²) ∈ [0, 1]. Zero-count bins contribute their full
    sqrt-mass difference — no epsilon floor needed (the statistic is
    finite by construction). Same one-groupBy shape as ``psi``."""
    return hellinger_from_counts(_binned_counts(ref, cur, column, bin_width))


def tvd_from_counts(counts: DataFrame) -> DataFrame:
    j, p, q = _counts_with_totals(counts)
    return j.agg((F.lit(0.5) * F.sum(F.abs(p - q))).alias("tvd"))


def tvd(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """Total variation distance between the two binned distributions
    (Evidently's ``TVD`` stat test): 0.5 · Σ |p − q| ∈ [0, 1]."""
    return tvd_from_counts(_binned_counts(ref, cur, column, bin_width))


def mannwhitney_u(
    ref: DataFrame, cur: DataFrame, column: str
) -> DataFrame:
    """Mann–Whitney U rank test (Evidently's ``mannw`` stat test):
    → (u_stat, z, p_approx, n_ref, n_cur). Midranks over the pooled
    distinct values come from the same range-bucketed prefix sums as
    ``wasserstein`` — the tie group at value v spans ranks
    (count below v, count at-or-below v], so its midrank is
    cum_before + (t+1)/2 and R_cur = Σ n_cur(v) · midrank(v) needs no
    per-row ranking. U = R_cur − n_cur(n_cur+1)/2; the p-value is the
    standard tie-corrected asymptotic normal approximation WITHOUT
    continuity correction (documented deviation from scipy's
    use_continuity=True default; exact same closed form on any
    engine). All-tied inputs (zero variance) report p = 1.0."""
    raw = _pool(ref, cur, column)
    pooled = raw.groupBy("v").agg(
        F.sum("is_ref").alias("is_ref"), F.sum("is_cur").alias("is_cur")
    )
    bounds = range_boundaries(raw, "v")
    cums = partitioned_prefix_sum(
        pooled, "v", ["is_ref", "is_cur"], bounds=bounds, with_totals=True
    )
    t_size = F.col("is_ref") + F.col("is_cur")
    cum_before = (
        F.col("cum_is_ref") + F.col("cum_is_cur") - t_size
    ).cast("double")
    midrank = cum_before + (t_size.cast("double") + F.lit(1.0)) / F.lit(2.0)
    # cube in DOUBLE: a >2.09M-row tie group (routine for constant /
    # low-cardinality columns at scale) overflows t³ in BIGINT — wrap
    # under non-ANSI, throw under Spark 4's ANSI default, and diverge
    # from the oracle, which casts before cubing (r9 review)
    td = t_size.cast("double")
    agg = cums.agg(
        F.sum(F.col("is_cur") * midrank).alias("r_cur"),
        F.sum(td * td * td - td).alias("tie_term"),
        F.max("tot_is_ref").alias("n1"),
        F.max("tot_is_cur").alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    n = n1 + n2
    u = F.col("r_cur") - n2 * (n2 + F.lit(1.0)) / F.lit(2.0)
    mean = n1 * n2 / F.lit(2.0)
    var = (
        n1
        * n2
        / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("tie_term") / (n * (n - F.lit(1.0))))
    )
    z = (u - mean) / F.sqrt(var)
    p = F.lit(2.0) * (F.lit(1.0) - _norm_cdf_expr(F.abs(z)))
    guarded = F.when(
        var > 0, F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))
    ).otherwise(F.lit(1.0))
    return agg.select(
        u.alias("u_stat"),
        F.when(var > 0, z).otherwise(F.lit(0.0)).alias("z"),
        guarded.alias("p_approx"),
        F.col("n1").cast("bigint").alias("n_ref"),
        F.col("n2").cast("bigint").alias("n_cur"),
    )


def _norm_cdf_expr(z: Column) -> Column:
    """Standard normal CDF via the Abramowitz–Stegun 7.1.26 erf
    polynomial (|err| < 1.5e-7) — pure closed form, bit-portable."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * F.pow(t, 2)
        + F.lit(1.421413741) * F.pow(t, 3)
        - F.lit(1.453152027) * F.pow(t, 4)
        + F.lit(1.061405429) * F.pow(t, 5)
    )
    erf = F.lit(1.0) - poly * F.exp(-x * x)
    cdf_abs = (F.lit(1.0) + erf) / F.lit(2.0)
    return F.when(z >= 0, cdf_abs).otherwise(F.lit(1.0) - cdf_abs)


AUTO_REF_THRESHOLD = 1000


def drift_statistic(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    method: str = "ks",
    bin_width: float = 10.0,
    auto_threshold: int = AUTO_REF_THRESHOLD,
) -> DataFrame:
    """One entry point for the pluggable drift family (SURVEY §7.4):

    - ``ks``           → (ks_stat, p_value, n_ref, n_cur) — the default
      semantic every reference consumer assumes;
    - ``wasserstein``  → (wasserstein,) — Evidently's >1000-row branch;
    - ``psi``          → (psi,) — binned population stability;
    - ``js``           → (js,) — binned Jensen–Shannon divergence;
    - ``chi2``         → (chi2, dof, p_approx) — binned homogeneity test;
    - ``hellinger``    → (hellinger,) — binned Hellinger distance (r9);
    - ``tvd``          → (tvd,) — binned total variation distance (r9);
    - ``energy``       → (energy,) — exact ECDF energy distance (r9);
    - ``mannw``        → (u_stat, z, p_approx, n_ref, n_cur) —
      Mann–Whitney U rank test, tie-corrected asymptotic p (r9);
    - ``auto``         → (method, drift_score) — Evidently's numerical
      preset branch (the rule the reference's report actually executes,
      churn_prediction_pipeline.py:322): two-sample KS while the
      reference column has ≤ ``auto_threshold`` non-null rows,
      Wasserstein above. The chosen branch rides along as a ``method``
      column so consumers know which statistic they are reading; the
      score is rounded at 6 on both engines (the branches' own
      conventions). Deviation kept from SURVEY §7.4: the Wasserstein is
      raw (not std-normalized as Evidently's wd_norm) — consistent with
      the ``wasserstein`` method itself. The branch decision is ONE
      driver count on the reference snapshot (broadcast-sized by
      platform design), the standard iterative-algorithm scalar, not a
      per-row collect.

    Binned methods take ``bin_width``; distribution methods ignore it.
    """
    if method == "auto":
        n_ref = ref.where(F.col(column).isNotNull()).count()
        chosen = "ks" if n_ref <= auto_threshold else "wasserstein"
        stat = drift_statistic(ref, cur, column, chosen, bin_width)
        score = F.col("ks_stat") if chosen == "ks" else F.col("wasserstein")
        return stat.select(
            F.lit(chosen).alias("method"),
            F.round(score, 6).alias("drift_score"),
        )
    if method == "ks":
        return ks_2samp(ref, cur, column)
    if method == "wasserstein":
        return wasserstein(ref, cur, column)
    if method == "psi":
        return psi(ref, cur, column, bin_width)
    if method == "js":
        return js_divergence(ref, cur, column, bin_width)
    if method == "chi2":
        return chi2_drift(ref, cur, column, bin_width)
    if method == "hellinger":
        return hellinger(ref, cur, column, bin_width)
    if method == "tvd":
        return tvd(ref, cur, column, bin_width)
    if method == "energy":
        return energy_distance(ref, cur, column)
    if method == "mannw":
        return mannwhitney_u(ref, cur, column)
    raise ValueError(
        f"unknown drift method {method!r}; "
        "expected auto|ks|wasserstein|psi|js|chi2|hellinger|tvd|energy|mannw"
    )


def drifted_columns_count_rows(
    p_values: list[float | None], p_threshold: float = P_VALUE_DRIFT_THRESHOLD
) -> list[tuple[str, float | None]]:
    """The two dataset-level metrics the reference consumes
    (churn_prediction_pipeline.py:412-416), ``driftedcolumnscount[count]``
    and ``driftedcolumnscount[share]``, over per-column p-values. As in
    SQL, a null p-value is never drifted but counts toward the share's
    denominator, and with no non-null p-value both values are null."""
    flags = [p < p_threshold for p in p_values if p is not None]
    count = float(sum(flags)) if flags else None
    share = None if count is None else count / len(p_values)
    return [
        ("driftedcolumnscount[count]", count),
        ("driftedcolumnscount[share]", share),
    ]


def drifted_columns_count(
    drift: DataFrame, p_threshold: float = P_VALUE_DRIFT_THRESHOLD
) -> DataFrame:
    """``drifted_columns_count_rows`` over the output of ``value_drift``
    (one row per column, collected), as ``(metric_name, value)`` rows."""
    p_values = [r[0] for r in drift.select("p_value").collect()]
    rows = drifted_columns_count_rows(p_values, p_threshold)
    return metrics_frame(drift.sparkSession, rows)


def assess_data_drift_df(
    drift: DataFrame,
    share_threshold: float = DATASET_DRIFT_SHARE,
    p_threshold: float = P_VALUE_DRIFT_THRESHOLD,
) -> DataFrame:
    """Dataset-drift predicate as ONE aggregation row — the distributed
    form of ``assess_data_drift`` (churn_prediction_pipeline.py:395-431):
    ``(dataset_drift boolean, n_drifted bigint, drifted_columns string)``.

    Input is ``value_drift`` output (one row per column). No collect —
    the predicate itself is a Catalyst aggregate, so it composes into a
    larger plan (e.g. evaluated per monitoring micro-batch at scale).
    """
    flag = (F.col("p_value") < F.lit(p_threshold)).cast("int")
    agg = drift.agg(
        F.sum(flag).alias("n_drifted"),
        F.count(F.lit(1)).alias("n_cols"),
        F.sort_array(
            F.collect_list(F.when(F.col("p_value") < p_threshold, F.col("column")))
        ).alias("cols"),
    )
    return agg.select(
        (F.col("n_drifted") / F.col("n_cols") > F.lit(share_threshold)).alias(
            "dataset_drift"
        ),
        F.col("n_drifted").cast("bigint").alias("n_drifted"),
        F.concat_ws(",", "cols").alias("drifted_columns"),
    )


def assess_prediction_scores_df(
    scores: DataFrame, score_threshold: float = 0.70
) -> DataFrame:
    """Failing-score rows ``(metric_name, value)`` — the distributed form
    of ``assess_prediction_scores`` (churn_prediction_pipeline.py:434-485;
    threshold default 0.70 per :435,:879). Input: long metrics rows."""
    return scores.where(
        F.col("metric_name").isin("f1score", "precision", "recall", "accuracy")
        & (F.col("value") < F.lit(score_threshold))
    ).select("metric_name", "value")


def assess_data_drift(
    metrics: Iterable[tuple[str, float | None]],
    share_threshold: float = DATASET_DRIFT_SHARE,
) -> tuple[bool, int, list[str]]:
    """Predicate over collected ``(metric_name, value)`` rows: (dataset
    drifted?, n drifted columns, drifted column names) —
    churn_prediction_pipeline.py:395-431. A null value never counts as
    drifted, as in SQL.
    """
    values = dict(metrics)
    share = values.get("driftedcolumnscount[share]") or 0.0
    count = values.get("driftedcolumnscount[count]") or 0.0
    drifted_cols = sorted(
        name.removeprefix("valuedrift_")
        for name, v in values.items()
        if name.startswith("valuedrift_")
        and v is not None
        and v < P_VALUE_DRIFT_THRESHOLD
    )
    return bool(share > share_threshold), int(count), drifted_cols


def assess_prediction_scores(
    metrics: Iterable[tuple[str, float | None]], score_threshold: float = 0.70
) -> tuple[bool, list[tuple[str, float]]]:
    """Predicate over collected ``(metric_name, value)`` rows: any of
    f1score/precision/recall/accuracy below threshold?
    (churn_prediction_pipeline.py:434-485; default 0.70 per :435,:879).
    """
    failing = sorted(
        (name, float(v))
        for name, v in metrics
        if name in ("f1score", "precision", "recall", "accuracy")
        and v is not None
        and v < score_threshold
    )
    return bool(failing), failing
