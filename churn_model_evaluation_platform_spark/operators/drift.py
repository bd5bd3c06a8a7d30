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

Each drift family has one counts frame and writes each formula once:

- value statistics (KS, Wasserstein, energy, Mann–Whitney) finish over
  ``_running_counts``: one window per key over the tie counts, so one
  column's distinct values are ordered in one task, which is measured
  up to 10^7 distinct values (SCALE.md §Drift statistics);
- binned statistics (PSI, JS, Hellinger, TVD) finish in ``_binned_stat``
  over per-bin counts that ``_bins`` melts, per column or per
  (window, column), with per-key totals clamped at 1e-12.

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

from ..functions.stats import ks_pvalue_expr
from .metrics import metrics_frame

P_VALUE_DRIFT_THRESHOLD = 0.05  # churn_prediction_pipeline.py:419
DATASET_DRIFT_SHARE = 0.5  # churn_prediction_pipeline.py:415
WINDOWED_MAX_DISTINCT = 250_000  # read only by perfbench's traced install


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
    """Pool two long frames into one row per ``keys`` value with the
    reference count ``r`` and current count ``c`` there. Map-side partial
    aggregation shrinks the shuffle to the keys' cardinality, and every
    later ordering sees one row per value, so ties need no special case."""

    def tag(df: DataFrame, is_ref: int) -> DataFrame:
        return df.select(
            *keys,
            F.lit(is_ref).alias("is_ref"),
            F.lit(1 - is_ref).alias("is_cur"),
        )

    return (
        tag(ref_long, 1)
        .unionAll(tag(cur_long, 0))
        .groupBy(*keys)
        .agg(F.sum("is_ref").alias("r"), F.sum("is_cur").alias("c"))
    )


def _running_counts(counts: DataFrame, keys: list[str]) -> DataFrame:
    """The value statistics' one counts frame. Tie counts ``(keys…, v,
    r, c)`` gain, from one window per key: the running counts
    ``cum_r``/``cum_c`` at or below v, the key's totals ``n_ref``/
    ``n_cur``, ``diff`` = ECDF_ref(v) − ECDF_cur(v) and ``dv``, the step
    to the key's next distinct value (0 at its max). A key with no values
    on one side has no ECDF there: its ``diff`` is null instead of a
    division-by-zero error."""
    w = Window.partitionBy(*keys).orderBy("v")  # 1 row per v → tie-safe
    tot = Window.partitionBy(*keys)
    cums = counts.select(
        *keys,
        "v",
        "r",
        "c",
        F.sum("r").over(w).alias("cum_r"),
        F.sum("c").over(w).alias("cum_c"),
        F.sum("r").over(tot).alias("n_ref"),
        F.sum("c").over(tot).alias("n_cur"),
        F.lead("v").over(w).alias("v_next"),
    )
    n_ref, n_cur = F.col("n_ref"), F.col("n_cur")
    return cums.select(
        "*",
        F.when(
            (n_ref > 0) & (n_cur > 0),
            F.col("cum_r") / n_ref - F.col("cum_c") / n_cur,
        ).alias("diff"),
        F.coalesce(F.col("v_next") - F.col("v"), F.lit(0.0)).alias("dv"),
    )


def _ks(counts: DataFrame, keys: list[str]) -> DataFrame:
    """The KS kernel: tie counts ``(keys…, v, r, c)`` → one row per key
    ``(keys…, ks_stat, p_value, n_ref, n_cur)``; a key with one side
    empty has a null ks_stat and p_value."""
    stat = _running_counts(counts, keys).groupBy(*keys).agg(
        F.max(F.abs("diff")).alias("ks_stat"),
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
    )
    d = F.col("ks_stat")
    return stat.select(
        *keys,
        "ks_stat",
        F.when(d.isNotNull(), ks_pvalue_expr(d, F.col("n_ref"), F.col("n_cur")))
        .alias("p_value"),
        "n_ref",
        "n_cur",
    )


def tie_counts(ref: DataFrame, cur: DataFrame, columns: list[str]) -> DataFrame:
    """Tie counts ``(column, v, r, c)`` of every column in one
    aggregation: one row per distinct non-null value, with its reference
    and current counts. Partitioned by column, so the per-column window
    over it shuffles nothing more."""
    keys = ["column", "v"]
    return _tie_counts(_long(ref, columns), _long(cur, columns), keys).repartition(
        "column"
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
    counts = _tie_counts(ref_long, _long(cur, columns, wstart), [*keys, "v"])
    return _ks(counts, keys)


def _value_stat(
    ref: DataFrame, cur: DataFrame, column: str, *aggs: Column
) -> DataFrame:
    """One row of ``aggs`` over ``column``'s running-counts frame (all
    null when neither side has a non-null value)."""
    return _running_counts(tie_counts(ref, cur, [column]), ["column"]).agg(*aggs)


def wasserstein(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """1-Wasserstein (earth mover's) distance between the two samples —
    Evidently's drift method above 1000 rows (closing the deviation
    documented in SURVEY §7.4; KS remains the default `value_drift`
    semantic because every reference consumer reads a p-value).

    W1 = ∫ |ECDF_ref(v) − ECDF_cur(v)| dv, computed exactly over the
    pooled distinct values: Σ |Δcdf(v)| · (v_next − v), one sum over
    the running-counts frame that KS also reads. Null when one side has
    no value.
    """
    return _value_stat(
        ref, cur, column, F.sum(F.abs("diff") * F.col("dv")).alias("wasserstein")
    )


def energy_distance(
    ref: DataFrame, cur: DataFrame, column: str
) -> DataFrame:
    """Energy distance between the two samples (Székely & Rizzo;
    Evidently's ``ed`` stat test, scipy.stats.energy_distance):
    E = sqrt(2 · ∫ (ECDF_ref(v) − ECDF_cur(v))² dv) — the same exact
    step integral over the running-counts frame as ``wasserstein`` with
    the squared difference, so the O(n²) pairwise definition is never
    materialized. Null when one side has no value."""
    d = F.col("diff")
    return _value_stat(
        ref,
        cur,
        column,
        F.sqrt(F.lit(2.0) * F.sum(d * d * F.col("dv"))).alias("energy"),
    )


def mannwhitney_u(
    ref: DataFrame, cur: DataFrame, column: str
) -> DataFrame:
    """Mann–Whitney U rank test (Evidently's ``mannw`` stat test):
    → (u_stat, z, p_approx, n_ref, n_cur). Midranks over the pooled
    distinct values come from the running-counts frame that KS reads —
    the tie group of t = r + c rows at value v spans ranks
    (cum_r + cum_c − t, cum_r + cum_c], so its midrank is
    cum_before + (t+1)/2 and R_cur = Σ c(v) · midrank(v) needs no
    per-row ranking. U = R_cur − n_cur(n_cur+1)/2; the p-value is the
    standard tie-corrected asymptotic normal approximation WITHOUT
    continuity correction (documented deviation from scipy's
    use_continuity=True default; exact same closed form on any
    engine). All-tied inputs (zero variance) report p = 1.0."""
    t_size = F.col("r") + F.col("c")
    cum_before = (F.col("cum_r") + F.col("cum_c") - t_size).cast("double")
    # cube in DOUBLE: a >2.09M-row tie group (routine for constant /
    # low-cardinality columns at scale) overflows t³ in BIGINT — wrap
    # under non-ANSI, throw under Spark 4's ANSI default, and diverge
    # from the oracle, which casts before cubing (r9 review)
    td = t_size.cast("double")
    midrank = cum_before + (td + F.lit(1.0)) / F.lit(2.0)
    agg = _value_stat(
        ref,
        cur,
        column,
        F.sum(F.col("c") * midrank).alias("r_cur"),
        F.sum(td * td * td - td).alias("tie_term"),
        F.max("n_ref").alias("n1"),
        F.max("n_cur").alias("n2"),
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


def _bins(
    df: DataFrame, columns: dict[str, float | None], *ids: Column
) -> DataFrame:
    """Melt ``columns`` to ``(ids…, column, bin)`` rows, nulls dropped:
    ``bin`` is floor(v / width), or the RAW value where the width is
    None — the categorical form of the binned family (Evidently runs
    chi2/TVD on category frequencies directly), string columns too."""
    cells = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                (
                    F.col(c)
                    if w is None
                    else F.floor(F.col(c).cast("double") / F.lit(w))
                ).alias("bin"),
            )
            for c, w in columns.items()
        ]
    )
    melted = df.select(*ids, F.explode(cells).alias("cb"))
    return melted.select(
        *melted.columns[: len(ids)], "cb.column", "cb.bin"
    ).where(F.col("bin").isNotNull())


def _binned_counts(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """One column's bin counts ``(bin, n_ref, n_cur)``, both sides in one
    groupBy over the pooled bins (no join); ``bin_width=None`` keys by
    the raw value."""
    cols = {column: bin_width}
    counts = _tie_counts(_bins(ref, cols), _bins(cur, cols), ["bin"])
    return counts.select("bin", F.col("r").alias("n_ref"), F.col("c").alias("n_cur"))


def _with_totals(counts: DataFrame, keys: list[str]) -> DataFrame:
    """Bin counts ``(keys…, n_ref, n_cur)`` plus each key's totals
    ``t_ref``/``t_cur`` (one window per key; with no key, over all rows)."""
    w = Window.partitionBy(*keys)
    return counts.select(
        *keys,
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w).alias("t_ref"),
        F.sum("n_cur").over(w).alias("t_cur"),
    )


def _binned_stat(
    counts: DataFrame, keys: list[str], method: str, epsilon: float = 1e-6
) -> DataFrame:
    """The binned statistics' one finisher: bin counts ``(keys…, n_ref,
    n_cur)`` → ``(keys…, <method>)``, one row per key (one row with no
    key). p and q are each side's share of its key's total, the total
    clamped at 1e-12 so an empty side yields a FINITE statistic, not a
    NULL or a division-by-zero error (r9 review):

    - ``psi``: Σ (q − p) · ln(q / p), shares floored at ``epsilon``
      (industry convention; < 0.1 stable, > 0.25 shifted);
    - ``js``: Jensen–Shannon, base e, in [0, ln 2]: 0.5 KL(p‖m) +
      0.5 KL(q‖m), m = (p+q)/2, with 0·log 0 = 0;
    - ``hellinger``: sqrt(0.5 · Σ (√p − √q)²) ∈ [0, 1];
    - ``tvd``: 0.5 · Σ |p − q| ∈ [0, 1].
    """
    j = _with_totals(counts, keys)
    p = F.col("n_ref").cast("double") / F.greatest(
        F.col("t_ref").cast("double"), F.lit(1e-12)
    )
    q = F.col("n_cur").cast("double") / F.greatest(
        F.col("t_cur").cast("double"), F.lit(1e-12)
    )
    if method == "psi":
        p_ref, p_cur = F.greatest(p, F.lit(epsilon)), F.greatest(q, F.lit(epsilon))
        stat = F.sum((p_cur - p_ref) * F.log(p_cur / p_ref))
    elif method == "js":
        m = (p + q) / F.lit(2.0)
        stat = F.sum(
            F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(F.lit(0.0))
            + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
        )
    elif method == "hellinger":
        d = F.sqrt(p) - F.sqrt(q)
        stat = F.sqrt(F.lit(0.5) * F.sum(d * d))
    elif method == "tvd":
        stat = F.lit(0.5) * F.sum(F.abs(p - q))
    else:
        raise ValueError(
            f"unknown binned drift method {method!r}; "
            "expected psi|hellinger|tvd|js"
        )
    return j.groupBy(*keys).agg(stat.alias(method))


def psi(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    bin_width: float | None,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index over fixed-width bins (``_binned_stat``):
    one groupBy of the bin counts and one scalar aggregation — same
    shape at any scale."""
    return _binned_stat(_binned_counts(ref, cur, column, bin_width), [], "psi", epsilon)


def binned_ref_counts(
    ref: DataFrame, columns: dict[str, float]
) -> DataFrame:
    """Static-reference bin counts ``(column, bin, n_ref)`` for the
    streaming-capable PSI drift panel: ``columns`` maps column name →
    fixed bin width. Computed once per reference snapshot (broadcast-
    sized by platform design) and reused across every window/batch."""
    return (
        _bins(ref, columns)
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
    wstart = F.date_trunc(unit, F.col(ts_col)).alias("window_start")
    return (
        _bins(cur, columns, wstart)
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
    return (
        _bins(cur, columns, F.col(ts_col))
        .groupBy(F.window(ts_col, window_duration).alias("w"), "column", "bin")
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
    coincidence of two implementations. ``stat_from_binned`` with
    ``method="psi"``."""
    return stat_from_binned(ref_bins, cur_bins, "psi", epsilon, round_to)


def _window_bins(ref_bins: DataFrame, cur_bins: DataFrame) -> DataFrame:
    """``(window_start, column, n_ref, n_cur)`` per bin: the static
    reference bins replicated to every window of ``cur_bins`` and full-
    outer joined on (window_start, column, bin), so ref-only and cur-only
    bins both count (missing side 0). The alias hop mints fresh attribute
    ids so base-vs-cur_bins is not a self-join on the same plan
    (memory-sink sources otherwise hit "conflicting references" in the
    full-outer join below)."""
    windows = (
        cur_bins.select(F.col("window_start").alias("__w"))
        .distinct()
        .withColumnRenamed("__w", "window_start")
    )
    base = ref_bins.crossJoin(F.broadcast(windows))
    return base.join(
        cur_bins, ["window_start", "column", "bin"], "full_outer"
    ).select(
        "window_start",
        "column",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )


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
    the drained counts). Output ``(window_start, column, <method>)``,
    rounded at ``round_to`` (ln() is libm-dependent, so both engines
    round). ``epsilon`` applies to ``psi`` only; totals are clamped at
    1e-12 per (window, column), so an empty slice stays finite and
    cross-engine identical (0/0 is NULL on Spark but NaN on DuckDB)."""
    keys = ["window_start", "column"]
    stat = _binned_stat(_window_bins(ref_bins, cur_bins), keys, method, epsilon)
    return stat.select(*keys, F.round(method, round_to).alias(method))


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
    binned distributions (``_binned_stat``)."""
    return _binned_stat(_binned_counts(ref, cur, column, bin_width), [], "js")


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
    j = _with_totals(counts, [])
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


def hellinger_from_counts(counts: DataFrame) -> DataFrame:
    return _binned_stat(counts, [], "hellinger")


def hellinger(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """Hellinger distance between the two binned distributions
    (Evidently's ``hellinger`` stat test, ``_binned_stat``). Zero-count
    bins contribute their full sqrt-mass difference — no epsilon floor
    needed (the statistic is finite by construction). Same one-groupBy
    shape as ``psi``."""
    return hellinger_from_counts(_binned_counts(ref, cur, column, bin_width))


def tvd_from_counts(counts: DataFrame) -> DataFrame:
    return _binned_stat(counts, [], "tvd")


def tvd(
    ref: DataFrame, cur: DataFrame, column: str, bin_width: float | None
) -> DataFrame:
    """Total variation distance between the two binned distributions
    (Evidently's ``TVD`` stat test, ``_binned_stat``)."""
    return tvd_from_counts(_binned_counts(ref, cur, column, bin_width))


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
