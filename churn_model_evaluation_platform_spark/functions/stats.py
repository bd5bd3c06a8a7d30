"""Distributed statistical primitives.

``partitioned_prefix_sum`` is the scale-critical piece: a global running
sum ordered by a key WITHOUT a single-partition window. A naive
``Window.orderBy(col)`` (no partitionBy) collapses all data onto one task —
fine at 60 k rows, fatal at 100 TB. Instead we do the classic two-phase
scan: range-partition by the key, local prefix sums per partition, then add
broadcasted per-partition offsets (P rows collected to the driver, P = a
few hundred).

``ks_pvalue_expr`` is the asymptotic two-sided Kolmogorov distribution with
the small-sample correction from Numerical Recipes §14.3 (the same formula
scipy's ``ks_2samp(mode="asymp")`` historically used):

    en     = sqrt(n*m/(n+m))
    lambda = (en + 0.12 + 0.11/en) * D
    p      = 2 * sum_{k=1..inf} (-1)^(k-1) exp(-2 k^2 lambda^2)

truncated at 100 terms (the series converges after a handful), clamped to
[0, 1]. Implemented as a pure Catalyst expression (``aggregate`` over a
``sequence``) so it runs JVM-side with no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KS_SERIES_TERMS = 100


def range_boundaries(
    df: DataFrame, order_col: str, num_partitions: int | None = None
) -> list:
    """~Balanced key-range boundaries via one ``percentile_approx``
    aggregation (codegen, single scan — no shuffle). Callers that already
    scan a cheaper frame with the same key distribution (e.g. the
    pre-aggregation input) should compute boundaries THERE and pass them
    down: balance only needs the coarse shape of the distribution."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    probs = [i / p for i in range(1, p)]
    row = df.agg(
        F.percentile_approx(
            order_col, F.array(*[F.lit(q) for q in probs]), F.lit(10_000)
        ).alias("qs")
    ).first()
    return sorted(set(row["qs"] or []))


def partitioned_prefix_sum(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    num_partitions: int | None = None,
    bounds: list | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """Add ``cum_<c>`` running-total columns ordered globally by
    ``order_col``, tie-aware (all rows with equal keys get the total
    through the whole tie group, i.e. RANGE frame semantics — what an ECDF
    needs), computed scalably:

    1. ``range_boundaries`` (or caller-provided ``bounds``) picks
       ~balanced key-range boundaries; the bucket id is then a pure
       expression of the KEY (deterministic and identical in every job —
       a ``spark_partition_id`` would not be: separate jobs may map rows
       to physical partitions differently).
    2. ONE lazy plan does the rest: per-bucket window running sums; the
       per-bucket totals aggregate (one tiny row per bucket) windowed
       over preceding buckets gives cross-bucket offsets; broadcast-join
       offsets back. No driver round-trip for offsets, no second action.
       Both branches hang off the same ``df`` subplan, so the physical
       plan reuses one exchange — ``df`` is computed once, no cache.

    ``with_totals=True`` additionally attaches constant ``tot_<c>`` grand
    totals (derived from the per-bucket totals frame — a few hundred rows
    — and broadcast), so consumers that need n alongside the running sums
    don't re-scan ``df``.
    """
    if bounds is None:
        bounds = range_boundaries(df, order_col, num_partitions)
    bucket: Column = F.lit(0)
    for b in bounds:
        bucket = bucket + (F.col(order_col) > F.lit(b)).cast("int")
    bucketed = df.withColumn("__bucket", bucket)
    w = Window.partitionBy("__bucket").orderBy(order_col)
    local = bucketed.select(
        "*", *[F.sum(c).over(w).alias(f"cum_{c}") for c in sum_cols]
    )
    totals = bucketed.groupBy("__bucket").agg(
        *[F.sum(c).alias(f"tot_{c}") for c in sum_cols]
    )
    # Offsets across buckets: window over the bucket-totals frame — at
    # most `p` rows, so the single-partition window here is trivial.
    w_off = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__bucket",
        *[
            F.coalesce(F.sum(f"tot_{c}").over(w_off), F.lit(0)).alias(f"off_{c}")
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "__bucket")
    cum_cols = [
        (F.col(f"cum_{c}") + F.col(f"off_{c}")).alias(f"cum_{c}") for c in sum_cols
    ]
    if not with_totals:
        return out.select(*df.columns, *cum_cols)
    grand = totals.agg(
        *[F.sum(f"tot_{c}").alias(f"tot_{c}") for c in sum_cols]
    )
    return out.crossJoin(F.broadcast(grand)).select(
        *df.columns,
        *cum_cols,
        *[F.col(f"tot_{c}") for c in sum_cols],
    )


def ks_pvalue_expr(d: Column, n: Column, m: Column) -> Column:
    """Asymptotic two-sided KS p-value as a Catalyst expression.

    ``d`` = KS statistic, ``n``/``m`` = the two sample sizes. JVM-side
    (no UDF): ``aggregate(sequence(1, 100), ...)`` sums the Kolmogorov
    series.
    """
    en = F.sqrt(n.cast("double") * m.cast("double") / (n + m).cast("double"))
    lam = (en + F.lit(0.12) + F.lit(0.11) / en) * d
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(KS_SERIES_TERMS)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.pow(F.lit(-1.0), (k - F.lit(1)).cast("double"))
        * F.exp(F.lit(-2.0) * k.cast("double") * k.cast("double") * lam * lam),
    )
    p = F.lit(2.0) * series
    # At lambda == 0 the alternating series oscillates (terms are all ±1)
    # instead of reaching the limit Q(0) = 1 — guard identical samples.
    p = F.when(lam < F.lit(1e-8), F.lit(1.0)).otherwise(p)
    return F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))


def ks_pvalue_sql(d_expr: str, n_expr: str, m_expr: str,
                  terms: int = KS_SERIES_TERMS) -> str:
    """The same p-value as ANSI-ish SQL (DuckDB-compatible) for oracle
    differential tests. ``d_expr``/``n_expr``/``m_expr`` are SQL snippets.
    """
    en = f"sqrt(({n_expr}) * ({m_expr}) / (({n_expr}) + ({m_expr})))"
    lam = f"(({en}) + 0.12 + 0.11 / ({en})) * ({d_expr})"
    series = (
        f"(SELECT SUM(power(-1.0, k - 1) * exp(-2.0 * k * k * ({lam}) * ({lam}))) "
        f"FROM generate_series(1, {terms}) AS gs(k))"
    )
    return (
        f"(CASE WHEN ({lam}) < 1e-8 THEN 1.0 "
        f"ELSE least(greatest(2.0 * {series}, 0.0), 1.0) END)"
    )
