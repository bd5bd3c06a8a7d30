"""Tree-structured Parzen Estimator hyperparameter search.

Public-knowledge reimplementation of the TPE sampler the reference
drives through Optuna (churn_model_training.py:277-283: 50-trial
maximize study).  Algorithm per Bergstra, Bardenet, Bengio & Kégl,
"Algorithms for Hyper-Parameter Optimization" (NeurIPS 2011), with the
*adaptive Parzen estimator* from the authors' hyperopt reference
implementation:

1. After ``n_startup`` seeded-random trials, split the history into
   *good* (top ``gamma`` fraction by objective) and *bad*.
2. Model each numeric parameter with a gaussian mixture over the
   observed values PLUS a wide prior component at the space midpoint
   (bandwidth = full span).  Per-component bandwidth = the larger
   neighbor gap in sorted order, clipped to [span/min(100, 1+n), span]
   — isolated observations keep exploring, tight clusters refine, and
   the prior's mass lets the sampler jump out of a crawl (the
   fixed-bandwidth variant collapses onto the first good point).
   Categorical parameters use add-one-smoothed count distributions.
3. Draw ``n_candidates`` from the good mixture l(x) and keep the
   candidate maximizing l(x)/g(x) — the EI-optimal acquisition.

Everything runs on the driver; the objective evaluates as Spark jobs
(``cross_validate_f1``).  ``optuna`` stays a drop-in — its study can
call the same objective — but this sampler needs only the stdlib and is
fully deterministic under a seed.

Search-space specs:
    ("int", lo, hi)        — inclusive integer range
    ("float", lo, hi)      — uniform continuous
    ("choice", [a, b, …])  — categorical
    ("log", lo, hi)        — log-uniform continuous (modeled in log10)
"""

from __future__ import annotations

import math
import random
from typing import Callable

from pyspark.sql import DataFrame

from ..schema import TARGET_COLUMN

Spec = tuple
Space = dict[str, Spec]

# The reference's effective space shape (depth / trees / learning rate).
DEFAULT_SPACE: Space = {
    "max_depth": ("int", 2, 6),
    "max_iter": ("choice", [10, 20, 40, 80]),
    "step_size": ("log", 1e-2, 10 ** -0.5),
}

_SQRT_2PI = math.sqrt(2 * math.pi)


def _sample_random(rng: random.Random, space: Space) -> dict:
    out = {}
    for name, spec in space.items():
        kind = spec[0]
        if kind == "int":
            out[name] = rng.randint(spec[1], spec[2])
        elif kind == "choice":
            out[name] = rng.choice(spec[1])
        elif kind == "float":
            out[name] = round(rng.uniform(spec[1], spec[2]), 6)
        elif kind == "log":
            out[name] = round(
                10 ** rng.uniform(math.log10(spec[1]), math.log10(spec[2])), 6
            )
        else:  # pragma: no cover - spec validation
            raise ValueError(f"unknown spec kind {kind!r}")
    return out


def _bounds(spec: Spec) -> tuple[float, float]:
    if spec[0] == "log":
        return math.log10(spec[1]), math.log10(spec[2])
    return float(spec[1]), float(spec[2])


def _to_unit(spec: Spec, v) -> float:
    return math.log10(v) if spec[0] == "log" else float(v)


def _from_unit(spec: Spec, u: float):
    lo, hi = _bounds(spec)
    u = min(max(u, lo), hi)
    if spec[0] == "int":
        return int(round(u))
    v = round(10 ** u, 6) if spec[0] == "log" else round(u, 6)
    # the 6-decimal round can step just past a bound (e.g. hi=10^-0.5 →
    # 0.316228); clamp back to the exact bound values
    return min(max(v, spec[1]), spec[2])


def adaptive_parzen(
    vals: list[float], lo: float, hi: float
) -> list[tuple[float, float]]:
    """Equal-weight (center, bandwidth) components: sorted observations
    + a prior at the midpoint with bandwidth = span; each observation's
    bandwidth is its larger neighbor gap, clipped."""
    span = max(hi - lo, 1e-12)
    mid = (lo + hi) / 2
    pts = sorted(vals) + [mid]
    pts.sort()
    prior_seen = False
    comps: list[tuple[float, float]] = []
    n = len(pts)
    for i, v in enumerate(pts):
        if v == mid and not prior_seen:
            prior_seen = True
            comps.append((v, span))
            continue
        left = pts[i] - pts[i - 1] if i > 0 else span
        right = pts[i + 1] - pts[i] if i < n - 1 else span
        bw = min(max(max(left, right), span / min(100.0, 1.0 + n)), span)
        comps.append((v, bw))
    return comps


def _mix_logpdf(x: float, comps: list[tuple[float, float]]) -> float:
    d = 0.0
    for c, b in comps:
        z = (x - c) / b
        d += math.exp(-0.5 * z * z) / (b * _SQRT_2PI * len(comps))
    return math.log(max(d, 1e-300))


def tpe_suggest(
    history: list[tuple[dict, float]],
    space: Space,
    rng: random.Random,
    gamma: float = 0.25,
    n_candidates: int = 24,
    n_startup: int = 5,
) -> dict:
    """One TPE suggestion given (params, objective) history (maximize)."""
    if len(history) < n_startup:
        return _sample_random(rng, space)
    ordered = sorted(history, key=lambda t: -t[1])
    n_good = max(1, int(math.ceil(gamma * len(ordered))))
    good = [p for p, _ in ordered[:n_good]]
    bad = [p for p, _ in ordered[n_good:]] or good
    out = {}
    for name, spec in space.items():
        if spec[0] == "choice":
            choices = spec[1]
            gw = [1.0 + sum(1 for p in good if p[name] == c) for c in choices]
            bw = [1.0 + sum(1 for p in bad if p[name] == c) for c in choices]
            gtot, btot = sum(gw), sum(bw)
            best, best_score = None, -math.inf
            for _ in range(n_candidates):
                c = rng.choices(choices, weights=gw, k=1)[0]
                i = choices.index(c)
                score = math.log(gw[i] / gtot) - math.log(bw[i] / btot)
                if score > best_score:
                    best, best_score = c, score
            out[name] = best
        else:
            lo, hi = _bounds(spec)
            gvals = [_to_unit(spec, p[name]) for p in good]
            bvals = [_to_unit(spec, p[name]) for p in bad]
            gcomps = adaptive_parzen(gvals, lo, hi)
            bcomps = adaptive_parzen(bvals, lo, hi)
            best_u, best_score = None, -math.inf
            for _ in range(n_candidates):
                c, b = gcomps[rng.randrange(len(gcomps))]
                u = min(max(rng.gauss(c, b), lo), hi)
                score = _mix_logpdf(u, gcomps) - _mix_logpdf(u, bcomps)
                if score > best_score:
                    best_u, best_score = u, score
            out[name] = _from_unit(spec, best_u)
    return out


def _save_trials(study_path: str, history: list[tuple[dict, float]]) -> None:
    """Atomically persist the trial log as one small parquet file.

    The history is trial-count-sized (tens of rows), so a full rewrite
    per trial is cheap; write-to-temp + rename keeps a kill mid-write
    from corrupting the study (the Optuna-RDB durability analog,
    churn_model_training.py:277-283)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "trial": pa.array(range(len(history)), type=pa.int64()),
            "params_json": pa.array(
                [json.dumps(p, sort_keys=True) for p, _ in history]
            ),
            "value": pa.array([float(v) for _, v in history], type=pa.float64()),
        }
    )
    tmp = f"{study_path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, study_path)


def _load_trials(study_path: str) -> list[tuple[dict, float]]:
    import json
    import os

    import pyarrow.parquet as pq

    if not os.path.exists(study_path):
        return []
    t = pq.read_table(study_path).sort_by("trial")
    return [
        (json.loads(p), float(v))
        for p, v in zip(
            t.column("params_json").to_pylist(), t.column("value").to_pylist()
        )
    ]


def _trial_rng(seed: int, trial: int) -> random.Random:
    """Per-trial RNG derived from (seed, trial index) so a resumed study
    reproduces exactly the suggestions a never-killed run would make:
    the suggestion at trial i depends only on (seed, i, history[:i]),
    never on how many trials this PROCESS has run."""
    return random.Random(f"tpe|{seed}|{trial}")


def tpe_search(
    objective: Callable[[dict], float],
    space: Space | None = None,
    n_trials: int = 20,
    seed: int = 42,
    gamma: float = 0.25,
    n_candidates: int = 24,
    n_startup: int = 5,
    study_path: str | None = None,
) -> tuple[dict, float, list[tuple[dict, float]]]:
    """Maximize ``objective`` over ``space`` with TPE.  Returns
    (best_params, best_value, history), history in trial order.

    ``study_path`` makes the study PERSISTENT and RESUMABLE (the
    engine's analog of the reference's RDB-backed Optuna study): every
    completed trial is atomically appended to a parquet trial log, and a
    restarted search reloads it and continues at trial k with exactly
    the suggestions the uninterrupted run would have produced (per-trial
    derived RNG). ``n_trials`` counts TOTAL trials in the study, so a
    finished study returns immediately."""
    space = space or DEFAULT_SPACE
    history: list[tuple[dict, float]] = (
        _load_trials(study_path) if study_path else []
    )
    for i in range(len(history), n_trials):
        rng = _trial_rng(seed, i)
        params = tpe_suggest(history, space, rng, gamma, n_candidates, n_startup)
        val = objective(params)
        history.append((params, val))
        if study_path:
            _save_trials(study_path, history)
    best_params, best_val = {}, -math.inf
    for params, val in history:
        if val > best_val:
            best_params, best_val = params, val
    return best_params, best_val, history


def tune_model_tpe(
    df: DataFrame,
    n_trials: int = 20,
    k: int = 3,
    feature_cols: list[str] | None = None,
    label_col: str = TARGET_COLUMN,
    seed: int = 42,
    space: Space | None = None,
    study_path: str | None = None,
) -> tuple[dict, float, list[tuple[dict, float]]]:
    """The reference's ``tune_model_with_cv`` with the engine's TPE:
    trials are CV F1 evaluations run as Spark jobs
    (churn_model_training.py:222-294). ``study_path`` persists the study
    across restarts (the RDB-backed Optuna analog)."""
    from .training import cross_validate_f1

    def objective(params: dict) -> float:
        return cross_validate_f1(df, k, feature_cols, label_col, **params)

    return tpe_search(objective, space, n_trials, seed, study_path=study_path)
