"""Training-side dataflow (SURVEY §2.C; reference
churn_model_training.py:199-294,335-376).

Spark-first substitutions for the minimal environment (no
xgboost/sklearn/mlflow — see SURVEY §7.2 item 5):

- XGBoost               → MLlib ``GBTClassifier`` (distributed tree
                          boosting; ``xgboost.spark.SparkXGBClassifier``
                          drop-in when available — gated import)
- sklearn Platt         → MLlib ``LogisticRegression`` on the raw margin
  calibration             column (the same sigmoid fit)
- sklearn StratifiedKFold → ``ntile(k)`` over a seeded shuffle within
                          each label stratum (window function)
- sklearn f1_score      → the engine's own confusion-matrix aggregation
                          (operators/quality.py)
- Optuna TPE            → threshold grid here + the engine's own TPE
                          sampler (``ml/tpe.py``) on the driver; trials
                          evaluated as Spark jobs
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.ml import Model
from pyspark.ml.classification import GBTClassifier, LogisticRegression
from pyspark.ml.feature import VectorAssembler

from ..operators.quality import classification_scores
from ..schema import NUMERICAL_COLUMNS, TARGET_COLUMN

SEED = 42  # churn_model_training.py:335-337 / :254-257


def train_test_split(
    df: DataFrame, test_size: float = 0.2, seed: int = SEED
) -> tuple[DataFrame, DataFrame]:
    """80/20 random split (churn_model_training.py:335-337).

    NOTE ``randomSplit``'s row assignment depends on partition layout: a
    recomputed lineage (executor loss, different file split at 100× data)
    can land rows on the other side. Prefer ``hash_split`` — the
    deterministic, layout-independent scale path."""
    train, test = df.randomSplit([1.0 - test_size, test_size], seed=seed)
    return train, test


def hash_split(
    df: DataFrame,
    id_col: str,
    test_size: float = 0.2,
    seed: int = SEED,
    salt: str = "split",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic 80/20 split by portable content hash of the row id
    (churn_model_training.py:335-337 re-expressed for scale): row goes to
    train iff ``md5(id || salt||seed) % 100 < 80``.

    Unlike ``randomSplit`` this is a pure map-side predicate — zero
    shuffle, independent of partition layout, bit-reproducible across
    engines (the md5-int convention of functions/hashing.py), and stable
    under recomputation: the same row lands on the same side on every
    run, every engine, every cluster size.

    NULL ids coalesce to '' before hashing so every row lands on exactly
    one side (a NULL key would fail both predicates and silently drop
    the row) — note this clumps ALL null-id rows onto one side; assert
    non-null ids upstream if that matters. 10_000 buckets keep
    quantization error < 0.01%. The bucket layout (salt format, modulus)
    is part of this function's split contract: changing either
    reassigns rows, so persisted models must be re-split — pin ``salt``
    per experiment to version splits explicitly."""
    if not 0.0 < test_size < 1.0:
        raise ValueError(f"test_size must be in (0, 1), got {test_size}")
    bucket = _hash_bucket(id_col, salt, seed, 10_000)
    cut = round((1.0 - test_size) * 10_000)
    return df.where(bucket < cut), df.where(bucket >= cut)


def _hash_bucket(id_col: str, salt: str, seed: int, mod: int):
    from ..functions.hashing import md5_hash_int

    key = F.concat(
        F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        F.lit(f"|{salt}{seed}"),
    )
    return md5_hash_int(key) % mod


def hash_folds(
    df: DataFrame, id_col: str, k: int = 3, seed: int = SEED, salt: str = "fold"
) -> DataFrame:
    """Deterministic k-fold assignment by portable hash: ``fold`` in 1..k
    = ``md5(id || salt||seed) % k + 1``. Zero-shuffle map-side expression;
    approximately stratified for any non-tiny stratum (the hash is an
    unbiased pseudo-random draw), and — unlike ``F.rand`` ordering —
    identical on every engine/run/partition-layout. The scale path for
    CV folds; ``stratified_folds`` remains the exact-proportion variant
    for small frames. NULL ids coalesce to '' (see hash_split)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        "fold", (_hash_bucket(id_col, salt, seed, k) + 1).cast("int")
    )


def stratified_hash_folds(
    df: DataFrame,
    id_col: str,
    k: int = 3,
    label_col: str = TARGET_COLUMN,
    seed: int = SEED,
    salt: str = "fold",
) -> DataFrame:
    """Deterministic EXACT-stratified k-fold (churn_model_training.py:254-257):
    within each label stratum rows are ranked by portable md5 hash of the
    id (id tiebreak) and dealt round-robin to folds 1..k, so per-stratum
    fold sizes differ by at most 1 — the same exactness as the reference's
    ntile-over-rand, but engine-portable, layout-independent, and
    bit-reproducible (same row → same fold on every run/engine/cluster).

    Scale note: one window sort per stratum; a binary label concentrates
    the rank pass onto two reducer tasks. For 100 TB frames prefer
    ``hash_folds`` — zero-shuffle, stratified in expectation (binomial
    noise ~sqrt(n) per stratum), which is negligible at that row count.
    NULL ids coalesce to '' before hashing (see hash_split)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    key = F.concat(
        F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        F.lit(f"|{salt}{seed}"),
    )
    w = Window.partitionBy(label_col).orderBy(F.md5(key), F.col(id_col))
    return df.withColumn(
        "fold", ((F.row_number().over(w) - 1) % k + 1).cast("int")
    )


def stratified_folds(
    df: DataFrame, k: int = 3, label_col: str = TARGET_COLUMN, seed: int = SEED
) -> DataFrame:
    """Stratified k-fold assignment (churn_model_training.py:254-257):
    ``fold`` in 1..k via ntile over a seeded shuffle per label stratum —
    preserves label proportions per fold, one window pass. At scale the
    per-stratum sort concentrates on few partitions (binary label → two
    tasks); prefer ``hash_folds`` there."""
    w = Window.partitionBy(label_col).orderBy(F.rand(seed))
    return df.withColumn("fold", F.ntile(k).over(w))


def assemble(
    df: DataFrame, feature_cols: list[str] | None = None, out_col: str = "features"
) -> DataFrame:
    cols = feature_cols or NUMERICAL_COLUMNS
    return VectorAssembler(
        inputCols=cols, outputCol=out_col, handleInvalid="keep"
    ).transform(df)


def train_gbt(
    train: DataFrame,
    feature_cols: list[str] | None = None,
    label_col: str = TARGET_COLUMN,
    max_iter: int = 40,
    max_depth: int = 3,
    step_size: float = 0.1,
    seed: int = SEED,
) -> Model:
    """Gradient-boosted trees — the reference's XGBoost stand-in
    (churn_model_training.py:102-108; depth 3 mirrors
    best_params_to_date max_depth=3 at :348-359)."""
    try:  # drop-in distributed XGBoost when the package is present
        from xgboost.spark import SparkXGBClassifier  # noqa: PLC0415

        est = SparkXGBClassifier(
            features_col="features",
            label_col=label_col,
            max_depth=max_depth,
            n_estimators=max_iter,
            learning_rate=step_size,
        )
    except ImportError:
        est = GBTClassifier(
            featuresCol="features",
            labelCol=label_col,
            maxIter=max_iter,
            maxDepth=max_depth,
            stepSize=step_size,
            seed=seed,
        )
    return est.fit(assemble(train, feature_cols))


def raw_margin_col(scored: DataFrame, model) -> DataFrame:
    """Extract the boosted raw margin (log-odds) as a scalar column and
    drop the model's own output columns (they would collide with the
    calibrator's downstream)."""
    from pyspark.ml.functions import vector_to_array

    out = scored.withColumn(
        "margin", vector_to_array(F.col(model.getRawPredictionCol()))[1]
    )
    drops = [
        getter()
        for getter in (
            model.getRawPredictionCol,
            getattr(model, "getProbabilityCol", lambda: None),
            model.getPredictionCol,
        )
        if getter() is not None
    ]
    return out.drop(*drops)


def calibrate_sigmoid(
    scored_train: DataFrame, label_col: str = TARGET_COLUMN
) -> Model:
    """Platt calibration (churn_model_training.py:261-264): logistic
    regression on the frozen model's margin → calibrated P(churn)."""
    cal_input = VectorAssembler(
        inputCols=["margin"], outputCol="margin_vec"
    ).transform(scored_train)
    lr = LogisticRegression(
        featuresCol="margin_vec", labelCol=label_col, maxIter=50
    )
    return lr.fit(cal_input)


def calibrated_proba(df: DataFrame, calibrator: Model) -> DataFrame:
    from pyspark.ml.functions import vector_to_array

    cal_input = VectorAssembler(
        inputCols=["margin"], outputCol="margin_vec"
    ).transform(df)
    out = calibrator.transform(cal_input)
    return out.withColumn(
        "proba", vector_to_array(F.col(calibrator.getProbabilityCol()))[1]
    ).drop("margin_vec", calibrator.getRawPredictionCol(),
           calibrator.getProbabilityCol(), calibrator.getPredictionCol())


def tune_threshold(
    proba_df: DataFrame,
    label_col: str = TARGET_COLUMN,
    proba_col: str = "proba",
    grid: list[float] | None = None,
    precision_floor: float | None = None,
) -> tuple[float, float]:
    """Decision-threshold tuning on F1 (churn_model_training.py:266-273),
    t ∈ [0.1, 0.9]. ONE aggregation pass evaluates the whole grid: per
    threshold, conditional-sum tp/fp/fn — no per-trial job storm.

    ``precision_floor``: maximize F1 SUBJECT TO precision ≥ floor (a
    precision-SLO objective — churn outreach is precision-sensitive:
    every false positive is a discount mailed to a customer who was
    staying). Thresholds below the floor are dropped before the F1
    argmax; if NO grid point reaches the floor, falls back to the
    unconstrained pick rather than failing the fit. Unconstrained F1
    tends to select a low threshold that buys recall with precision
    (the r7 parity gap: holdout P 0.885 vs published 0.92); the floor
    recovers the reference's operating point — see ml/parity.py."""
    ts = grid or [round(0.1 + 0.02 * i, 2) for i in range(41)]
    lbl = F.col(label_col)
    p = F.col(proba_col)
    aggs = []
    for i, t in enumerate(ts):
        pred = (p >= F.lit(t)).cast("int")
        aggs += [
            F.sum(((lbl == 1) & (pred == 1)).cast("long")).alias(f"tp{i}"),
            F.sum(((lbl != 1) & (pred == 1)).cast("long")).alias(f"fp{i}"),
            F.sum(((lbl == 1) & (pred == 0)).cast("long")).alias(f"fn{i}"),
        ]
    row = proba_df.agg(*aggs).first()

    def pick(floor: float | None) -> tuple[float, float]:
        best_t, best_f1 = None, -1.0
        for i, t in enumerate(ts):
            tp, fp, fn = row[f"tp{i}"], row[f"fp{i}"], row[f"fn{i}"]
            prec = tp / (tp + fp) if tp + fp else 0.0
            rec = tp / (tp + fn) if tp + fn else 0.0
            f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
            if floor is not None and prec < floor:
                continue
            if f1 > best_f1:
                best_t, best_f1 = t, f1
        return best_t, best_f1

    best_t, best_f1 = pick(precision_floor)
    if best_t is None:  # nothing met the floor — unconstrained fallback
        best_t, best_f1 = pick(None)
    return best_t, best_f1


@dataclass
class TrainedModel:
    model: Model
    calibrator: Model
    threshold: float
    cv_f1: float
    feature_cols: list[str]


def fit_pipeline(
    df: DataFrame,
    feature_cols: list[str] | None = None,
    label_col: str = TARGET_COLUMN,
    val_df: DataFrame | None = None,
    precision_floor: float | None = None,
    **gbt_params,
) -> TrainedModel:
    """train → margin → calibrate → tune threshold (the reference's
    tuning inner loop, churn_model_training.py:246-273).

    ``val_df``: held-out frame for threshold tuning. The reference
    evaluates its threshold suggestion on the CV *validation* fold
    (churn_model_training.py:265-271), never the training fold — pass
    the validation slice here to match; tuning on the training frame
    (the ``None`` default, for callers with no holdout) yields an
    optimistically biased threshold.
    """
    cols = feature_cols or NUMERICAL_COLUMNS
    model = train_gbt(df, cols, label_col, **gbt_params)
    scored = raw_margin_col(model.transform(assemble(df, cols)), model)
    calibrator = calibrate_sigmoid(scored, label_col)
    tune_src = scored if val_df is None else raw_margin_col(
        model.transform(assemble(val_df, cols)), model
    )
    proba = calibrated_proba(tune_src, calibrator)
    t, f1 = tune_threshold(proba, label_col, precision_floor=precision_floor)
    return TrainedModel(model, calibrator, t, f1, cols)


def predict(tm: TrainedModel, df: DataFrame) -> DataFrame:
    """Apply the full trained pipeline → int ``churn_prediction``."""
    scored = raw_margin_col(
        tm.model.transform(assemble(df, tm.feature_cols)), tm.model
    )
    proba = calibrated_proba(scored, tm.calibrator)
    return proba.withColumn(
        "churn_prediction", (F.col("proba") >= F.lit(tm.threshold)).cast("int")
    )


def evaluate(
    tm: TrainedModel, df: DataFrame, label_col: str = TARGET_COLUMN
) -> dict[str, float]:
    """Holdout scores via the engine's confusion-matrix aggregation
    (mirrors mlflow_eval_suite's core metrics,
    churn_model_training.py:144-168)."""
    scored = predict(tm, df)
    rows = classification_scores(scored, label_col, "churn_prediction").collect()
    return {r["metric_name"]: r["value"] for r in rows}


def cross_validate_f1(
    df: DataFrame,
    k: int = 3,
    feature_cols: list[str] | None = None,
    label_col: str = TARGET_COLUMN,
    parallel: bool = False,
    **gbt_params,
) -> float:
    """Mean F1 across stratified folds (churn_model_training.py:271-273).

    ``parallel=True`` trains the k folds from concurrent driver threads —
    Spark's scheduler interleaves their jobs across the cluster, so folds
    that underutilize the executors overlap (the same trick
    ``CrossValidator(parallelism=k)`` uses). Each fold's data is a
    filter of the cached fold assignment, so nothing is recomputed.
    """
    folded = stratified_folds(df, k, label_col).cache()

    def one(fold: int) -> float:
        tr = folded.where(F.col("fold") != fold).drop("fold")
        va = folded.where(F.col("fold") == fold).drop("fold")
        tm = fit_pipeline(tr, feature_cols, label_col, val_df=va, **gbt_params)
        return evaluate(tm, va, label_col)["f1score"]

    if parallel:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=k) as ex:
            f1s = list(ex.map(one, range(1, k + 1)))
    else:
        f1s = [one(fold) for fold in range(1, k + 1)]
    return sum(f1s) / len(f1s)
