"""Property-based tier (hypothesis) — the reference has no randomized
testing (SURVEY §5); we add it for the statistical core, where example
tests can miss edge shapes. Example counts are small: each case runs
real Spark jobs.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from churn_model_evaluation_platform_spark.functions.stats import partitioned_prefix_sum
from churn_model_evaluation_platform_spark.operators.dedup import exact_dedup
from churn_model_evaluation_platform_spark.operators.drift import ks_2samp

SETTINGS = settings(max_examples=5, deadline=None)

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@SETTINGS
@given(st.lists(finite_doubles, min_size=2, max_size=40))
def test_ks_identical_samples_no_drift(spark, xs):
    df = spark.createDataFrame([(float(x),) for x in xs], "v double")
    row = ks_2samp(df, df, "v").first()
    assert row["ks_stat"] == 0.0
    assert row["p_value"] == 1.0


@SETTINGS
@given(
    st.lists(finite_doubles, min_size=2, max_size=30),
    st.lists(finite_doubles, min_size=2, max_size=30),
)
def test_ks_stat_bounds_and_symmetry(spark, xs, ys):
    a = spark.createDataFrame([(float(x),) for x in xs], "v double")
    b = spark.createDataFrame([(float(y),) for y in ys], "v double")
    ab = ks_2samp(a, b, "v").first()
    ba = ks_2samp(b, a, "v").first()
    assert 0.0 <= ab["ks_stat"] <= 1.0
    assert 0.0 <= ab["p_value"] <= 1.0
    # |ECDF_a - ECDF_b| is symmetric in the samples.
    assert abs(ab["ks_stat"] - ba["ks_stat"]) < 1e-12
    assert ab["n_ref"] == ba["n_cur"] and ab["n_cur"] == ba["n_ref"]


@SETTINGS
@given(st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=60))
def test_prefix_sum_matches_sequential(spark, xs):
    df = spark.createDataFrame(
        [(float(i), int(x)) for i, x in enumerate(xs)], "k double, x long"
    )
    got = {
        r["k"]: r["cum_x"]
        for r in partitioned_prefix_sum(df, "k", ["x"], num_partitions=4).collect()
    }
    run = 0
    for i, x in enumerate(xs):
        run += x
        assert got[float(i)] == run


@SETTINGS
@given(
    st.lists(finite_doubles, min_size=3, max_size=30),
    st.lists(finite_doubles, min_size=3, max_size=30),
)
def test_value_drift_scalable_equals_windowed(spark, xs, ys):
    from churn_model_evaluation_platform_spark.operators.drift import value_drift

    def ks(ref, cur):
        # two-sided KS statistic, tie-correct: the ECDF gap at every value
        n, m = len(ref), len(cur)
        return max(
            abs(sum(v <= x for v in ref) / n - sum(v <= x for v in cur) / m)
            for x in set(ref) | set(cur)
        )

    a = spark.createDataFrame([(float(x), float(x) * 2) for x in xs], "u double, w double")
    b = spark.createDataFrame([(float(y), float(y) * 2) for y in ys], "u double, w double")
    got = {r["column"]: r for r in value_drift(a, b, ["u", "w"]).collect()}
    sides = {
        "u": ([float(x) for x in xs], [float(y) for y in ys]),
        "w": ([float(x) * 2 for x in xs], [float(y) * 2 for y in ys]),
    }
    for c, (ref, cur) in sides.items():
        assert abs(got[c]["ks_stat"] - ks(ref, cur)) < 1e-12
        assert (got[c]["n_ref"], got[c]["n_cur"]) == (len(xs), len(ys))


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=1, max_size=15
    ),
)
def test_asof_join_matches_python_model(spark, lrows, rrows):
    from churn_model_evaluation_platform_spark.operators.relational import asof_join

    # unique (k, ts) on the right — ties there are unspecified by contract
    rmap = {}
    for k, ts in rrows:
        rmap[(k, ts)] = float(k * 1000 + ts)
    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(lrows)], "lid int, k int, p int"
    )
    right = spark.createDataFrame(
        [(k, ts, v) for (k, ts), v in rmap.items()], "k int, ts int, v double"
    )
    got = {
        r["lid"]: (r["asof_ts"], r["v"])
        for r in asof_join(
            left, right, ["k"], left_ts="p", right_ts="ts", right_cols=["v"]
        ).collect()
    }
    for i, (k, p) in enumerate(lrows):
        cands = [ts for (rk, ts) in rmap if rk == k and ts <= p]
        if cands:
            ts = max(cands)
            assert got[i] == (ts, rmap[(k, ts)])
        else:
            assert i not in got  # inner mode drops unmatched


@SETTINGS
@given(
    st.lists(
        st.sampled_from(["alpha beta", "Alpha  Beta", "gamma", "delta epsilon zeta"]),
        min_size=1,
        max_size=25,
    )
)
def test_exact_dedup_partitions_rows(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = exact_dedup(df).collect()
    # copies partition the corpus; representatives are distinct survivors
    assert sum(r["n_copies"] for r in out) == len(texts)
    ids = [r["doc_id"] for r in out]
    assert len(set(ids)) == len(ids)
    # normalization: case/extra-space variants collapse
    distinct_norm = {" ".join(t.lower().split()) for t in texts}
    assert len(out) == len(distinct_norm)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(1, 2), st.integers(0, 500)), min_size=1, max_size=40
    )
)
def test_sessionize_invariants(spark, rows):
    from churn_model_evaluation_platform_spark.operators.relational import sessionize

    gap = 60
    df = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(rows)], "rid int, k int, p long"
    )
    out = sessionize(df, ["k"], "p", gap=gap).collect()
    by_key: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["k"], r["p"], r["rid"])):
        by_key.setdefault(r["k"], []).append(r)
    for _, rs in by_key.items():
        assert rs[0]["session_id"] == 1  # sessions start at 1
        for a, b in zip(rs, rs[1:]):
            delta = b["p"] - a["p"]
            if delta >= gap:
                assert b["session_id"] == a["session_id"] + 1
            else:
                assert b["session_id"] == a["session_id"]


labels_scores = st.lists(
    st.tuples(st.integers(min_value=0, max_value=1),
              st.floats(min_value=0.0, max_value=1.0,
                        allow_nan=False, allow_infinity=False)),
    min_size=4, max_size=40,
).filter(lambda xs: len({l for l, _ in xs}) == 2)  # both classes present


@SETTINGS
@given(labels_scores)
def test_roc_points_monotone_and_bounded(spark, xs):
    from churn_model_evaluation_platform_spark.operators.evalcurves import (
        roc_pr_points,
    )

    df = spark.createDataFrame(
        [(int(l), float(s)) for l, s in xs], "churn int, proba double"
    )
    pts = (
        roc_pr_points(df, "churn", "proba")
        .orderBy(F.desc("threshold"))
        .collect()
    )
    prev_tpr = prev_fpr = 0.0
    for r in pts:
        # cumulative counts are monotone as the threshold lowers
        assert r["tpr"] >= prev_tpr - 1e-12
        assert r["fpr"] >= prev_fpr - 1e-12
        prev_tpr, prev_fpr = r["tpr"], r["fpr"]
        assert 0.0 <= r["tpr"] <= 1.0 and 0.0 <= r["fpr"] <= 1.0
        assert r["tp"] + r["fn"] == sum(1 for l, _ in xs if l == 1)
        assert r["fp"] + r["tn"] == sum(1 for l, _ in xs if l == 0)
    # the lowest threshold classifies everything positive
    assert pts[-1]["tpr"] == 1.0 and pts[-1]["fpr"] == 1.0


@SETTINGS
@given(labels_scores)
def test_auc_matches_pairwise_definition(spark, xs):
    from churn_model_evaluation_platform_spark.operators.evalcurves import auc_roc

    df = spark.createDataFrame(
        [(int(l), float(s)) for l, s in xs], "churn int, proba double"
    )
    auc = auc_roc(df, "churn", "proba").first()["auc"]
    pos = [s for l, s in xs if l == 1]
    neg = [s for l, s in xs if l == 0]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    assert abs(auc - wins / (len(pos) * len(neg))) < 1e-9


# --- round-6 operators -----------------------------------------------------

join_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), st.integers(-50, 50)),
    min_size=0,
    max_size=30,
)


@SETTINGS
@given(join_rows, join_rows, st.integers(min_value=1, max_value=8))
def test_salted_join_equals_plain_join(spark, lrows, rrows, salt):
    from churn_model_evaluation_platform_spark.functions.skew import salted_join

    left = spark.createDataFrame(lrows or [(99, 0)], "k int, lv int")
    right = spark.createDataFrame(rrows or [(98, 0)], "k int, rv int")
    for how in ("inner", "left"):
        got = sorted(
            tuple(r)
            for r in salted_join(left, right, on=["k"], salt=salt, how=how)
            .select("k", "lv", "rv")
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in left.join(right, "k", how).select("k", "lv", "rv").collect()
        )
        assert got == want, (how, salt)


scd_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.sampled_from(["a", "b", "c"]),  # status
        st.integers(min_value=0, max_value=50),  # ts
    ),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(scd_rows)
def test_scd2_intervals_match_python_model(spark, rows):
    from churn_model_evaluation_platform_spark.operators.relational import (
        scd2_intervals,
    )

    # unique tiebreak id per row (ties in ts resolved identically)
    data = [(k, s, t, i) for i, (k, s, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, status string, ts int, rid int")
    got = sorted(
        tuple(r)
        for r in scd2_intervals(df, "k", "status", "ts", "rid").collect()
    )
    # python model: sort by (ts, rid) per key, keep change points,
    # close each interval with the next change's ts
    want = []
    bykey: dict = {}
    for k, s, t, i in sorted(data, key=lambda r: (r[0], r[2], r[3])):
        bykey.setdefault(k, []).append((s, t))
    for k, seq in bykey.items():
        changes = [
            (s, t) for j, (s, t) in enumerate(seq) if j == 0 or s != seq[j - 1][0]
        ]
        for j, (s, t) in enumerate(changes):
            nxt = changes[j + 1][1] if j + 1 < len(changes) else None
            want.append((k, s, t, nxt, int(nxt is None)))
    assert got == sorted(want)


session_ts = st.lists(
    st.integers(min_value=0, max_value=10_000),  # seconds
    min_size=1,
    max_size=40,
)


@SETTINGS
@given(session_ts)
def test_native_session_window_matches_manual_gap_model(spark, secs):
    # Two independent formulations of 30s-gap sessions must agree:
    # Spark's native session_window vs a python gap-merge.
    rows = [(1, s) for s in secs]
    df = spark.createDataFrame(rows, "uid int, sec long").select(
        "uid", F.timestamp_seconds("sec").alias("ts")
    )
    got = sorted(
        (r["start_sec"], r["end_sec"], r["n"])
        for r in df.groupBy(F.session_window("ts", "30 seconds"), "uid")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp("session_window.start").alias("start_sec"),
            F.unix_timestamp("session_window.end").alias("end_sec"),
            "n",
        )
        .collect()
    )
    want = []
    for s in sorted(secs):
        # Spark merges an event landing EXACTLY at the session's end
        # (start + gap) into that session — the boundary is inclusive
        # for merging (verified: events at 0 and 30 with a 30 s gap
        # yield ONE session [0, 60)). The old strict-< model asserted
        # a false general claim that hypothesis eventually falsified
        # with an exact-boundary pair (r16).
        if want and s <= want[-1][1]:
            start, _, n = want[-1]
            want[-1] = (start, s + 30, n + 1)
        else:
            want.append((s, s + 30, 1))
    assert got == [tuple(w) for w in want]
