"""bench.py headline rotation (r13): the active set is bounded, the
r1 subset is never rotated out, new queries always get a first
number, and least-recently-benched queries cycle back within a few
runs."""

from __future__ import annotations

import pytest

import bench


def _detail(history=None, run_idx=0, queries=None):
    d = {}
    if history is not None:
        d["bench_history"] = history
    if run_idx:
        d["bench_run_idx"] = run_idx
    if queries is not None:
        d["queries"] = queries
    return d


def test_first_rotation_run_seeds_from_prev_queries():
    prev = _detail(queries={n: 1.0 for n in bench.HEADLINE})
    active, deferred, hist, idx = bench.select_rotation(
        bench.HEADLINE, prev
    )
    assert idx == 1
    assert len(active) == bench.BENCH_BUDGET
    assert active[: bench.FIXED_N] == bench.HEADLINE[: bench.FIXED_N]
    assert set(active) | set(deferred) == set(bench.HEADLINE)
    assert not set(active) & set(deferred)
    for n in active:
        assert hist[n] == 1


def test_new_queries_always_benched_even_over_budget():
    # everything except the fixed prefix and 40 "old" ones is new
    old = bench.HEADLINE[bench.FIXED_N : bench.FIXED_N + 40]
    prev = _detail(history={n: 1 for n in old}, run_idx=1)
    active, deferred, hist, idx = bench.select_rotation(
        bench.HEADLINE, prev
    )
    new = [
        n
        for n in bench.HEADLINE[bench.FIXED_N :]
        if n not in old
    ]
    assert all(n in active for n in new)
    assert idx == 2


def test_least_recently_benched_cycle_back():
    rest = bench.HEADLINE[bench.FIXED_N :]
    # half benched at run 1, half at run 2 → run-1 ones come first
    history = {n: (1 if i % 2 == 0 else 2) for i, n in enumerate(rest)}
    prev = _detail(history=history, run_idx=2)
    active, deferred, hist, idx = bench.select_rotation(
        bench.HEADLINE, prev
    )
    slots = bench.BENCH_BUDGET - bench.FIXED_N
    stale = [n for n in rest if history[n] == 1]
    took = [n for n in active[bench.FIXED_N :]]
    # the stale half fills the rotation slots first
    assert took[: min(slots, len(stale))] == stale[:slots]


def test_every_query_benched_within_a_few_rounds():
    """Simulate successive runs: no query's gap between benchings
    exceeds ceil(pool/slots) rounds once steady-state is reached."""
    prev = _detail(queries={n: 1.0 for n in bench.HEADLINE})
    seen = {n: 0 for n in bench.HEADLINE}
    gaps = []
    for run in range(1, 9):
        active, deferred, hist, idx = bench.select_rotation(
            bench.HEADLINE, prev
        )
        for n in active:
            if seen[n]:
                gaps.append(run - seen[n])
            seen[n] = run
        prev = _detail(history=hist, run_idx=idx)
    pool = len(bench.HEADLINE) - bench.FIXED_N
    slots = bench.BENCH_BUDGET - bench.FIXED_N
    max_gap = -(-pool // slots) + 1
    assert max(gaps) <= max_gap
    assert min(seen.values()) > 0  # nothing starved entirely


def test_rotation_idx_pin_is_deterministic_and_stable(monkeypatch):
    """SPARK_GRAFT_ROTATION_IDX=n must pick the SAME slice regardless of
    prior history, and must not advance the LRU state (r16, VERDICT r15
    next #1 — the driver re-runs one slice round-over-round and at both
    core counts)."""
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_IDX", "3")
    prev_a = _detail(history={n: 7 for n in bench.HEADLINE}, run_idx=9)
    prev_b = _detail(queries={n: 1.0 for n in bench.HEADLINE})
    a = bench.select_rotation(bench.HEADLINE, prev_a)
    b = bench.select_rotation(bench.HEADLINE, prev_b)
    assert a[0] == b[0]  # same active slice from different states
    assert a[0][: bench.FIXED_N] == bench.HEADLINE[: bench.FIXED_N]
    assert len(a[0]) == bench.BENCH_BUDGET
    # history/run_idx untouched: unpinned runs resume where they were
    assert a[2] == {n: 7 for n in bench.HEADLINE}
    assert a[3] == 9
    # a different index picks a different (still fixed-prefix) slice
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_IDX", "4")
    c = bench.select_rotation(bench.HEADLINE, prev_a)
    assert c[0][: bench.FIXED_N] == a[0][: bench.FIXED_N]
    assert c[0] != a[0]


def test_bench_queries_env_list_and_all(monkeypatch):
    want = [bench.HEADLINE[40], bench.HEADLINE[2], "not_a_query"]
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERIES", ",".join(want))
    active, deferred, hist, idx = bench.select_rotation(
        bench.HEADLINE, _detail(history={"x": 1}, run_idx=5)
    )
    assert active == [bench.HEADLINE[40], bench.HEADLINE[2]]
    assert idx == 5 and hist == {"x": 1}
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERIES", "all")
    active, deferred, *_ = bench.select_rotation(bench.HEADLINE, _detail())
    assert active == list(bench.HEADLINE)
    assert deferred == []


def test_rotation_idx_not_an_integer_exits_naming_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_IDX", "three")
    with pytest.raises(SystemExit, match="SPARK_GRAFT_ROTATION_IDX"):
        bench.select_rotation(bench.HEADLINE, _detail())


def test_bench_queries_matching_no_headline_name_exits(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERIES", "not_a_query, nor_this")
    with pytest.raises(SystemExit, match="SPARK_GRAFT_BENCH_QUERIES"):
        bench.select_rotation(bench.HEADLINE, _detail())
