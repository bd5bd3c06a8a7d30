"""Physical-plan audit: assert the scale properties we claim.

For every audited query, captures ``explain("formatted")`` and checks:

- no ``CartesianProduct`` / broadcast nested-loop joins (except where a
  tiny literal frame is intentionally crossed in — allowlisted);
- parquet scans prune columns (ReadSchema never reads a table's full
  width when the query touches a subset);
- equi-joins against small frames are broadcast;
- whole-stage codegen covers the hot expressions.

Usage::

    python tools/explain_audit.py [sf_dir] [query ...]

Exit 1 on any violation. Plans are dumped to /tmp/spark_graft_plans/
for inspection either way.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from churn_model_evaluation_platform_spark.session import get_spark  # noqa: E402

# Queries whose plan legitimately contains a broadcast nested-loop /
# cross join: a single-row aggregate or literal frame crossed into every
# row (the build side is 1 row by construction).
SINGLE_ROW_CROSS_OK = {
    "assess_data_drift",
    "duplicate_row_count",
    "dedup_ngram_jaccard",  # sizes frame joined back is small but keyed
    "roc_curve_points",  # single-row grand-totals broadcast (with_totals)
    "lift_curve",  # same single-row totals broadcast via prefix sum
    "tfidf_top_terms",  # single-row corpus-size broadcast
    "lm_score",  # single-row (T, V) totals broadcast
    "bm25_search",  # single-row (n_docs, avgdl) corpus-stats broadcast
    # deliberate replicate-small-dim cross: the broadcast build side is
    # the distinct window-start frame (dashboard x-axis grain — tens to
    # hundreds of rows) crossed into the broadcast-sized reference
    # snapshot, so the 100 TB current side is read exactly once.
    "value_drift_by_window",
    "impute_median",  # single-row per-column-medians aggregate broadcast in
    # corpus_curation: three keyless count(1) one-row aggregates
    # (n_quality / n_kept / token totals) crossed into the summary row.
    "corpus_curation",
    # point-estimate row crossed with the single-row CI aggregate
    "metric_bootstrap_ci",
    # four keyless one-row aggregates crossed into the summary row
    "decontaminate_corpus",
    # single-row quartile-boundaries aggregate broadcast into the assign
    "quantile_bins",
    # single-row token-total aggregate broadcast into the share column
    "corpus_mix_report",
    "corpus_mix_exact",  # same plan, exact-BPE counter (registry_ext14)
    "corpus_mix_real",  # same plan, real-vocab counter (registry_ext17)
    # single-row n_orders aggregate broadcast into the lift/support cols
    "item_cooccurrence",
    # single-row feature-means aggregate broadcast into the attribution
    "shap_linear",
    # single-row ref-stats x single-row cur-stats cross
    "drift_mahalanobis",
    # single-row (n,k) and single-row q_hat aggregates broadcast in
    "conformal_coverage",
    # r9 drift/eval additions:
    "value_drift_hellinger_tvd",  # two one-row statistics crossed into one row
    "auc_pr",  # single-row grand-totals broadcast (with_totals)
    "value_drift_hellinger_window",  # value_drift_by_window's pattern
    "stream_value_drift_hellinger",  # same panel finisher, drained counts
    "value_drift_categorical",  # two one-row statistics crossed into one row
    # single-row quartile aggregate broadcast into the outlier pass
    "robust_scale_stats",
    # single-row edge-count aggregate broadcast into the degree-balance sum
    "graph_modularity",
    # tiny distinct-windows frame (dashboard x-axis grain) broadcast-
    # crossed into the bin-count-sized ref_bins — both sides bounded by
    # bins × windows, never data (operators/drift.py:_window_bins)
    "value_drift_psi_window",
    "stream_value_drift",
    # r12 selection family — the same single-row grand-totals
    # broadcast pattern as lm_score/bm25_search:
    "lm_perplexity_bigram",  # single-row (T, V) train-totals broadcast
    "lm_perplexity_trigram",  # same totals cross, trigram chain
    "lm_perplexity_5gram",  # same totals cross, 5-level ladder
    "dsir_select_en",  # single-row (t_raw, t_tgt) totals broadcast
    "dsir_sample_gumbel",  # same weights plan + Gumbel TakeOrdered
    "hybrid_topk_rrf",  # bm25 leg's single-row (n_docs, avgdl) cross
    "rag_hybrid_hashed",  # same bm25 single-row stats cross, chunk grain
    # HLL family: single-row estimate/exact-count aggregates crossed
    # into the one-row audit/summary result
    "hll_users_estimate",
    "hll_merge_daily",
    "stream_hll_ingest",  # same single-row estimate/exact cross
    "stream_hll_sink",  # same cross, native-sink variant
    # deliberate replicate-small-dim cross (value_drift_by_window's
    # pattern): the ≤31-row day spine broadcast-range-joined into the
    # m-row register table / the events scan (audit side)
    "hll_window_7d",
    "kmv_distinct_users",  # single-row estimate/exact cross
    "kmv_jaccard_cohorts",  # single-row sketch-agg x exact-agg cross
    # non-equi (cum >= target) join of two POST-AGGREGATE tiny frames
    # (3 quantile targets x <=256 bins) + the single-row exact cross
    "hist_quantile_events",
    # four keyless one-row aggregates crossed into the summary row
    # (the decontaminate_corpus pattern)
    "decontaminate_bpe_13gram",
    # five keyless one-row stage-count aggregates crossed into the
    # summary row + the selection stages' own single-row totals
    "curation_pipeline_v2",
    # same summary-row shape: five keyless one-row stage counts
    # (input / blocks / quality / dedup / token budget) crossed
    "curation_pipeline_v3",
    # six keyless one-row stage counts crossed (adds line-dedup and
    # repetition stages)
    "curation_pipeline_v4",
    # seven keyless one-row stage counts crossed (adds the learned
    # classifier stage)
    "curation_pipeline_v5",
}

# QA/audit operators whose all-pairs side IS the measurand: the exact
# ground truth a recall audit compares its blocked candidates against
# is by definition the quadratic join the blocking exists to avoid.
# These run at sample/QA scale only (documented in their docstrings) —
# the BNLJ is the point, not an accident.
QUADRATIC_AUDIT_OK = {
    # brute-force Hamming all-pairs over (id, int64) fingerprints vs
    # the pigeonhole candidates (operators/dedup.py:
    # simhash_candidate_recall)
    "dedup_simhash_recall",
    # exact all-pairs cosine ground truth the SemDeDup clustering is
    # audited against (operators/dedup.py: semantic_dedup_recall) —
    # the quadratic IS the measurand; fixture/QA scale only (r12)
    "dedup_semantic_kmeans",
}

# Every oracled query is audited. The only exclusions are the three
# rows-only registry entries (no oracle → no CORRECTNESS hash either):
# they train models / run KMeans during CONSTRUCTION, so building the
# DataFrame is minutes of work before explain even runs, and their final
# plans are the same score-projection shapes already audited via
# batch_score_pinned / similarity_topk_lsh.
EXCLUDED = {
    "batch_score": "trains a GBT model at construction; plan shape == batch_score_pinned",
    "similarity_topk_ivf": "KMeans fit at construction; probe-side plan shape == similarity_topk_lsh",
    "train_eval_churn": "full train+eval at construction; metric plan shape == classification_scores",
}


def audited_names() -> list[str]:
    """All registry queries except EXCLUDED (== every oracled query;
    iterative ones included — their construction materializes
    intermediate rounds at sf0.01 cost, and the audit asserts the FINAL
    plan, which is the shape that repeats per round at scale)."""
    return [n for n in entrymod.queries() if n not in EXCLUDED]

# Full column counts of the testdata tables (documents/embeddings are
# narrow by design; lineitem is the wide one worth pruning).
TABLE_WIDTHS = {"lineitem": 16, "events": 5, "orders": 9}

# Operators whose presence means the plan should have at least one
# whole-stage-codegen span. Matched against the formatted plan's
# numbered node lines ("(12) Project [codegen id : 2]") so scan detail
# text like "PushedFilters:" can't false-positive.
_COMPUTE_OPS_RE = re.compile(
    r"^\(\d+\) (Project|Filter|HashAggregate|SortAggregate"
    r"|ObjectHashAggregate|SortMergeJoin|BroadcastHashJoin"
    r"|ShuffledHashJoin|Window|Generate|Expand)\b",
    re.M,
)


def audit_one(name: str, plan: str) -> list[str]:
    problems: list[str] = []
    cross_ok = SINGLE_ROW_CROSS_OK | QUADRATIC_AUDIT_OK
    if "CartesianProduct" in plan and name not in cross_ok:
        problems.append("CartesianProduct in plan")
    if "BroadcastNestedLoopJoin" in plan and name not in cross_ok:
        problems.append("BroadcastNestedLoopJoin in plan")
    # Column pruning: every lineitem scan must read < full width.
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        ncols = len([c for c in m.group(1).split(",") if c])
        if ncols >= TABLE_WIDTHS["lineitem"]:
            problems.append(f"unpruned scan reading {ncols} columns")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    # AQE wraps unexecuted plans in AdaptiveSparkPlan, which reports zero
    # codegen subtrees until runtime — disable it for the static audit
    # (plan STRUCTURE is what we assert; production runs with AQE on).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = entrymod.queries()
    os.makedirs("/tmp/spark_graft_plans", exist_ok=True)
    bad = 0
    for name in audited_names():
        if only and name not in only:
            continue
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        with open(f"/tmp/spark_graft_plans/{name}.txt", "w") as f:
            f.write(plan)
        problems = audit_one(name, plan)
        # Codegen coverage: formatted AQE plans omit codegen ids until the
        # final plan, so probe mode="codegen" (plan-only, not executed).
        # Codegen is only expected when the plan actually computes
        # something: a bare file scan (csv_scan/jsonl_scan roundtrips)
        # or a LocalTableScan of an already-materialized streaming
        # result has nothing to fuse, and its absence is not a perf bug.
        if _COMPUTE_OPS_RE.search(plan):
            cg = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
            m = re.search(r"Found (\d+) WholeStageCodegen subtrees", cg)
            if not m or int(m.group(1)) < 1:
                problems.append("no WholeStageCodegen subtree")
        if problems:
            bad += 1
            print(f"WARN {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}")
    print(f"\n{bad} plans with warnings (dumps in /tmp/spark_graft_plans/)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
