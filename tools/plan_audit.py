#!/usr/bin/env python
"""Physical-plan audit: the .explain() pass as a repeatable artifact.

For every audited query this captures the formatted physical plan and
mechanically checks the properties that decide 100 TB behavior:

- **no CartesianProduct / BroadcastNestedLoopJoin** — a quadratic or
  driver-exploding join shape is never acceptable in a registered
  query (`allow_nlj` whitelists the few small-broadcast exceptions,
  e.g. a 1-row scalar-aggregate threshold joined without a key).
- **no row-at-a-time Python eval** (`BatchEvalPython`) — Python must
  enter plans only through Arrow (`ArrowEvalPython` / `MapInPandas` /
  `FlatMapGroupsInPandas`), the vectorized slow path.
- **parquet pushdown active** — scans of the benchmark tables must
  show a non-empty PushedFilters when the query filters a scanned
  column (checked on queries declared `expect_pushdown`).
- **whole-stage codegen present** — at least one codegen span per
  plan, i.e. the hot path compiles.

Usage: python tools/plan_audit.py [--out PLAN_AUDIT.md] [names...]
Exit 1 if any audited plan violates a check.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries with a documented reason to contain a broadcast nested-loop
# join: a keyless join against a broadcast 1-row aggregate (scalar
# threshold) — O(n·1), not O(n²).
ALLOW_NLJ = {
    "scalar_max_filter",
    "q11_important_stock",
    "q15_top_suppliers",
    "q06_forecast_revenue",
    "bm25_search_topk",
    "tfidf_top_terms",
    "q08_market_share",
    "q22_idle_customers",
    # r14: both incremental BM25 regimes score through the same shape
    # as the batch query — a keyless broadcast of the 1-row
    # (n_docs, sum_dl) turnstile normalizer onto the postings frame
    # (O(n·1), the scalar-aggregate NLJ class).
    "incremental_view_bm25_topk",
    "bm25_store_search_topk",
    # Brute-force / IVF ANN: the broadcast side is the tiny query-
    # vector set (documented O(n·|Q|) baseline), not a data relation.
    "similarity_bruteforce_topk",
    "similarity_ivf_topk",
    # Incremental IVF: same keyless 1-row centroid-array broadcast in
    # assign_cells (O(n·1) projection), plus the equi cid search join.
    "ann_incremental_ivf_topk",
    # Bigram model normalization: keyless join against the broadcast
    # 1-row corpus-total aggregate — O(vocab·1).
    "char_bigram_nll",
    # PMI totals and the funnel roll-up join 1-row aggregates — O(1).
    "collocations_pmi",
    "funnel_view_click_purchase",
    # Recall metrics: contain the whitelisted brute-force/IVF plans
    # (broadcast 8-row query set) plus keyless joins of the 1-row
    # n_hits and n_truth aggregates — O(n·|Q|) then O(1).
    "ann_recall_at_k",
    "ann_neardup_recall_lsh",
    "ann_neardup_recall_multiprobe",
    # Freshness predicate: keyless join against the broadcast 1-row
    # max(ts) aggregate (the anchor timestamp) — O(n·1).
    "freshness_last_hours",
    # Quantized brute-force ANN baseline: same shape as
    # similarity_bruteforce_topk — the broadcast side is the tiny
    # query-vector set (O(n·|Q|)), not a data relation.
    "quantized_ann_int8_topk",
    # PQ recall gate: the exact-L2 ground truth is the documented
    # O(n·|Q|) brute-force baseline (8-row broadcast query set); the
    # PQ side under grade is pure equi-joins.
    "ann_pq_recall",
    # IVF-PQ: assign_cells' keyless 1-row centroid-array broadcast
    # (O(n·1) projection, same class as similarity_ivf_topk) plus the
    # 1-row broadcast of the sorted codebook-id array (O(n·1)); every
    # search-path join (encode, LUT, ADC, rerank) is keyed. The recall
    # gate adds the documented O(n·|Q|) exact ground-truth baseline.
    "ann_ivfpq_topk",
    "ann_ivfpq_recall",
    # Nightly incremental curation rollup: keyless joins of four
    # 1-row stage-count aggregates (n_batch/n_quality/n_matched/kept)
    # — O(1), same shape as the cascade summary below; the probe
    # itself is the band store's equi-join.
    "incremental_curation_cycle",
    # Cascade summary: keyless joins of three 1-row stage-count
    # aggregates (n_raw × n_after_exact × n_drops) — O(1).
    "dedup_cascade_attrition",
}

# Queries whose scan should show parquet filter pushdown.
EXPECT_PUSHDOWN = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_regional_supplier_volume",
    "q12_late_shipping",
    "bpe_token_estimate",
]

# With no names on the command line, the audit covers EVERY registered
# query (the r5 verdict's coverage gap: an audit is only as strong as
# its reach). The list below is kept as `--headline` for fast
# iteration on the most expensive plans.
HEADLINE_AUDIT = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_regional_supplier_volume",
    "q09_product_profit",
    "q12_late_shipping",
    "q21_waiting_suppliers",
    "topk_per_group",
    "rollup_directory_sizes",
    "merge_upsert_newer_wins",
    "snapshot_diff_changes",
    "window_tumbling_10m",
    "window_session_30m",
    "asof_click_before_purchase",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_keep_best",
    "similarity_bruteforce_topk",
    "similarity_lsh_ann_topk",
    "similarity_ivf_topk",
    "bm25_search_topk",
    "split_contamination_ngrams",
    "length_percentile_band",
    "vocab_concentration",
    "token_budget_mixture",
    "embedding_outliers",
    "semantic_dedup_clusters",
    "char_bigram_nll",
    "chunk_documents",
    "template_prefix_by_source",
    "collocations_pmi",
    "funnel_view_click_purchase",
    "retention_cohorts",
    "pii_detection",
]


def plan_of(df) -> str:
    # Execute first: under AQE the pre-execution plan is a placeholder
    # AdaptiveSparkPlan with no codegen ids and no final join choices —
    # the FINAL plan (isFinalPlan=true) is the one worth auditing.
    df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def audit(name: str, plan: str) -> list[str]:
    problems: list[str] = []
    if "CartesianProduct" in plan:
        problems.append("CartesianProduct in plan")
    if "BroadcastNestedLoopJoin" in plan and name not in ALLOW_NLJ:
        problems.append("BroadcastNestedLoopJoin without whitelist entry")
    if re.search(r"\bBatchEvalPython\b", plan):
        problems.append("row-at-a-time Python UDF (BatchEvalPython)")
    # formatted-mode explain marks codegen membership per operator as
    # "[codegen id : N]" (the simple-mode '*' / WholeStageCodegen
    # wrapper does not appear in this rendering).
    if "codegen id" not in plan:
        problems.append("no whole-stage-codegen span")
    if name in EXPECT_PUSHDOWN:
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        if not any(p.strip() for p in pushed):
            problems.append("expected parquet PushedFilters, found none")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="write a markdown report here")
    ap.add_argument(
        "--headline",
        action="store_true",
        help="audit only the headline subset instead of every query",
    )
    ap.add_argument("names", nargs="*")
    a = ap.parse_args()

    from fs_indexer_elasticsearch_spark.plans import QUERIES
    from fs_indexer_elasticsearch_spark.session import get_spark

    spark = get_spark("plan-audit")
    names = a.names or (HEADLINE_AUDIT if a.headline else list(QUERIES))
    report: list[str] = ["# PLAN_AUDIT — physical plans of the headline queries\n"]
    report.append(
        "Generated by `tools/plan_audit.py` (checks: no cartesian/quadratic "
        "joins, no row-at-a-time Python, codegen present, pushdown where "
        "expected). Regenerate after plan-affecting changes.\n"
    )
    bad = 0
    for name in names:
        try:
            plan = plan_of(QUERIES[name](spark, a.sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            report.append(f"## {name}\n\n**ERROR**: {e}\n")
            bad += 1
            continue
        problems = audit(name, plan)
        status = "FAIL " + "; ".join(problems) if problems else "OK"
        print(f"{'FAIL' if problems else 'PASS'} {name}: {status}")
        bad += bool(problems)
        report.append(f"## {name} — {status}\n\n```\n{plan.strip()}\n```\n")
    print(f"\n{len(names) - bad} clean / {bad} flagged")
    if a.out:
        with open(a.out, "w") as f:
            f.write("\n".join(report))
        print(f"wrote {a.out}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
