"""Driver-contract smoke: entry/queries/oracle_sql shape and the
mode-matrix style config loader."""

from __future__ import annotations

import __spark_entry__ as E
from fs_indexer_elasticsearch_spark.sources.config import load_config


def test_entry_contract(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 38
    # Every oracle key has a query; missing-oracle queries are the
    # declared non-SQL-expressible set only.
    assert set(oracles) <= set(qs)


def test_priority_list_names_every_registered_query():
    """r10 verdict #8: every registered query holds an EXPLICIT
    rotation position — _PRIORITY and the registry are the same set,
    so tools/rotation_check.py's prefix math is fully intentional
    (an implicit registration-order tail made 20 queries' positions
    accidental). _apply_priority_order raises at import on any
    drift; this asserts the invariant directly too."""
    import fs_indexer_elasticsearch_spark.plans as P

    assert len(P._PRIORITY) == len(P.QUERIES)
    assert list(P.QUERIES) == P._PRIORITY
    assert len(set(P._PRIORITY)) == len(P._PRIORITY)  # no duplicates


def test_queries_run_at_smallest_sf(spark):
    qs = E.queries()
    # Spot-run a representative from each module family.
    for name in (
        "q01_pricing_summary",
        "rollup_directory_sizes",
        "window_session_30m",
        "dedup_exact",
        "similarity_bruteforce_topk",
    ):
        out = qs[name](spark, "/root/testdata/sf0.001")
        assert out.count() >= 0


def test_config_defaults(tmp_path):
    cfg = load_config(str(tmp_path / "missing.yaml"))
    assert cfg.mode == "elasticsearch"
    assert ".git" in cfg.skip_patterns


def test_config_parses_reference_shape(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(
        """
root_path: /mnt/fs
mode: index-only
skip_patterns:
  hidden_files: [".DS_Store"]
  hidden_dirs: [".git", "node_modules"]
performance:
  scan_chunk_size: 50000
  max_entries_per_task: 200000
elasticsearch:
  index_name: my-index
  bulk_size: 25000
"""
    )
    cfg = load_config(str(p))
    assert cfg.mode == "index-only"
    assert cfg.root_path == "/mnt/fs"
    assert set(cfg.skip_patterns) == {".DS_Store", ".git", "node_modules"}
    assert cfg.max_entries_per_task == 200000
    assert cfg.es_index == "my-index"
    assert cfg.es_bulk_size == 25000


def test_bench_headline_stays_inside_driver_tail_capture():
    """BENCH_r06.json was lost to a >2000-char final line; the compact
    headline payload must stay well inside the capture window even
    with every measurement populated (r6 verdict #1)."""
    import json

    import bench

    timings = {n: 123.456 for n in bench.HEADLINE}
    extra = {n: 123.456 for n in bench.EXTRA}
    headline, detail = bench.build_payloads(
        sf=0.1,
        timings=timings,
        cold=dict(timings),
        rows={n: 99999 for n in bench.HEADLINE},
        extra=extra,
        ann_recall={
            "lsh": 0.0,
            "ivf": 1.0,
            "lsh_neardup": 0.875,
            "lsh_multiprobe": 1.0,
        },
        ingest={
            "ingest_files_per_sec": 25836.4,
            "ingest_cold_sec": 123.456,
            "incremental_cycle_sec": 123.456,
            "incremental_vs_full": 1.234,
        },
        errors={"_ingest": "x" * 500},
        canary_samples=[0.475, 0.470, 0.480, 0.475, 0.474],
    )
    line = json.dumps(headline)
    assert len(line) <= 1500, f"headline line is {len(line)} chars"
    parsed = json.loads(line)
    assert parsed["metric"] == "suite_seconds"
    assert parsed["value"] == round(123.456 * len(bench.HEADLINE), 3)
    # r8: the normalized suite total rides the artifact itself;
    # r13: normalized by the MEDIAN of the interleaved samples.
    assert parsed["cpu_canary_sec"] == 0.475
    assert parsed["canary_norm_suite"] == round(
        parsed["value"] * bench.CANARY_REF_SEC / 0.475, 3
    )
    assert parsed["canary_spread"] == round((0.480 - 0.470) / 0.475, 3)
    assert parsed["box_drifted"] is False
    assert "box_alert" not in parsed  # quiet box: no loud alert key
    for m in parsed["ann_recall"].values():
        assert "regime" in m and "value" in m
    # Detail carries what the headline dropped (r14: the raw canary
    # samples moved there to make room for the sf1 fields).
    assert detail["rows"] and detail["cold"] and detail["errors"]
    assert detail["canary_samples"] == [0.475, 0.470, 0.480, 0.475, 0.474]


def test_bench_canary_drift_flag():
    """spread > 10% across the interleaved samples marks the round
    box-drifted: the normalized suite number is unreliable and the
    round-over-round comparison must use raw seconds (r12 verdict #3,
    where a 31% canary drift flipped the sign of the normalized
    comparison while every raw number improved)."""
    import bench

    headline, _ = bench.build_payloads(
        sf=0.1,
        timings={"q": 1.0},
        cold={"q": 1.0},
        rows={"q": 1},
        extra={},
        ann_recall={},
        ingest={},
        errors={},
        canary_samples=[0.43, 0.44, 0.57, 0.43, 0.44],
    )
    assert headline["cpu_canary_sec"] == 0.44
    assert headline["canary_spread"] == round((0.57 - 0.43) / 0.44, 3)
    assert headline["box_drifted"] is True
    # This sample set's spread (0.318) also crosses the 0.30 loud-
    # alert line; the dedicated test below covers the key's content.
    assert "box_alert" in headline


def test_bench_canary_alert_flag():
    """spread > 30% adds the LOUD box_alert key (r14 verdict #2): that
    round's 32-core bench ran at spread 0.503 and its raw numbers read
    as a 3x regression on queries with zero code changes — a run this
    contaminated must carry its own warning label in the artifact."""
    import bench

    headline, _ = bench.build_payloads(
        sf=0.1,
        timings={"q": 1.0},
        cold={"q": 1.0},
        rows={"q": 1},
        extra={},
        ann_recall={},
        ingest={},
        errors={},
        canary_samples=[0.43, 0.44, 0.89, 0.43, 0.62],
    )
    assert headline["canary_spread"] > 0.30
    assert "UNRELIABLE" in headline["box_alert"]
