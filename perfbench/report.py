"""Metric names, units and the result payload (pure functions, no Spark).

``END_TO_END`` and ``PER_LAYER`` list the metrics the benchmark prints;
BENCHMARK.json at the repository root declares the same names, and the
unit tests hold the two in step.
"""

from __future__ import annotations

import math
import statistics

from tablegen import SUITE

# (name, unit, better)
END_TO_END = [
    ("op_s", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("store_space_amp", "ratio", "lower"),
]

# Self-time metrics: span name -> metric prefix.
SPAN_METRICS = {
    "pipeline.run_pipeline": "pipeline",
    "snapshot.merge": "snapshot.merge",
    "snapshot.read": "snapshot.read",
    "snapshot.read_changes": "snapshot.read_changes",
    "snapshot.vacuum": "snapshot.vacuum",
    "es_bulk.write_bulk_file": "es_bulk.write",
    "es_bulk.sync_actions": "es_bulk.sync_actions",
    "rollup.collect": "rollup.collect",
    "tables.ckpt_shared": "tables.ckpt_shared",
    "ivm.maintain_joined_top_k": "ivm.joined_top_k",
}

# One span per query of the query_suite pass: its wall time and the
# Spark jobs it started.
QUERY_METRICS = [f"query.{name}" for name in SUITE]

# Counts the workloads measure per operation (workloads.layer_counts).
COUNT_METRICS = [
    ("snapshot.bytes_written", "bytes", "lower"),
    ("snapshot.files_written", "count", "lower"),
    ("snapshot.buckets_rewritten", "count", "lower"),
    ("enrich.fetches", "count", "lower"),
    ("enrich.fetch_ratio", "ratio", "higher"),
    ("es_bulk.actions", "count", "lower"),
    ("es_bulk.bytes", "bytes", "lower"),
]

# Layer self time is reported as a share of the traced operation's
# wall time (``op.traced_s``), so a layer a workload never reaches reads
# a share of 0, not a constant time.
PER_LAYER = (
    [
        ("op.traced_s", "s", "lower"),
        ("op.jobs", "count", "lower"),
        ("op.executor_s", "s", "lower"),
        ("op.shuffle_bytes", "bytes", "lower"),
        ("op.spill_bytes", "bytes", "lower"),
        ("op.uncovered_frac", "ratio", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
        ("walker.entries_per_s", "1/s", "higher"),
    ]
    + [
        (f"{prefix}.{kind}", unit, "lower")
        for prefix in SPAN_METRICS.values()
        for kind, unit in (("self_frac", "ratio"), ("jobs", "count"), ("calls", "count"))
    ]
    + COUNT_METRICS
    + [
        (f"{prefix}.{kind}", unit, "lower")
        for prefix in QUERY_METRICS
        for kind, unit in (("s", "s"), ("jobs", "count"))
    ]
)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def span_table(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Fold one operation's span tree into per-layer totals.

    ``spans`` are dicts with ``name``, ``seconds``, ``self_s``,
    ``self_jobs`` (job ids), ``children`` (indices into ``spans``) and
    ``parent`` (index or None); index 0 is the operation's root span.
    Returns ``{metric prefix: {"self_s", "jobs", "calls"}}``, per query
    ``{"s", "jobs"}`` (wall time and every job started inside it), plus
    the root's ``uncovered_frac`` (share of its wall time in no child
    span).
    """
    out: dict[str, dict[str, float]] = {
        p: {"self_s": 0.0, "jobs": 0, "calls": 0} for p in SPAN_METRICS.values()
    }
    out.update({q: {"s": 0.0, "jobs": 0} for q in QUERY_METRICS})
    for i, s in enumerate(spans):
        if s["name"].startswith("query."):
            out[s["name"]]["s"] += s["seconds"]
            out[s["name"]]["jobs"] += len(_all_jobs(spans, i))
        prefix = SPAN_METRICS.get(s["name"])
        if prefix is None:
            continue
        row = out[prefix]
        row["self_s"] += s["self_s"]
        row["jobs"] += len(s["self_jobs"])
        row["calls"] += 1
    root = spans[0]
    covered = sum(spans[c]["seconds"] for c in root["children"])
    out["_root"] = {
        "seconds": root["seconds"],
        "uncovered_frac": max(0.0, root["seconds"] - covered) / root["seconds"]
        if root["seconds"] > 0
        else 0.0
    }
    return out


def _all_jobs(spans: list[dict], i: int) -> set[int]:
    """Job ids started in span ``i`` or any span below it."""
    jobs, todo = set(), [i]
    while todo:
        s = spans[todo.pop()]
        jobs |= s["self_jobs"]
        todo.extend(s["children"])
    return jobs


def per_layer_metrics(
    op_tables: list[dict[str, dict[str, float]]],
    op_costs: list[dict[str, float]],
    op_counts: list[dict[str, float]],
    traced_s: list[float],
    untraced_s: list[float],
    walker: list[tuple[float, int]],
) -> dict[str, float]:
    """Per-layer values: each is the median over the traced operations
    of that operation's total, so every number reads "per operation".
    ``op_costs`` holds per-operation ``jobs``/``executor_s``/
    ``shuffle_bytes``/``spill_bytes``; ``walker`` the probe's
    (seconds, entries) samples (empty where the workload has no tree)."""
    m: dict[str, float] = {"op.traced_s": median(traced_s)}
    for key in ("jobs", "executor_s", "shuffle_bytes", "spill_bytes"):
        m[f"op.{key}"] = median([c[key] for c in op_costs])
    m["op.uncovered_frac"] = median([t["_root"]["uncovered_frac"] for t in op_tables])
    base = median(untraced_s)
    m["trace.overhead_frac"] = (median(traced_s) - base) / base if base else 0.0
    m["walker.entries_per_s"] = median([n / s for s, n in walker if s > 0])
    for prefix in SPAN_METRICS.values():
        m[f"{prefix}.self_frac"] = median(
            [t[prefix]["self_s"] / t["_root"]["seconds"] for t in op_tables]
        )
        for kind in ("jobs", "calls"):
            m[f"{prefix}.{kind}"] = median([t[prefix][kind] for t in op_tables])
    for name, _, _ in COUNT_METRICS:
        m[name] = median([c.get(name, 0) for c in op_counts])
    for q in QUERY_METRICS:
        for kind in ("s", "jobs"):
            m[f"{q}.{kind}"] = median([t[q][kind] for t in op_tables])
    return m


def payload(
    *, attempted: int, failed: int, values: dict[str, float], trace: bool
) -> dict:
    """The result line: every metric of the requested kind, by name with
    its unit. Raises if one is missing or not a finite number."""
    specs = PER_LAYER if trace else END_TO_END
    metrics = {}
    for name, unit, _ in specs:
        v = values.get(name)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} is missing or not finite: {v!r}")
        metrics[name] = {"value": v, "unit": unit}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
