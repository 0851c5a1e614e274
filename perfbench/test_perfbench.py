"""Spark-free tests of the benchmark's generator and result assembly.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

import gen
import report
import run
import spans
import tablegen
import workloads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIPPED = ("/.git", "/node_modules", ".tmp")


def _on_disk(root: str) -> tuple[dict[str, int], set[str], int]:
    """(live files -> size, live dirs, skipped entries) as the indexer's
    default skip patterns see the tree."""
    files: dict[str, int] = {}
    dirs: set[str] = set()
    skipped = 0
    for d, subdirs, names in os.walk(root):
        rel_d = d[len(root):]
        for n in subdirs + names:
            rel = f"{rel_d}/{n}"
            if any(s in rel for s in SKIPPED):
                skipped += 1
            elif n in subdirs:
                dirs.add(rel)
            else:
                files[rel] = os.path.getsize(os.path.join(d, n))
    return files, dirs, skipped


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    return gen.build_tree(str(tmp_path_factory.mktemp("t") / "root"), 400, seed=7)


def test_tree_expected_counts_match_disk(tree):
    files, dirs, skipped = _on_disk(tree.root)
    assert files == tree.files
    assert dirs == tree.dirs
    assert skipped == tree.skipped_entries > 0
    assert tree.n_files == 400
    assert tree.total_bytes == sum(files.values())


def test_tree_shape(tree):
    depths = Counter(p.count("/") for p in tree.files)
    assert min(depths) >= 2 and max(depths) <= gen.MAX_DEPTH
    exts = {p.rsplit(".", 1)[1] for p in tree.files if "." in p.rsplit("/", 1)[1]}
    assert len(exts & set(gen.EXTENSIONS)) >= 12
    assert any(" " in p for p in set(tree.files) | tree.dirs)
    assert any(not p.isascii() for p in set(tree.files) | tree.dirs)
    holders = {p.rsplit("/", 1)[0] for p in tree.files}
    assert any(d not in holders and not any(x.startswith(d + "/") for x in tree.dirs)
               for d in tree.dirs), "no empty directory"
    assert len(set(tree.files.values())) > 300, "sizes should spread (log-normal)"


def test_tree_is_seeded(tmp_path):
    a = gen.build_tree(str(tmp_path / "a"), 200, seed=3)
    b = gen.build_tree(str(tmp_path / "b"), 200, seed=3)
    c = gen.build_tree(str(tmp_path / "c"), 200, seed=4)
    assert (a.files, a.dirs) == (b.files, b.dirs)
    assert a.files != c.files


def test_top_level_totals_count_everything_below(tree):
    totals = tree.top_level_totals()
    assert set(totals) == {d for d in tree.dirs if d.count("/") == 1}
    assert sum(t[0] for t in totals.values()) == tree.total_bytes
    assert sum(t[1] for t in totals.values()) == tree.n_files
    assert sum(t[2] for t in totals.values()) == tree.n_dirs - len(totals)


def test_churn_counts_match_disk(tmp_path):
    t = gen.build_tree(str(tmp_path / "r"), 1000, seed=5)
    before = dict(t.files)
    c = gen.churn(t)
    assert (c.modified, c.added, c.removed) == (6, 2, 2)
    files, dirs, _ = _on_disk(t.root)
    assert files == t.files and dirs == t.dirs
    assert len(set(before) - set(files)) == c.removed
    assert len(set(files) - set(before)) == c.added
    assert sum(before[p] != files[p] for p in set(before) & set(files)) == c.modified
    assert c.changed == c.modified + c.touched_dirs
    assert 1 <= c.touched_dirs <= c.added + c.removed
    # The next cycle draws from a different stream.
    assert gen.churn(t) is not None and t.cycles == 2


def test_payload_carries_exactly_the_declared_metrics():
    e2e = {name: 1.5 for name, _, _ in report.END_TO_END}
    out = report.payload(attempted=3, failed=1, values=e2e | {"extra": 2.0}, trace=False)
    assert out["correct"] is False and out["attempted"] == 3 and out["failed"] == 1
    assert list(out["metrics"]) == [n for n, _, _ in report.END_TO_END]
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(ValueError):
        report.payload(attempted=1, failed=0, values={}, trace=False)
    with pytest.raises(ValueError):
        report.payload(attempted=1, failed=0, values=e2e | {"op_s": float("nan")}, trace=False)


def test_names_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)

    def declared(key):
        return [(m["name"], m["unit"], m["better"]) for m in spec[key]]

    assert declared("end_to_end") == report.END_TO_END
    assert declared("per_layer") == report.PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


def _span(name, seconds, self_s, jobs, children=()):
    return {"name": name, "seconds": seconds, "self_s": self_s,
            "self_jobs": set(jobs), "children": list(children)}


def test_span_table_and_per_layer_metrics():
    spans = [
        _span("op", 10.0, 1.0, [], [1, 3]),
        _span("pipeline.run_pipeline", 8.0, 2.0, [1], [2]),
        _span("snapshot.merge", 6.0, 6.0, [2, 3, 4]),
        _span("rollup.collect", 1.0, 1.0, [5]),
    ]
    table = report.span_table(spans)
    assert table["snapshot.merge"] == {"self_s": 6.0, "jobs": 3, "calls": 1}
    assert table["_root"]["uncovered_frac"] == pytest.approx(0.1)
    cost = {"jobs": 5, "executor_s": 3.0, "shuffle_bytes": 10, "spill_bytes": 0}
    m = report.per_layer_metrics(
        [table], [cost], [{"es_bulk.actions": 7}], [10.0], [8.0], [(2.0, 100)]
    )
    assert set(m) == {n for n, _, _ in report.PER_LAYER}
    assert m["snapshot.merge.self_frac"] == pytest.approx(0.6)
    assert m["pipeline.jobs"] == 1 and m["ivm.joined_top_k.calls"] == 0
    assert m["trace.overhead_frac"] == pytest.approx(0.25)
    assert m["walker.entries_per_s"] == 50
    assert m["es_bulk.actions"] == 7 and m["enrich.fetches"] == 0


def test_query_spans_report_wall_time_and_all_jobs():
    name = f"query.{tablegen.SUITE[0]}"
    spans_ = [
        _span("op", 4.0, 1.0, [], [1]),
        _span(name, 3.0, 2.0, [1, 2], [2]),
        _span("tables.ckpt_shared", 1.0, 1.0, [3]),
    ]
    table = report.span_table(spans_)
    assert table[name] == {"s": 3.0, "jobs": 3}
    m = report.per_layer_metrics([table], [{"jobs": 3, "executor_s": 1.0, "shuffle_bytes": 0,
                                            "spill_bytes": 0}], [], [4.0], [], [])
    assert m[f"{name}.s"] == 3.0 and m[f"{name}.jobs"] == 3
    assert m["tables.ckpt_shared.calls"] == 1 and m["trace.overhead_frac"] == 0.0


def test_tables_are_seeded_and_shaped_like_the_test_data():
    a = tablegen.build_tables(0.001, seed=1)
    b = tablegen.build_tables(0.001, seed=1)
    c = tablegen.build_tables(0.001, seed=2)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert (a["region"].num_rows, a["nation"].num_rows, a["orders"].num_rows) == (5, 25, 1500)
    assert 1500 <= a["lineitem"].num_rows <= 7 * 1500
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    texts = a["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) > 5, "near-duplicates for the dedup queries"


def test_digest_ignores_row_and_column_order_and_float_noise():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    n, d = workloads.digest(["k", "s", "x"], rows)
    assert n == 2
    assert workloads.digest(["x", "k", "s"], [(None, 2, "b"), (0.3, 1, "a")]) == (2, d)
    assert workloads.digest(["k", "s", "x"], rows[:1])[1] != d


class _FakeSparkContext:
    """Just enough of a SparkContext for ``spans.Tracer``."""

    def __init__(self):
        self.jobs = 0

    def getLocalProperty(self, key):
        return None

    def setJobGroup(self, group, description):
        self.jobs += 1

    def setLocalProperty(self, key, value):
        pass


def _tracer():
    tracer = spans.Tracer(_FakeSparkContext())
    tracer._next_job = lambda: tracer.sc.jobs
    return tracer


class _FakeWorkload:
    """Operation n returns n; ``check`` raises on ``bad_op`` and reports
    a wrong answer on ``wrong_op``; ``op`` raises on ``raise_op``."""

    def __init__(self, root, bad_op=None, raise_op=None, wrong_op=None):
        self.root, self.n = str(root), 0
        self.bad_op, self.raise_op, self.wrong_op = bad_op, raise_op, wrong_op
        self.finished = []

    def prepare(self):
        self.n += 1

    def watched_dir(self):
        return self.root

    def op(self):
        if self.n == self.raise_op:
            raise RuntimeError("op failed")
        return self.n

    def check(self, out):
        if out == self.bad_op:
            raise ValueError("check failed")
        return ["wrong answer"] if out == self.wrong_op else []

    def layer_counts(self, out, written):
        return {"es_bulk.actions": out}

    def finish(self, out):
        self.finished.append(out)


def test_measure_untraced_stops_at_the_time(tmp_path):
    loop = run.measure(_FakeWorkload(tmp_path), _tracer(), seconds=0.0, trace=False)
    assert loop.attempted == 1 and not loop.failed_ops and len(loop.durations) == 1


def test_measure_counts_a_raising_check_or_op_and_goes_on(tmp_path):
    wl = _FakeWorkload(tmp_path, bad_op=1, raise_op=2)
    tracer = _tracer()
    loop = run.measure(wl, tracer, seconds=0.0, trace=True)
    assert loop.attempted == 2 and loop.failed_ops == {1, 2}
    assert "check failed" in loop.failures[0] and "op failed" in loop.failures[1]
    assert wl.finished == [] and loop.op_roots == [] and not tracer.active


def test_measure_records_a_wrong_answer_and_the_traced_op(tmp_path):
    wl = _FakeWorkload(tmp_path, wrong_op=1)
    loop = run.measure(wl, _tracer(), seconds=0.0, trace=True)
    assert loop.failed_ops == {1} and loop.failures == ["op 1: wrong answer"]
    assert len(loop.traced_s) == len(loop.untraced_s) == 1
    assert loop.op_counts == [{"es_bulk.actions": 1}] and wl.finished == [1, 2]
