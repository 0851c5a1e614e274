"""The benchmark's workloads: one class each, driven by ``run.py``.

A workload builds its fixtures in ``setup`` (untimed, counted in
``setup_s``), then the runner calls ``prepare`` (untimed: input churn),
``op`` (timed: one operation, closed loop, one client), ``check``
(untimed: the operation's output checks) and ``finish`` (untimed:
release) once per operation. Every call into the library goes through
its public functions.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from collections import Counter
from datetime import date, datetime

import pyspark.sql.functions as F

import gen
import tablegen

# nightly_files: the largest tree whose steady-state cycle fits one
# measured window (see README.md, "Sizing"); query_sf: the scale factor
# of the query workload's seeded tables.
SIZES = {
    "full": {"nightly_files": 2_000, "view_rows": 10_000, "query_sf": 0.001},
    "smoke": {"nightly_files": 800, "view_rows": 2_000, "query_sf": 0.001},
}


def link_fetcher(file_id: str, path: str) -> dict:
    """Deterministic stand-in for the direct-link API (runs in the
    Python workers, so it is a module-level function they can import)."""
    return {
        "direct_link": f"lucid://links/file/{file_id[:16]}",
        "link_type": "v2",
        "fsentry_id": f"13:{int(file_id[:8], 16) % 100000}",
    }


def tree_stats(path: str) -> dict[int, int]:
    """``{inode: size}`` of the regular files under ``path``."""
    out: dict[int, int] = {}
    for d, _, names in os.walk(path):
        for n in names:
            st = os.lstat(os.path.join(d, n))
            out[st.st_ino] = st.st_size
    return out


def space_amp(stores) -> float:
    """Bytes of unique inodes under each store's directory ÷ bytes of
    the store's current-version data files."""
    unique = live = 0
    for store in stores:
        unique += sum(tree_stats(store.path).values())
        df = store.read()
        for f in df.inputFiles() if df is not None else ():
            live += os.path.getsize(f.removeprefix("file:"))
    return unique / live


def bulk_counts(bulk_dir: str | None) -> tuple[int, int, int]:
    """(index actions, delete actions, bytes) in a bulk NDJSON dir."""
    n_index = n_delete = nbytes = 0
    if bulk_dir is None or not os.path.isdir(bulk_dir):
        return 0, 0, 0
    for name in os.listdir(bulk_dir):
        if not name.startswith("part-"):
            continue
        p = os.path.join(bulk_dir, name)
        nbytes += os.path.getsize(p)
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.startswith('{"index"'):
                    n_index += 1
                elif line.startswith('{"delete"'):
                    n_delete += 1
    return n_index, n_delete, nbytes


def _cell(v) -> str:
    """One result cell as digest text: floats rounded to 6 decimals,
    timestamps to microseconds, lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result: columns in
    name order, rows sorted by their text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _expect(failures: list[str], what: str, got, want) -> None:
    if got != want:
        failures.append(f"{what}: got {got!r}, want {want!r}")


class Nightly:
    """Incremental cycles against a store the setup built with a full
    first cycle: seeded churn before each cycle, publish
    "changed", direct links on (``link_fetcher``), keep_versions=3. One
    operation is ``run_pipeline`` plus collecting its rollup, which is
    when the bulk NDJSON is on disk and every stage has run.

    One untimed incremental cycle follows the full one in set-up: as
    the JIT compiles the delta path, a process's first incremental cycle
    costs about half again the CPU time of the next, and how much of
    that compiling lands in a given cycle swings from run to run."""

    WARMUP = 1

    def __init__(self, spark, work: str, seed: int, sizes: dict, tracer) -> None:
        from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore
        from fs_indexer_elasticsearch_spark.sources.config import PipelineConfig

        self.spark, self.work, self.seed = spark, work, seed
        self.sizes, self.tracer = sizes, tracer
        self.out_dir = os.path.join(work, "out")
        self.cfg = PipelineConfig(
            root_path=os.path.join(work, "tree"),
            snapshot_path=os.path.join(work, "snap"),
            publish_mode="changed",
            direct_links_enabled=True,
            keep_versions=3,
        )

        def store(name: str, key: str, version_col: str):
            return SnapshotStore(
                spark,
                os.path.join(self.cfg.snapshot_path, name),
                key=key,
                version_col=version_col,
                num_buckets=self.cfg.num_buckets,
                layout=self.cfg.snapshot_layout,
            )

        self.files = store("fs_entries", "id", "modified_time")
        self.links = store("direct_links", "file_id", "last_updated")

    def setup(self) -> None:
        self.tree = gen.build_tree(self.cfg.root_path, self.sizes["nightly_files"], self.seed)
        self.finish(self.op())  # the full first cycle builds the store

    def prepare(self) -> None:
        self.churn = gen.churn(self.tree)
        self.links_v0 = self.links.current_version()
        self.files_v0 = self.files.current_version()

    def op(self):
        from fs_indexer_elasticsearch_spark.pipeline import run_pipeline

        with self.tracer.span("pipeline.run_pipeline"):
            result = run_pipeline(
                self.spark, self.cfg, out_dir=self.out_dir, link_fetcher=link_fetcher
            )
        with self.tracer.span("rollup.collect"):
            rollup = result.rollup.collect()
        return result, rollup

    def _fetches(self) -> int:
        """Link rows this cycle wrote, from the links store's change feed."""
        feed = self.links.read_changes(self.links_v0, self.links.current_version())
        return feed.filter(F.col("_change") != "delete").count()

    def check(self, out) -> list[str]:
        result, rollup = out
        c, t = self.churn, self.tree
        failures: list[str] = []
        st = result.stats
        _expect(failures, "stats.files", int(st.get("files") or 0), t.n_files)
        _expect(failures, "stats.dirs", int(st.get("dirs") or 0), t.n_dirs)
        _expect(failures, "stats.total_bytes", int(st.get("total_bytes") or 0), t.total_bytes)
        want_top = t.top_level_totals()
        got_top = {
            r["directory"]: (int(r["total_size"]), int(r["file_count"]), int(r["dir_count"]))
            for r in rollup
            if r["directory"] in want_top
        }
        _expect(failures, "rollup top-level totals", got_top, want_top)
        _expect(failures, "store rows", self.files.read().count(), t.n_entries)
        diff = Counter(
            {r["change"]: r["count"] for r in result.diff.groupBy("change").count().collect()}
        )
        _expect(failures, "diff added", diff["added"], c.added)
        _expect(failures, "diff removed", diff["removed"], c.removed)
        _expect(failures, "diff changed", diff["changed"], c.changed)
        n_index, n_delete, _ = bulk_counts(result.bulk_dir)
        _expect(failures, "bulk index actions", n_index, c.added + c.changed)
        _expect(failures, "bulk delete actions", n_delete, c.removed)
        self.fetches = self._fetches()
        _expect(failures, "link fetches", self.fetches, c.added + c.modified)
        files = result.entries.filter(F.col("type") == "file").select("id")
        links = self.links.read().select(F.col("file_id").alias("id"))
        _expect(failures, "files without a link row", files.join(links, "id", "left_anti").count(), 0)
        return failures

    def layer_counts(self, out, written: dict[int, int]) -> dict[str, float]:
        result, _ = out
        n_index, n_delete, nbytes = bulk_counts(result.bulk_dir)
        c = self.churn
        changed = self.files.changed_buckets(self.files_v0, self.files.current_version())
        return {
            "snapshot.bytes_written": sum(written.values()),
            "snapshot.files_written": len(written),
            "snapshot.buckets_rewritten": len(changed or []),
            "enrich.fetches": self.fetches,
            "enrich.fetch_ratio": (c.added + c.modified) / self.fetches if self.fetches else 0.0,
            "es_bulk.actions": n_index + n_delete,
            "es_bulk.bytes": nbytes,
        }

    def stores(self):
        return [self.files, self.links]

    def watched_dir(self) -> str:
        return self.cfg.snapshot_path

    def finish(self, out) -> None:
        out[0].release()

    def walker_probe(self) -> tuple[float, int]:
        """One ``scan_filesystem`` → ``to_fs_entries`` pass over the tree,
        consumed by a no-op write: (seconds, entries)."""
        import time

        from fs_indexer_elasticsearch_spark.functions import skip_filter
        from fs_indexer_elasticsearch_spark.sources.walker import (
            scan_filesystem,
            to_fs_entries,
        )

        root, skips = self.cfg.root_path, self.cfg.skip_patterns
        t0 = time.perf_counter()
        entries = to_fs_entries(scan_filesystem(self.spark, root, skips), root)
        entries.filter(skip_filter(F.col("relative_path"), skips)).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0, self.tree.n_entries


class ViewMaintain:
    """Joined-view maintenance under small repeated deltas, the last
    step of each ``query_suite`` pass. Each cycle commits a seeded fact
    delta (1% of orders re-priced, 1% inserted, 0.5% deleted) to the
    orders store, then maintains the orders ⋈ customer per-nation top-5
    view (with its count and sum) from the orders store's change feed,
    fed its previous output (the steady state: the base is never
    rescanned), and vacuums the orders store to three versions. The
    customer store stays at its first version: a dim delta would add a
    second commit and change feed to every pass, which the run budget
    does not hold. The expected view comes from a pure-Python model of
    both tables, so it checks the store as well as the maintainer.

    The stores live in the run's work directory, so the library's own
    ``incremental_view_*`` queries, which keep their stores under a
    fixed system temp path, are not used here."""

    GROUP = "c_nationkey"
    TOP_K = 5
    NATIONS = 25

    def __init__(self, spark, work: str, seed: int, sizes: dict, tracer) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.sizes, self.tracer = sizes, tracer
        self.n_rows = sizes["view_rows"]
        self.n_cust = max(100, self.n_rows // 10)
        self.root = os.path.join(work, "views")

    def _fact_df(self, rows):
        return self.spark.createDataFrame(
            [(k, self.version, c, cents / 100.0) for k, (c, cents) in rows],
            "o_orderkey long, v long, o_custkey long, price double",
        )

    def _dim_df(self, rows):
        return self.spark.createDataFrame(
            [(c, self.version, n) for c, n in rows], "c_custkey long, v long, c_nationkey long"
        )

    def _expected(self) -> dict[int, tuple[int, int, list[int]]]:
        """``{nation: (n, s, topk)}`` of the model's current tables."""
        per: dict[int, list[int]] = {}
        for cust, cents in self.orders.values():
            per.setdefault(self.nation[cust], []).append(cents)
        return {
            g: (len(v), sum(v), sorted(v, reverse=True)[: self.TOP_K]) for g, v in per.items()
        }

    def setup(self) -> None:
        from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

        def store(name, key):
            return SnapshotStore(
                self.spark, os.path.join(self.root, name), key=key,
                version_col="v", num_buckets=16, layout="manifest",
            )

        rng = random.Random(f"{self.seed}/views")
        self.orders = {
            k: (rng.randrange(self.n_cust), rng.randrange(1, 1_000_000))
            for k in range(self.n_rows)
        }
        self.nation = {c: rng.randrange(self.NATIONS) for c in range(self.n_cust)}
        self.next_key, self.version = self.n_rows, 1
        self.fact, self.dim = store("orders", "o_orderkey"), store("customer", "c_custkey")
        self.fact.overwrite(self._fact_df(self.orders.items()))
        self.dim.overwrite(self._dim_df(self.nation.items()))
        # The previous output every cycle is fed, here from the model,
        # so each timed cycle runs the chained (steady-state) path.
        self.view = self.spark.createDataFrame(
            [(g, n, s, top) for g, (n, s, top) in sorted(self._expected().items())],
            f"{self.GROUP} long, n long, s long, topk array<long>",
        )

    def prepare(self) -> None:
        """Draw this cycle's deltas and apply them to the model."""
        self.version += 1
        rng = random.Random(f"{self.seed}/views/{self.version}")
        live = sorted(self.orders)
        n_upd, n_del = len(live) // 100, len(live) // 200
        picked = rng.sample(live, n_upd + n_del)
        upserts = []
        for k in picked[:n_upd]:
            self.orders[k] = (self.orders[k][0], rng.randrange(1, 1_000_000))
            upserts.append((k, self.orders[k]))
        for k in range(self.next_key, self.next_key + n_upd):
            self.orders[k] = (rng.randrange(self.n_cust), rng.randrange(1, 1_000_000))
            upserts.append((k, self.orders[k]))
        self.next_key += n_upd
        self.deleted = picked[n_upd:]
        for k in self.deleted:
            del self.orders[k]
        self.upserts = upserts

    def op(self):
        from fs_indexer_elasticsearch_spark.operators.ivm import maintain_joined_top_k

        v_from = self.fact.current_version()
        removed = self.spark.createDataFrame([(k,) for k in self.deleted], "o_orderkey long")
        self.fact.merge(self._fact_df(self.upserts), removed=removed)
        dim_v = self.dim.current_version()
        with self.tracer.span("ivm.maintain_joined_top_k"):
            view = maintain_joined_top_k(
                self.fact, self.dim, v_from, self.fact.current_version(),
                fact_key_col="o_custkey", dim_key_col="c_custkey",
                group_col=self.GROUP, k=self.TOP_K, old_view=self.view,
                dim_window=(dim_v, dim_v),
            )
            rows = view.collect()
        self.fact.vacuum(keep=3)
        return view.schema, rows

    def check(self, out) -> list[str]:
        failures: list[str] = []
        got = {r[self.GROUP]: (r["n"], r["s"], list(r["topk"])) for r in out[1]}
        _expect(failures, "joined top-k view", got, self._expected())
        return failures

    def layer_counts(self, out, written: dict[int, int]) -> dict[str, float]:
        v = self.fact.current_version()
        return {
            "snapshot.bytes_written": sum(written.values()),
            "snapshot.files_written": len(written),
            "snapshot.buckets_rewritten": len(self.fact.changed_buckets(v - 1, v) or []),
        }

    def stores(self):
        return [self.fact, self.dim]

    def watched_dir(self) -> str:
        return self.root

    def finish(self, out) -> None:
        schema, rows = out
        self.view = self.spark.createDataFrame(rows, schema)


class QuerySuite:
    """Read-side analytics plus view maintenance. One operation is one
    pass over the ``tablegen.SUITE`` queries on seeded tables written in
    set-up (``tablegen``), each collected, then one ``ViewMaintain``
    cycle. Every query result is checked by row count and digest
    against the query's DuckDB oracle SQL run on the same tables in
    set-up. Two untimed warm-up passes run first: a fresh JVM spends
    about half of its first pass in JIT and Spark code generation, and
    the second pass still swings with how far the JIT got."""

    WARMUP = 2

    def __init__(self, spark, work: str, seed: int, sizes: dict, tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.sf = sizes["query_sf"]
        self.sf_dir = os.path.join(work, "tables")
        self.view = ViewMaintain(spark, work, seed, sizes, tracer)

    def setup(self) -> None:
        import duckdb

        from fs_indexer_elasticsearch_spark.plans import QUERIES
        from fs_indexer_elasticsearch_spark.plans.registry import ORACLES

        names = tablegen.write_tables(self.sf_dir, self.sf, self.seed)
        con = duckdb.connect()
        for t in names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected = {}
        for name in tablegen.SUITE:
            rel = con.sql(ORACLES[name])
            self.expected[name] = digest(list(rel.columns), rel.fetchall())
        con.close()
        self.queries = {name: QUERIES[name] for name in tablegen.SUITE}
        self.view.setup()

    def prepare(self) -> None:
        self.view.prepare()

    def op(self):
        results = {}
        for name, query in self.queries.items():
            with self.tracer.span(f"query.{name}"):
                df = query(self.spark, self.sf_dir)
                results[name] = (df.columns, df.collect())
        return results, self.view.op()

    def check(self, out) -> list[str]:
        results, view_out = out
        failures: list[str] = []
        for name, (columns, rows) in results.items():
            _expect(failures, f"{name} (rows, digest)", digest(columns, rows), self.expected[name])
        return failures + self.view.check(view_out)

    def layer_counts(self, out, written: dict[int, int]) -> dict[str, float]:
        return self.view.layer_counts(out[1], written)

    def stores(self):
        return self.view.stores()

    def watched_dir(self) -> str:
        return self.view.watched_dir()

    def finish(self, out) -> None:
        self.view.finish(out[1])


WORKLOADS = {"nightly": Nightly, "query_suite": QuerySuite}
