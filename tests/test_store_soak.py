"""Long-horizon SnapshotStore soak (r7 verdict #6): 100+ incremental
cycles on one store with keep_versions retention must show BOUNDED
on-disk state and FLAT per-cycle latency — version accrual is the
classic slow leak in pointer-swap designs, and per-commit tests never
see it. Numbers are recorded in SCALE.md."""

from __future__ import annotations

import pytest
import hashlib
import os
import time

import pyspark.sql.functions as F

from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

N_CYCLES = 100
KEEP = 2
N_BUCKETS = 8
KEYSPACE = 200  # batches cycle through this key range: upserts + inserts mix


def _disk_stats(path: str) -> tuple[int, int, int]:
    """(n_manifests, n_data_files, total_bytes) under the store."""
    n_manifests = sum(
        1
        for n in os.listdir(path)
        if n.startswith("_MANIFEST_v") and n.endswith(".json")
    )
    n_files = 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(root, fn)
            try:
                total += os.path.getsize(p)
            except OSError:
                continue
            if fn.endswith(".parquet") or (
                "_bucket=" in root and not fn.startswith((".", "_"))
            ):
                n_files += 1
    return n_manifests, n_files, total


@pytest.mark.slow
def test_store_soak_bounded_disk_and_flat_latency(spark, tmp_path):
    path = str(tmp_path / "soak")
    store = SnapshotStore(
        spark,
        path,
        key="k",
        version_col="seq",
        num_buckets=N_BUCKETS,
    )

    def batch(cycle: int):
        # 20 rows per cycle, keys sliding over the keyspace: every
        # cycle mixes updates of recent keys with fresh inserts early on.
        start = (cycle * 13) % KEYSPACE
        rows = [((start + i) % KEYSPACE, cycle, f"payload-{cycle}-{i}") for i in range(20)]
        return spark.createDataFrame(rows, "k int, seq long, payload string")

    cycle_secs: list[float] = []
    for c in range(N_CYCLES):
        t0 = time.perf_counter()
        store.merge(batch(c))
        store.vacuum(keep=KEEP)
        cycle_secs.append(time.perf_counter() - t0)

    n_manifests, n_files, total_bytes = _disk_stats(path)

    # Retention bounds metadata exactly: KEEP manifests survive.
    assert n_manifests <= KEEP
    # Data files bounded by (buckets per version x retained versions) +
    # the current version's fresh commit — NOT by cycle count. Generous
    # 2x slack over the hard bound to keep the test box-insensitive.
    assert n_files <= 2 * (N_BUCKETS * (KEEP + 1)), n_files
    # Total bytes bounded (200 tiny rows + parquet overhead per file).
    assert total_bytes < 20 * 1024 * 1024, total_bytes
    # Rows correct after 100 cycles: the keyspace saturates.
    assert store.read().count() == KEYSPACE
    # Newest seq won per key (LWW sanity on a long chain).
    max_seq = store.read().agg(F.max("seq")).collect()[0][0]
    assert max_seq == N_CYCLES - 1

    # Flat latency: the median of the last 20 cycles must not exceed
    # 3x the median of cycles 5..25 (skip JIT warmup). A version-chain
    # leak (e.g. manifests or files growing with N) trips this.
    def median(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2]

    early, late = median(cycle_secs[5:25]), median(cycle_secs[-20:])
    assert late < 3 * early, (early, late)

    # Write-claim hygiene over the long horizon: every commit claims
    # and releases, so no _TXN/pid/stale artifacts may accrue.
    leftovers = [
        n
        for n in os.listdir(path)
        if n.startswith("_TXN_") or ".pid." in n or ".stale." in n
    ]
    assert leftovers == []


@pytest.mark.slow
def test_soak_with_rebucket_policy_in_the_loop(spark, tmp_path):
    """The nightly cycle a 100 TB deployment actually runs: merge →
    maybe_rebucket → vacuum, every cycle. The policy must stay quiet
    while the corpus fits its layout, fire (possibly in steps — it
    sizes from the average at check time, and the corpus keeps
    growing) once the average bucket outgrows the target, and settle
    at a count that keeps the average under target — while rows stay
    LWW-correct and retention keeps the disk bounded across the
    evolution boundary."""
    path = str(tmp_path / "soak-evolve")
    store = SnapshotStore(
        spark, path, key="k", version_col="seq", num_buckets=2
    )
    # Target must sit comfortably above parquet's per-file overhead or
    # the overhead itself re-triggers growth forever; payloads must be
    # incompressible or the columnar encoding shrinks the corpus under
    # any target (both found empirically — constants worth knowing).
    target = 16 * 1024
    counts: list[int] = []
    n_cycles, rows_per_cycle = 30, 40
    for c in range(n_cycles):
        rows = [
            (
                c * rows_per_cycle + i,
                c,
                hashlib.md5(f"{c}-{i}".encode()).hexdigest() * 12,
            )
            for i in range(rows_per_cycle)
        ]  # all inserts: the corpus genuinely grows
        store.merge(spark.createDataFrame(rows, "k long, seq long, payload string"))
        store.maybe_rebucket(target_bucket_bytes=target)
        store.vacuum(keep=KEEP)
        counts.append(store.num_buckets)

    # The count evolved (monotonically, powers of two) and then held.
    assert counts[0] == 2 and counts[-1] > 2
    assert all(b >= a for a, b in zip(counts, counts[1:]))
    assert all((c & (c - 1)) == 0 for c in counts)
    # Settled: after its last change the policy stayed quiet — the
    # layout fits (avg under target), so every later check is a no-op.
    last_change = max(i for i in range(1, n_cycles) if counts[i] != counts[i - 1])
    assert last_change < n_cycles - 3
    assert store.bucket_stats()["avg_bucket_bytes"] <= target

    # Correctness across every evolution boundary.
    assert store.read().count() == n_cycles * rows_per_cycle
    sample = store.read().filter(F.col("k") == 5 * rows_per_cycle + 3).collect()
    assert len(sample) == 1 and sample[0].seq == 5

    # Retention still bounds metadata after evolution.
    n_manifests, _n_files, _total = _disk_stats(path)
    assert n_manifests <= KEEP
    # A post-evolution merge lands under the NEW count and stays correct.
    store.merge(
        spark.createDataFrame([(0, 999, "upd")], "k long, seq long, payload string")
    )
    assert store.num_buckets == counts[-1]
    assert store.read().filter(F.col("k") == 0).collect()[0].payload == "upd"
