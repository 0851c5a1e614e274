"""Incremental IVF index: seed+add equals single-pass build, adds are
O(delta) and idempotent, search prunes to the probed cells' buckets."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fs_indexer_elasticsearch_spark.operators.incremental_ann import IvfIndexStore
from fs_indexer_elasticsearch_spark.operators.similarity import ivf_ann_topk


def _vecs(spark, ids):
    """Deterministic 64-dim vectors: v[i][d] = ((i*31 + d*7) % 13) - 6."""
    rows = [
        (i, [float(((i * 31 + d * 7) % 13) - 6) for d in range(64)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, emb array<double>")


def test_seed_plus_add_equals_single_pass_search(spark, tmp_path):
    full = _vecs(spark, range(60))
    centroids = full.filter(F.col("vec_id") < 6)
    queries = full.filter(F.col("vec_id") % 17 == 1)

    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full.filter(F.col("vec_id") % 4 != 0), centroids, "vec_id", "emb")
    store.add(full.filter(F.col("vec_id") % 4 == 0), "vec_id", "emb", seq=1)

    got = sorted(
        map(tuple, store.search(queries, "vec_id", "emb", k=3, nprobe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_ann_topk(
                full, queries, centroids, "vec_id", "emb", k=3, nprobe=2
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_add_is_o_delta_and_idempotent(spark, tmp_path):
    full = _vecs(spark, range(40))
    centroids = full.filter(F.col("vec_id") < 4)
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full.filter(F.col("vec_id") < 30), centroids, "vec_id", "emb")
    assert store.store.read().count() == 30

    batch = _vecs(spark, range(30, 40))
    store.add(batch, "vec_id", "emb", seq=1)
    assert store.store.read().count() == 40  # grew by exactly |batch|
    store.add(batch, "vec_id", "emb", seq=2)  # retry: LWW on vec_id
    assert store.store.read().count() == 40


def test_search_reads_only_probed_buckets(spark, tmp_path):
    """nprobe cells per query bound the touched buckets; the pruned
    slice is a strict subset of the index for a single query."""
    full = _vecs(spark, range(80))
    centroids = full.filter(F.col("vec_id") < 8)
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=64)
    store.seed(full, centroids, "vec_id", "emb")

    from fs_indexer_elasticsearch_spark.operators.similarity import assign_cells

    qc = assign_cells(
        full.filter(F.col("vec_id") == 1), store.centroids(),
        "vec_id", "emb", "query_id", "qvec", 2,
    )
    touched = (
        qc.select("cid")
        .distinct()
        .withColumn("_bucket", store.store._bucket_col())
        .select("_bucket")
        .distinct()
        .count()
    )
    assert touched <= 2 < 64
    # And an empty index refuses search with a clear error.
    import pytest

    empty = IvfIndexStore(spark, str(tmp_path / "ivf2"))
    with pytest.raises(ValueError, match="seed"):
        empty.search(full.limit(1), "vec_id", "emb")


def test_caller_column_names_are_normalized(spark, tmp_path):
    """seed/add/search accept any (id_col, vec_col) pair — the
    persisted centroids are canonical (vec_id, emb), so assignment
    must normalize caller names first (r7 review finding: any name
    other than vec_id/emb crashed on the centroid select)."""
    full = _vecs(spark, range(30)).select(
        F.col("vec_id").alias("doc_id"), F.col("emb").alias("vector")
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(
        full.filter(F.col("doc_id") < 20),
        full.filter(F.col("doc_id") < 4),
        "doc_id",
        "vector",
    )
    store.add(full.filter(F.col("doc_id") >= 20), "doc_id", "vector", seq=1)
    got = store.search(
        full.filter(F.col("doc_id") == 1), "doc_id", "vector", k=3, nprobe=2
    ).collect()
    assert len(got) == 3 and all(r.cos_sim is not None for r in got)


def test_add_rejects_dimension_mismatch(spark, tmp_path):
    """A wrong-width vector must raise, not persist with a NULL-cosine
    cell-0 assignment (r7 review finding)."""
    import pytest

    full = _vecs(spark, range(20))
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full, full.filter(F.col("vec_id") < 4), "vec_id", "emb")
    bad = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0])], "vec_id long, emb array<double>"
    )
    # the message is the contract; the surfaced wrapper type varies
    # by execution path, so match on it rather than an exception tuple
    with pytest.raises(Exception, match="dims"):
        store.add(bad, "vec_id", "emb", seq=1)
    # nothing persisted
    assert store.store.read().filter(F.col("vec_id") == 100).count() == 0
    with pytest.raises(Exception, match="dims"):
        store.search(bad, "vec_id", "emb").collect()


def test_remove_vecs_enables_cross_cell_update(spark, tmp_path):
    """Embedding mutation that moves a vector across cells: remove +
    re-add leaves exactly one (new) row; search scores the new
    embedding."""
    full = _vecs(spark, range(40))
    centroids = full.filter(F.col("vec_id") < 4)
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full, centroids, "vec_id", "emb")

    moved = _vecs(spark, [200]).select(
        F.lit(7).cast("long").alias("vec_id"), "emb"
    )
    rm = spark.createDataFrame([(7,)], "vec_id long")
    store.remove_vecs(rm)
    assert store.store.read().filter(F.col("vec_id") == 7).count() == 0
    store.add(moved, "vec_id", "emb", seq=5)
    rows = store.store.read().filter(F.col("vec_id") == 7).collect()
    assert len(rows) == 1 and rows[0].ivf_seq == 5


def _write_orphan_commit(snapshot_store, version):
    """A crashed re-seed's commit file above the pointer: a copy of the
    current commit whose meta names an empty centroid set."""
    import json

    with open(snapshot_store._manifest_path(snapshot_store.current_version())) as f:
        commit = json.load(f)
    commit["meta"] = {"centroids": [], "dim": 1, "id_type": "bigint"}
    with open(snapshot_store._manifest_path(version), "w") as f:
        json.dump(commit, f)


def test_orphan_meta_is_never_resolved(spark, tmp_path):
    """A crash between the commit-file write and the pointer swap
    leaves an orphan commit file _MANIFEST_v{n} (with its meta) at
    n > pointer. Meta resolution is by EXACT version number (no
    directory-listing scan), so the committed centroid set keeps
    resolving — A5 semantics for centroids, via the snapshot's own
    commit protocol (object-store-safe, no POSIX sidecar)."""
    import os

    full = _vecs(spark, range(20))
    path = str(tmp_path / "ivf")
    store = IvfIndexStore(spark, path, num_buckets=16)
    store.seed(full, full.filter(F.col("vec_id") < 4), "vec_id", "emb")
    committed = store.store.current_version()
    good_meta = store.store.read_meta()
    # simulate the crashed re-seed: orphan commit above the pointer
    _write_orphan_commit(store.store, committed + 7)
    fresh = IvfIndexStore(spark, path, num_buckets=16)
    assert fresh.store.read_meta() == good_meta
    got = fresh.search(
        full.filter(F.col("vec_id") == 1), "vec_id", "emb", k=2
    ).collect()
    assert len(got) == 2
    # vacuum GCs the orphan (n > current pointer)
    fresh.store.vacuum(keep=2)
    assert not os.path.exists(store.store._manifest_path(committed + 7))


def test_meta_carries_forward_and_never_promotes_orphans(spark, tmp_path):
    """A LATER add() advances the pointer past a crashed re-seed's
    orphan commit file; the commit must carry the COMMITTED centroids
    forward onto its own version (overwriting the orphan), so
    assignment keeps using the committed set (meta-protocol form)."""
    full = _vecs(spark, range(30))
    path = str(tmp_path / "ivf")
    store = IvfIndexStore(spark, path, num_buckets=16)
    store.seed(
        full.filter(F.col("vec_id") < 20),
        full.filter(F.col("vec_id") < 4),
        "vec_id",
        "emb",
    )
    good_meta = store.store.read_meta()
    # crashed re-seed wrote its commit at the version the NEXT commit takes
    v_next = store.store.current_version() + 1
    _write_orphan_commit(store.store, v_next)

    store.add(full.filter(F.col("vec_id") >= 20), "vec_id", "emb", seq=1)
    assert store.store.current_version() == v_next
    # the orphan was overwritten by the carried-forward committed meta
    assert store.store.read_meta() == good_meta


def test_tombstone_removal_filters_without_index_rewrite(spark, tmp_path):
    """mode='tombstone' removal: O(removal) — the INDEX version does
    not move (only the log's), search filters the ids immediately, and
    compact_tombstones folds them in physically with one pass."""
    full = _vecs(spark, range(40))
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full, full.filter(F.col("vec_id") < 4), "vec_id", "emb")
    v_before = store.store.current_version()

    rm = spark.createDataFrame([(7,), (9,)], "vec_id long")
    store.remove_vecs(rm, mode="tombstone")
    assert store.store.current_version() == v_before  # index untouched

    got = store.search(
        full.filter(F.col("vec_id") == 1), "vec_id", "emb", k=30, nprobe=4
    ).collect()
    assert {r.neighbor_id for r in got}.isdisjoint({7, 9})

    store.compact_tombstones()
    assert store.store.read().filter(F.col("vec_id").isin(7, 9)).count() == 0
    assert store.tombstones.ids() is None or store.tombstones.ids().isEmpty()
    got2 = store.search(
        full.filter(F.col("vec_id") == 1), "vec_id", "emb", k=30, nprobe=4
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_string_vector_ids_supported(spark, tmp_path):
    """The width guard must not do arithmetic on the id column —
    string ids are legal (r7 review finding)."""
    full = _vecs(spark, range(20)).select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "emb",
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full, full.limit(4), "vec_id", "emb")
    got = store.search(full.limit(2), "vec_id", "emb", k=2).collect()
    assert len(got) == 4 and all(
        r.neighbor_id.startswith("doc-") and r.cos_sim is not None for r in got
    )


def test_retrain_refreshes_centroids_and_search_works(spark, tmp_path):
    """retrain(): k-means centroids (deterministic seeding) re-seed the
    index atomically; the new centroid set replaces the old in the
    version meta, adds keep working against it."""
    full = _vecs(spark, range(40))
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full, full.filter(F.col("vec_id") < 4), "vec_id", "emb")
    meta_before = store.store.read_meta()

    store.retrain(full, "vec_id", "emb", k=6, iterations=2)
    meta_after = store.store.read_meta()
    assert meta_after != meta_before
    assert len(meta_after["centroids"]) <= 6
    assert store.store.read().count() == 40  # corpus re-assigned, not lost

    store.add(_vecs(spark, range(40, 45)), "vec_id", "emb", seq=1)
    got = store.search(
        full.filter(F.col("vec_id") == 1), "vec_id", "emb", k=3, nprobe=2
    ).collect()
    assert len(got) == 3 and all(r.cos_sim is not None for r in got)


def test_add_retry_is_generation_pinned(spark, tmp_path):
    """add(max_retries>0) must never rebase stale cell assignments
    over a concurrent retrain: when the claim race is lost TO a
    retrain (simulated: the first merge attempt performs a real
    retrain and then raises ConcurrentWriteError, exactly what the
    loser observes), the retry loop re-checks the centroid generation
    and aborts with a generation error instead of committing cids
    computed against the replaced centroids. Uncontended adds with
    max_retries>0 still commit normally."""
    import pytest as _pytest

    from fs_indexer_elasticsearch_spark.sinks.snapshot import (
        ConcurrentWriteError,
    )

    full = _vecs(spark, range(40))
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(full.filter(F.col("vec_id") < 30),
               full.filter(F.col("vec_id") < 4), "vec_id", "emb")

    # Uncontended: the retry path commits like the plain path.
    store.add(_vecs(spark, range(30, 35)), "vec_id", "emb", seq=1,
              max_retries=3)
    assert store.store.read().count() == 35

    real_merge = store.store.merge
    calls = {"n": 0}

    def losing_merge(batch, removed=None, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            # A retrain wins the claim this add was racing for...
            store.retrain(full.filter(F.col("vec_id") < 35),
                          "vec_id", "emb", k=6, iterations=1)
            # ...and the loser sees exactly this:
            raise ConcurrentWriteError("lost the claim to the retrain")
        return real_merge(batch, removed=removed, **kw)

    store.store.merge = losing_merge
    try:
        with _pytest.raises(ConcurrentWriteError, match="generation"):
            store.add(_vecs(spark, range(35, 40)), "vec_id", "emb", seq=2,
                      max_retries=5)
    finally:
        store.store.merge = real_merge
    # Nothing from the aborted batch leaked into the index.
    assert store.store.read().filter(F.col("vec_id") >= 35).count() == 0


@pytest.mark.slow
def test_split_hot_cells_rebalances_and_search_stays_correct(spark, tmp_path):
    """r10 verdict #7: a cell absorbing the bulk of the adds splits
    into two children — the parent centroid is retired, ONLY hot-cell
    vectors re-assign, cold cells' rows are untouched, tombstoned ids
    stay hidden, and search over the split index still returns the
    exact brute-force neighbors for every query probing enough cells
    (recall gate: exact at nprobe covering the children)."""
    # Two tight clusters far apart: ids 0..39 near +e0 ("hot" region),
    # ids 100..104 near -e0. Centroid 0 sits on the hot region,
    # centroid 1 on the cold one — every hot vector lands in cell 0.
    def vec(base, i):
        v = [0.0] * 8
        v[0] = base
        v[1 + (i % 3)] = 1.0 + (i % 5) * 0.1
        return v

    hot_rows = [(i, vec(10.0, i)) for i in range(40)]
    cold_rows = [(100 + i, vec(-10.0, i)) for i in range(5)]
    corpus = spark.createDataFrame(
        hot_rows + cold_rows, "vec_id long, emb array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [10.0] + [0.0] * 7), (1, [-10.0] + [0.0] * 7)],
        "vec_id long, emb array<double>",
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(corpus, cents, "vec_id", "emb")

    # Tombstone one hot id before the split: it must not resurface.
    store.remove_vecs(
        spark.createDataFrame([(7,)], "vec_id long"), mode="tombstone"
    )

    sizes = {
        r.cid: r.n
        for r in store.store.read().groupBy("cid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert sizes[0] == 40 and sizes[1] == 5  # the skew

    v = store.split_hot_cells(threshold=20, seq=1)
    assert v is not None
    meta = store.store.read_meta()
    ids = {r[0] for r in meta["centroids"]}
    assert 0 not in ids and 1 in ids  # parent retired, cold kept
    assert len(ids) == 3  # two children + cold
    assert meta["centroid_gen"] > 1
    # Tombstone generation untouched: deletions survive the split.
    live = store.tombstones.apply(store.store.read(), "vec_id")
    live_sizes = {
        r.cid: r.n
        for r in live.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    children = sorted(i for i in live_sizes if i not in (0, 1))
    assert len(children) == 2
    # Both children materially populated (39 live hot rows split).
    assert sum(live_sizes[c] for c in children) == 39
    assert min(live_sizes[c] for c in children) >= 5
    assert live_sizes[1] == 5  # cold cell untouched

    # Search correctness: probing the two children (nprobe=3 covers
    # children + cold) returns the exact brute-force neighbors.
    from fs_indexer_elasticsearch_spark.operators.similarity import (
        brute_force_topk,
    )

    queries = corpus.filter(F.col("vec_id").isin(3, 11, 102))
    got = sorted(
        map(
            tuple,
            store.search(queries, "vec_id", "emb", k=3, nprobe=3).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            brute_force_topk(
                store.tombstones.apply(corpus, "vec_id"),
                queries, "vec_id", "emb", k=3,
            ).collect(),
        )
    )
    assert got == want and len(got) == 9
    # The tombstoned id appears nowhere.
    assert all(r[1] != 7 for r in got)

    # Repeated splits quiesce: an imbalanced child above the
    # threshold is re-flagged and re-split until no LIVE cell
    # exceeds it (bounded: each round strictly shrinks the largest
    # hot cell).
    s = 2
    while store.split_hot_cells(threshold=20, seq=s) is not None:
        s += 1
        assert s < 10, "split did not quiesce"
    meta = store.store.read_meta()
    live_ids = [i for i, _e in meta["centroids"]]
    live = store.tombstones.apply(
        store.store.read().filter(F.col("cid").isin(live_ids)), "vec_id"
    )
    quiesced = {
        r.cid: r.n
        for r in live.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(quiesced.values()) <= 20
    # Search stays exact probing every live cell.
    got2 = sorted(
        map(
            tuple,
            store.search(
                queries, "vec_id", "emb", k=3, nprobe=len(live_ids)
            ).collect(),
        )
    )
    assert got2 == want

    # Adds keep working against the new generation.
    store.add(
        spark.createDataFrame([(200, vec(10.0, 1))], "vec_id long, emb array<double>"),
        "vec_id", "emb", seq=s + 1,
    )
    assert store.store.read().filter(F.col("vec_id") == 200).count() == 1


def test_split_hot_cells_guards_and_degenerate_cases(spark, tmp_path):
    """r11 review fixes: (a) seq must be STRICTLY greater than every
    hot row's ivf_seq (a tie loses the LWW upsert when a child cid
    hashes into the parent's bucket — silent stranding); (b) hot
    detection counts LIVE rows only (a cell hot purely by tombstoned
    rows must not split — in the extreme its centroid would be
    retired with no children); (c) a cell of identical vectors
    (degenerate 2-means: one child) is skipped, so loop-until-None
    callers terminate."""
    import pytest

    # Cell 0: 30 IDENTICAL vectors (degenerate). Cell 1: 5 cold rows.
    ident = [1.0] + [0.0] * 7
    rows = [(i, ident) for i in range(30)] + [
        (100 + i, [-1.0] + [0.0] * 6 + [0.1 * i]) for i in range(5)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cents = spark.createDataFrame(
        [(0, ident), (1, [-1.0] + [0.0] * 7)], "vec_id long, emb array<double>"
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=8)
    store.seed(corpus, cents, "vec_id", "emb")

    # (a) tie seq rejected loudly (seeded rows carry ivf_seq=0).
    with pytest.raises(ValueError, match="strictly greater"):
        store.split_hot_cells(threshold=10, seq=0)

    # (c) the identical cell is degenerate: skipped, no commit, and
    # the centroid set is untouched — loop terminates immediately.
    assert store.split_hot_cells(threshold=10, seq=1) is None
    assert store.store.current_version() == 1
    assert {r[0] for r in store.store.read_meta()["centroids"]} == {0, 1}

    # (b) tombstone 25 of cell 0's rows: only 5 live — not hot at
    # threshold 10 even though 30 physical rows sit in the cell.
    store.remove_vecs(
        spark.createDataFrame([(i,) for i in range(25)], "vec_id long"),
        mode="tombstone",
    )
    assert store.split_hot_cells(threshold=10, seq=1) is None
    assert store.store.current_version() == 1  # no version churn


def test_split_hot_cells_race_raises_retryable_not_terminal(spark, tmp_path):
    """r11 advice: a concurrent add() landing a row with
    ivf_seq >= seq BETWEEN the split's version capture and its
    hot-row scan used to trip the strictly-greater seq guard's
    TERMINAL ValueError — aborting a race retry_concurrent was
    configured to ride out. The hot read and the max-seq validation
    are now pinned to the captured v0, so the race surfaces only at
    commit time as the retryable ConcurrentWriteError (expected_base
    mismatch). Deterministic interleaving: the store reports the
    stale v0 on the split's first current_version() call, with the
    conflicting add already committed on disk."""
    import pytest

    from fs_indexer_elasticsearch_spark.sinks.snapshot import (
        ConcurrentWriteError,
    )

    def vec(base, i):
        v = [0.0] * 8
        v[0] = base
        v[1 + (i % 3)] = 1.0 + (i % 5) * 0.1
        return v

    hot_rows = [(i, vec(10.0, i)) for i in range(40)]
    cold_rows = [(100 + i, vec(-10.0, i)) for i in range(5)]
    corpus = spark.createDataFrame(
        hot_rows + cold_rows, "vec_id long, emb array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [10.0] + [0.0] * 7), (1, [-10.0] + [0.0] * 7)],
        "vec_id long, emb array<double>",
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(corpus, cents, "vec_id", "emb")
    v0 = store.store.current_version()

    # The "concurrent" add: committed after v0, carrying ivf_seq == 5
    # — equal to the seq the split will be called with, i.e. exactly
    # the row that used to flip the guard to a terminal ValueError.
    store.add(
        spark.createDataFrame([(200, vec(10.0, 0))], "vec_id long, emb array<double>"),
        "vec_id",
        "emb",
        seq=5,
    )
    assert store.store.current_version() > v0

    real_cv = store.store.current_version
    calls = {"n": 0}

    def stale_first():
        calls["n"] += 1
        return v0 if calls["n"] == 1 else real_cv()

    store.store.current_version = stale_first
    try:
        with pytest.raises(ConcurrentWriteError):
            store.split_hot_cells(threshold=20, seq=5)
    finally:
        del store.store.current_version


def test_merge_cold_cells_retires_and_search_stays_correct(spark, tmp_path):
    """Cold-cell maintenance (the split's inverse): cells whose live
    count decayed below the threshold are retired, their surviving
    vectors re-assign to the nearest surviving centroid, full cells'
    rows are untouched, tombstoned ids stay hidden, and search over
    the merged index still returns the exact brute-force neighbors
    when probing every live cell."""
    def vec(base, i):
        v = [0.0] * 8
        v[0] = base
        v[1 + (i % 3)] = 1.0 + (i % 5) * 0.1
        return v

    # Cell 0: 20 rows near +e0. Cell 1: 3 rows near -e0 (cold).
    # Cell 2: 2 rows near +e4-ish (cold, and closer to cell 0's
    # region than to cell 1's).
    def vec2(i):
        v = [0.0] * 8
        v[0] = 8.0
        v[4] = 3.0 + i
        return v

    rows = (
        [(i, vec(10.0, i)) for i in range(20)]
        + [(100 + i, vec(-10.0, i)) for i in range(3)]
        + [(200 + i, vec2(i)) for i in range(2)]
    )
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cents = spark.createDataFrame(
        [
            (0, [10.0] + [0.0] * 7),
            (1, [-10.0] + [0.0] * 7),
            (2, [8.0, 0.0, 0.0, 0.0, 4.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, emb array<double>",
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(corpus, cents, "vec_id", "emb")

    # Tombstone one cold-cell id: it must NOT be re-assigned.
    store.remove_vecs(
        spark.createDataFrame([(101,)], "vec_id long"), mode="tombstone"
    )

    v = store.merge_cold_cells(threshold=5, seq=1)
    assert v is not None
    meta = store.store.read_meta()
    ids = {r[0] for r in meta["centroids"]}
    assert ids == {0}  # both cold cells retired, the full one kept
    assert meta["centroid_gen"] > 0

    live = store.tombstones.apply(store.store.read(), "vec_id")
    # Every surviving cold vector now has a copy under cid 0 (the
    # only live centroid); the tombstoned 101 was not re-assigned.
    # (Old copies under the retired cids are the documented dead
    # weight — never probed — so the assertion filters to LIVE cells,
    # same as the split test.)
    reassigned = {
        r.vec_id
        for r in live.filter(
            (F.col("cid") == 0) & (F.col("vec_id") >= 100)
        ).collect()
    }
    assert reassigned == {100, 102, 200, 201}

    # Search (probing the one live cell) == brute force over live rows.
    from fs_indexer_elasticsearch_spark.operators.similarity import (
        brute_force_topk,
    )

    queries = corpus.filter(F.col("vec_id").isin(3, 100, 200))
    got = sorted(
        map(
            tuple,
            store.search(queries, "vec_id", "emb", k=2, nprobe=1).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            brute_force_topk(
                store.tombstones.apply(corpus, "vec_id"),
                queries,
                "vec_id",
                "emb",
                k=2,
            ).collect(),
        )
    )
    assert got == want and len(got) == 6
    assert all(r[1] != 101 for r in got)  # tombstone hidden


def test_merge_cold_cells_guards_and_degenerates(spark, tmp_path):
    """(a) tie seq rejected loudly; (b) empty cold cell = pure
    centroid retirement (meta-only commit); (c) all-cells-cold keeps
    the fullest as survivor; (d) single-cell index is a no-op; (e) no
    cold cells is a no-op."""
    import pytest

    def vec(base, i):
        v = [0.0] * 8
        v[0] = base
        v[1 + (i % 3)] = 1.0 + (i % 5) * 0.1
        return v

    rows = [(i, vec(10.0, i)) for i in range(6)] + [
        (100, vec(-10.0, 0))
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cents = spark.createDataFrame(
        [
            (0, [10.0] + [0.0] * 7),
            (1, [-10.0] + [0.0] * 7),
            (2, [0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # EMPTY cell
        ],
        "vec_id long, emb array<double>",
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=8)
    store.seed(corpus, cents, "vec_id", "emb")

    # (a) seeded rows carry ivf_seq=0 -> seq=0 ties and must raise.
    with pytest.raises(ValueError, match="strictly greater"):
        store.merge_cold_cells(threshold=2, seq=0)

    # (b)+(c): threshold 100 makes EVERY cell cold; cell 0 (6 rows)
    # survives, cell 1's row re-assigns, empty cell 2 just retires.
    v = store.merge_cold_cells(threshold=100, seq=1)
    assert v is not None
    assert {r[0] for r in store.store.read_meta()["centroids"]} == {0}
    assert store.store.read().filter("vec_id = 100").first().cid == 0

    # (d) single-cell index: no-op, no version churn.
    assert store.merge_cold_cells(threshold=100, seq=2) is None

    # (e) fresh two-cell index with both cells warm: no-op.
    store2 = IvfIndexStore(spark, str(tmp_path / "ivf2"), num_buckets=8)
    store2.seed(
        corpus,
        cents.filter("vec_id < 2"),
        "vec_id",
        "emb",
    )
    assert store2.merge_cold_cells(threshold=1, seq=1) is None


def test_maintain_cells_policy_quiesces_and_search_exact(spark, tmp_path):
    """The split+merge policy: a skewed index (one bloated cell, one
    near-empty cell) quiesces within the round bound — every live
    cell lands inside (merge_threshold, split_threshold] up to
    degenerate-cell honesty — search stays exactly brute force, a
    second invocation is a no-op, and the hysteresis guard rejects an
    oscillation-prone band pair loudly."""
    import pytest

    def vec(base, i):
        v = [0.0] * 8
        v[0] = base
        v[1 + (i % 3)] = 1.0 + (i % 5) * 0.1
        return v

    rows = (
        [(i, vec(10.0, i)) for i in range(40)]      # hot cell 0
        + [(100 + i, vec(-10.0, i)) for i in range(2)]  # cold cell 1
    )
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cents = spark.createDataFrame(
        [(0, [10.0] + [0.0] * 7), (1, [-10.0] + [0.0] * 7)],
        "vec_id long, emb array<double>",
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(corpus, cents, "vec_id", "emb")

    with pytest.raises(ValueError, match="oscillates"):
        store.maintain_cells(split_threshold=20, merge_threshold=6, seq=1)

    committed = store.maintain_cells(
        split_threshold=20, merge_threshold=4, seq=1
    )
    assert committed  # at least one split (40 > 20) and the merge
    live_ids = [r[0] for r in store.store.read_meta()["centroids"]]
    sizes = {
        r.cid: r.n
        for r in store.tombstones.apply(
            store.store.read().filter(F.col("cid").isin(live_ids)), "vec_id"
        )
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert max(sizes.values()) <= 20
    # The 2-row cold cell merged away (its rows live on elsewhere).
    assert min(sizes.values()) > 4 or len(sizes) == 1

    from fs_indexer_elasticsearch_spark.operators.similarity import (
        brute_force_topk,
    )

    queries = corpus.filter(F.col("vec_id").isin(3, 100))
    got = sorted(
        map(
            tuple,
            store.search(
                queries, "vec_id", "emb", k=3, nprobe=len(live_ids)
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            brute_force_topk(corpus, queries, "vec_id", "emb", k=3).collect(),
        )
    )
    assert got == want

    # Steady state: the policy is idempotent.
    assert store.maintain_cells(
        split_threshold=20, merge_threshold=4, seq=100
    ) == []


def test_merge_cold_cells_race_raises_retryable_not_terminal(spark, tmp_path):
    """Same r11-advice contract as the split, on the merge side: a
    concurrent add() landing ivf_seq == seq between the version
    capture and the cold-row scan must surface as the retryable
    expected_base ConcurrentWriteError, never the terminal seq
    ValueError — the cold read and the max-seq validation are pinned
    to the captured v0."""
    import pytest

    from fs_indexer_elasticsearch_spark.sinks.snapshot import (
        ConcurrentWriteError,
    )

    def vec(base, i):
        v = [0.0] * 8
        v[0] = base
        v[1 + (i % 3)] = 1.0 + (i % 5) * 0.1
        return v

    rows = [(i, vec(10.0, i)) for i in range(20)] + [
        (100, vec(-10.0, 0)), (101, vec(-10.0, 1))
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cents = spark.createDataFrame(
        [(0, [10.0] + [0.0] * 7), (1, [-10.0] + [0.0] * 7)],
        "vec_id long, emb array<double>",
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=16)
    store.seed(corpus, cents, "vec_id", "emb")
    v0 = store.store.current_version()

    # Concurrent add into the COLD cell with ivf_seq == the seq the
    # merge will use — the row an unpinned read would trip over.
    store.add(
        spark.createDataFrame(
            [(200, vec(-10.0, 2))], "vec_id long, emb array<double>"
        ),
        "vec_id",
        "emb",
        seq=3,
    )
    real_cv = store.store.current_version
    calls = {"n": 0}

    def stale_first():
        calls["n"] += 1
        return v0 if calls["n"] == 1 else real_cv()

    store.store.current_version = stale_first
    try:
        with pytest.raises(ConcurrentWriteError):
            store.merge_cold_cells(threshold=5, seq=3)
    finally:
        del store.store.current_version


@pytest.mark.slow
def test_repeated_maintenance_never_duplicates_rows(spark, tmp_path):
    """r13 regression: repeated split/merge maintenance compounded
    EXACT duplicate rows geometrically — a moved vec's batch row
    full-outer-joined BOTH its live copy and a dead-weight copy
    sitting in another touched bucket (upsert assumes a key-unique
    current side; the IVF layout violates that by design). With
    dedup_current=True on the index store, N maintenance cycles keep
    at most one row per (vec_id, cid, ivf_seq), live-cell counts stay
    exact, and ivf_vis survives every re-stamp unchanged."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        IvfIndexStore,
    )

    DIM = 8

    def vec(i):
        if i % 2 == 0:  # hot half: one region with substructure
            v = [10.0] + [0.0] * (DIM - 1)
            v[1 + (i % 4)] = 2.0
        else:
            v = [0.0] * DIM
            v[2 + (i % 6)] = 10.0
        for d in range(DIM):
            v[d] += ((i * 13 + d * 5) % 11) * 0.02
        return v

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=8)
    store.seed(
        spark.createDataFrame([(i, vec(i)) for i in range(10)], schema),
        spark.createDataFrame([(0, vec(0)), (1, vec(1))], schema),
        "vec_id",
        "emb",
    )
    for e in range(5):
        ids = range(100 + e * 10, 110 + e * 10)
        store.add(
            spark.createDataFrame([(i, vec(i)) for i in ids], schema),
            "vec_id",
            "emb",
            seq=(e + 1) * 64,
        )
        store.maintain_cells(
            split_threshold=8, merge_threshold=2, seq=(e + 1) * 64 + 1
        )
        df = store.store.read()
        # No exact duplicates anywhere in the store.
        assert (
            df.groupBy("vec_id", "cid", "ivf_seq")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter("c > 1")
            .count()
            == 0
        )
        live = [i for i, _e in store.store.read_meta()["centroids"]]
        live_rows = df.filter(F.col("cid").isin(live))
        # Live cells hold each vec at most once (counts are exact).
        assert (
            live_rows.groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter("c > 1")
            .count()
            == 0
        )
    # Visibility survived every re-stamp: each vec's newest row still
    # carries the seq of the add that introduced it.
    newest = {}
    for r in store.store.read().collect():
        if r.vec_id not in newest or r.ivf_seq > newest[r.vec_id][0]:
            newest[r.vec_id] = (r.ivf_seq, r.ivf_vis)
    for vid, (_s, vis) in newest.items():
        expected = 0 if vid < 100 else ((vid - 100) // 10 + 1) * 64
        assert vis == expected, (vid, vis, expected)


@pytest.mark.slow
def test_large_centroid_regime_sidecar(spark, tmp_path):
    """The 10⁵-centroid regime (r13 verdict #3): seeding past
    CENTROID_META_MAX spills the centroid rows to a versioned parquet
    sidecar — the meta stays a POINTER + COUNT (O(1) bytes at any k),
    the driver never materializes the vectors, and seed / search /
    add / maintain_cells all stay green. Search is verified against
    an independent reference computed from the same assignment
    function directly on the corpus frames (no store)."""
    import json

    import pyspark.sql.types as T

    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        IvfIndexStore,
    )
    from fs_indexer_elasticsearch_spark.operators.similarity import (
        _ranked_topk,
        assign_cells,
    )
    from fs_indexer_elasticsearch_spark.functions.rounding import stable_round
    from fs_indexer_elasticsearch_spark.functions.vectors import cosine

    K_CELLS = 100_000
    DIM = 4

    def emb_expr():
        # Deterministic pseudo-embedding per id, dim 4, JVM-side.
        return F.array(
            *[
                (
                    F.pmod(F.col("vec_id") * (7 + d) + d * 13, F.lit(97))
                    - 48.0
                ).cast("double")
                for d in range(DIM)
            ]
        )

    cents = spark.range(K_CELLS).select(
        F.col("id").alias("vec_id"), emb_expr().alias("emb")
    )
    corpus = spark.range(200_000, 200_200).select(
        F.col("id").alias("vec_id"), emb_expr().alias("emb")
    )
    store = IvfIndexStore(spark, str(tmp_path / "bigivf"), num_buckets=16)
    v = store.seed(corpus, cents, "vec_id", "emb")
    assert v == 1

    # Meta is O(1): pointer + count, no inline rows; the raw JSON file
    # stays tiny at k = 1e5.
    meta = store.store.read_meta()
    assert "centroids" not in meta
    assert meta["centroid_count"] == K_CELLS
    assert meta["centroids_ref"] == "CENTROIDS_v1"
    raw = len(json.dumps(meta))
    assert raw < 2048, f"meta is {raw} bytes — not O(1)"
    assert store.centroid_count() == K_CELLS
    assert store.centroids().count() == K_CELLS

    # Search == independent reference (assignment computed directly on
    # the frames, bypassing the store entirely).
    queries = spark.range(300_000, 300_005).select(
        F.col("vec_id").alias("vec_id") if False else F.col("id").alias("vec_id"),
        emb_expr().alias("emb"),
    )

    def reference(corp):
        cc = assign_cells(corp, cents, "vec_id", "emb", "vec_id", "emb", 1)
        qc = assign_cells(
            queries, cents, "vec_id", "emb", "query_id", "qvec", 2
        )
        scored = (
            cc.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("emb").alias("nvec"),
                "cid",
            )
            .join(qc, "cid")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                stable_round(cosine("qvec", "nvec"), 6).alias("cos_sim"),
            )
        )
        return _ranked_topk(scored, 3)

    got = sorted(
        map(tuple, store.search(queries, "vec_id", "emb", k=3, nprobe=2).collect())
    )
    want = sorted(map(tuple, reference(corpus).collect()))
    assert got == want

    # add(): O(delta) maintenance in the large regime.
    batch = spark.range(200_200, 200_260).select(
        F.col("id").alias("vec_id"), emb_expr().alias("emb")
    )
    store.add(batch, "vec_id", "emb", seq=1)
    got2 = sorted(
        map(tuple, store.search(queries, "vec_id", "emb", k=3, nprobe=2).collect())
    )
    want2 = sorted(map(tuple, reference(corpus.unionByName(batch)).collect()))
    assert got2 == want2

    # maintain_cells in the large regime, COLD side: with a few
    # hundred vectors over 100k cells nearly every cell is empty, so
    # a threshold-1 cold merge is the mass-retire path — a pure
    # centroid-set shrink (no cold cell has rows to move). Content
    # trivially preserved; the sidecar and O(1) meta must follow.
    live_before = {
        r.vec_id for r in store.store.read().select("vec_id").collect()
    }
    v_m = store.merge_cold_cells(1, seq=2)
    assert v_m is not None
    meta2 = store.store.read_meta()
    assert "centroids" not in meta2
    # survivors = exactly the cells that held at least one row
    assert 1 <= meta2["centroid_count"] <= 260 + 60
    assert store.centroids().count() == meta2["centroid_count"]
    assert len(json.dumps(meta2)) < 2048
    assert {
        r.vec_id for r in store.store.read().select("vec_id").collect()
    } == live_before
    out = store.search(queries, "vec_id", "emb", k=3, nprobe=2)
    assert len(out.collect()) > 0


def test_large_regime_split_hot_cell(spark, tmp_path):
    """A REAL hot-cell split in the large (sidecar) regime, with
    controlled geometry: k = CENTROID_META_MAX + 1 tips the store
    into the sidecar representation, centroid 0 owns an isolated
    direction (positive first axis; all others negative-first-axis),
    and 150 spread vectors land in its cell — the split must commit,
    grow the centroid count, keep the meta O(1), and lose no row."""
    import json

    import pyspark.sql.types as T

    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        CENTROID_META_MAX,
        IvfIndexStore,
    )

    DIM = 4
    k = CENTROID_META_MAX + 1
    # centroid 0: +first-axis; centroids 1..k: clustered negative-first.
    cent_rows = [(0, [1000.0, 0.0, 0.0, 0.0])] + [
        (
            i,
            [
                -1000.0 - (i % 50),
                float((i * 7) % 23),
                float((i * 11) % 29),
                float((i * 13) % 31),
            ],
        )
        for i in range(1, k)
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    cents = spark.createDataFrame(cent_rows, schema)
    hot_rows = [
        (
            500_000 + i,
            [
                1000.0,
                float((i * 3) % 17),
                float((i * 5) % 19),
                float((i * 7) % 13),
            ],
        )
        for i in range(150)
    ]
    corpus = spark.createDataFrame(hot_rows, schema)
    store = IvfIndexStore(spark, str(tmp_path / "splitivf"), num_buckets=8)
    store.seed(corpus, cents, "vec_id", "emb")
    meta = store.store.read_meta()
    assert "centroids_ref" in meta and meta["centroid_count"] == k
    # every hot row in cell 0
    assert store.store.read().filter(F.col("cid") == 0).count() == 150

    committed = store.maintain_cells(
        split_threshold=100, merge_threshold=0, seq=1
    )
    assert committed, "expected a split commit"
    meta2 = store.store.read_meta()
    assert "centroids" not in meta2
    assert meta2["centroid_count"] > k
    assert store.centroids().count() == meta2["centroid_count"]
    assert len(json.dumps(meta2)) < 2048
    live = store.tombstones.apply(
        store.store.read().join(
            F.broadcast(store.centroids().select(F.col("vec_id").alias("cid"))),
            "cid",
            "semi",
        ),
        "vec_id",
    )
    assert {r.vec_id for r in live.select("vec_id").collect()} == {
        v for v, _ in hot_rows
    }


def test_large_regime_vacuum_gcs_centroid_sidecars(spark, tmp_path):
    """IvfIndexStore.vacuum sweeps sidecars no retained version's meta
    references — and never one a retained meta still points at (a
    merge carries the ref forward, so consecutive versions share one
    sidecar)."""
    import os

    import pyspark.sql.types as T

    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        CENTROID_META_MAX,
        IvfIndexStore,
    )

    k = CENTROID_META_MAX + 1
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )

    def vec(i):
        return [float((i * 3 + d) % 11) for d in range(4)]

    cents = spark.createDataFrame([(i, vec(i)) for i in range(k)], schema)
    corpus = spark.createDataFrame(
        [(10_000 + i, vec(i)) for i in range(30)], schema
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=4)
    store.seed(corpus, cents, "vec_id", "emb")  # v1 + CENTROIDS_v1
    # re-seed: v2 + CENTROIDS_v2 (v1's sidecar becomes garbage once
    # v1 is vacuumed)
    store.seed(corpus, cents, "vec_id", "emb")
    # two adds carry CENTROIDS_v2's ref forward (shared sidecar)
    store.add(
        spark.createDataFrame([(20_000, vec(1))], schema),
        "vec_id", "emb", seq=1,
    )
    store.add(
        spark.createDataFrame([(20_001, vec(2))], schema),
        "vec_id", "emb", seq=2,
    )
    names = {
        n for n in os.listdir(str(tmp_path / "ivf"))
        if n.startswith("CENTROIDS_v")
    }
    assert names == {"CENTROIDS_v1", "CENTROIDS_v2"}

    store.vacuum(keep=2)  # retains v3, v4 — both reference CENTROIDS_v2
    names = {
        n for n in os.listdir(str(tmp_path / "ivf"))
        if n.startswith("CENTROIDS_v")
    }
    assert names == {"CENTROIDS_v2"}
    # the shared sidecar still serves
    assert store.centroids().count() == k
    assert len(store.search(corpus.limit(3), "vec_id", "emb", k=2).collect()) > 0
