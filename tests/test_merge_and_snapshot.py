"""Merge/diff operator semantics + the versioned snapshot store
(reference DB-behavior test coverage, tests/database/test_db_behavior.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from fs_indexer_elasticsearch_spark.operators.merge import (
    insert_or_replace,
    snapshot_diff,
    upsert_newer_wins,
)
from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, payload string")


def test_upsert_newer_wins(spark):
    cur = _df(spark, [("a", 1, "old-a"), ("b", 5, "old-b")])
    batch = _df(spark, [("a", 2, "new-a"), ("b", 3, "stale-b"), ("c", 1, "new-c")])
    out = {r.k: r for r in upsert_newer_wins(cur, batch, "k", "v").collect()}
    assert out["a"].payload == "new-a"  # newer wins
    assert out["b"].payload == "old-b"  # stale batch row ignored
    assert out["c"].payload == "new-c"  # insert
    # Idempotent: re-applying the same batch changes nothing.
    again = upsert_newer_wins(
        upsert_newer_wins(cur, batch, "k", "v"), batch, "k", "v"
    )
    assert {(r.k, r.v, r.payload) for r in again.collect()} == {
        (r.k, r.v, r.payload) for r in upsert_newer_wins(cur, batch, "k", "v").collect()
    }


def test_insert_or_replace(spark):
    cur = _df(spark, [("a", 1, "old-a"), ("b", 1, "old-b")])
    batch = _df(spark, [("b", 0, "replaced-b"), ("c", 9, "new-c")])
    out = {r.k: r.payload for r in insert_or_replace(cur, batch, "k").collect()}
    assert out == {"a": "old-a", "b": "replaced-b", "c": "new-c"}  # LWW even if older


def test_snapshot_diff(spark):
    prev = _df(spark, [("a", 1, "x"), ("b", 1, "y"), ("c", 1, "z")])
    cur = _df(spark, [("b", 1, "y"), ("c", 1, "z2"), ("d", 1, "w")])
    out = {r.k: r.change for r in snapshot_diff(prev, cur, "k", ["payload"]).collect()}
    assert out == {"a": "removed", "c": "changed", "d": "added"}


def test_snapshot_store_roundtrip(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4)
    assert store.read() is None
    store.overwrite(_df(spark, [("a", 1, "p1"), ("b", 1, "p1")]))
    assert store.current_version() == 1

    store.merge(_df(spark, [("a", 2, "p2"), ("c", 1, "p1")]))
    assert store.current_version() == 2
    out = {r.k: (r.v, r.payload) for r in store.read().drop("_bucket").collect()}
    assert out == {"a": (2, "p2"), "b": (1, "p1"), "c": (1, "p1")}

    # Older batch must not regress the row (P8 staleness predicate).
    store.merge(_df(spark, [("a", 0, "stale")]))
    out = {r.k: r.payload for r in store.read().collect()}
    assert out["a"] == "p2"

    # Time travel: v2 still readable; vacuum keeps the newest 2.
    assert store.current_version() == 3
    victims = store.vacuum(keep=2)
    assert victims == [1]


def test_snapshot_store_bucket_layout(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4)
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(100)]))
    df = store.read()
    assert "_bucket" in df.columns
    buckets = {r._bucket for r in df.select("_bucket").distinct().collect()}
    assert buckets.issubset(set(range(4)))
    # Stable: same key always lands in the same bucket.
    b1 = {r.k: r._bucket for r in df.collect()}
    store.merge(_df(spark, [("k0", 2, "p2")]))
    b2 = {r.k: r._bucket for r in store.read().collect()}
    assert all(b1[k] == b2[k] for k in b1)


def test_schema_evolution_on_merge(spark, tmp_path):
    """Reference needs_schema_update/migrate_schema parity
    (db_duckdb.py:369-503; tests/database/test_db_behavior.py:117-134):
    a batch with an added or retyped column migrates the store instead
    of raising — old rows stay readable (NULL for the new column), and
    the recorded schema version bumps."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [("a", 1, "pa"), ("b", 1, "pb")]))
    assert store.schema_version() == 1
    assert not store.needs_schema_update(_df(spark, [("x", 1, "p")]))

    # Batch adds an 'owner' column (the reference's fsentry_id case).
    widened = spark.createDataFrame(
        [("b", 2, "pb2", "alice"), ("c", 1, "pc", "bob")],
        "k string, v int, payload string, owner string",
    )
    assert store.needs_schema_update(widened)
    store.merge(widened)
    out = {r.k: r for r in store.read().collect()}
    assert out["a"].owner is None  # old row readable, typed NULL
    assert out["b"].owner == "alice" and out["b"].payload == "pb2"
    assert out["c"].owner == "bob"
    assert store.schema_version() == 2

    # Batch retypes v int -> bigint: old data is cast forward.
    retyped = spark.createDataFrame(
        [("a", 5, "pa3", "carol")], "k string, v bigint, payload string, owner string"
    )
    store.merge(retyped)
    df = store.read()
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r.k: r.payload for r in df.collect()}["a"] == "pa3"
    assert store.schema_version() == 3

    # A batch MISSING a column also migrates via the union schema (the
    # store keeps owner, NULL for the narrow batch's rows).
    store.merge(
        spark.createDataFrame([("d", 1, "pd")], "k string, v bigint, payload string")
    )
    out = {r.k: r for r in store.read().collect()}
    assert out["d"].owner is None and len(out) == 4

    # Subsequent same-schema merges stay on the pruned path.
    wide = "k string, v bigint, payload string, owner string"
    again = spark.createDataFrame([("d", 9, "pd2", "dan")], wide)
    v_before = store.schema_version()
    store.merge(again)
    assert store.schema_version() == v_before


def test_merge_with_removals(spark, tmp_path):
    """merge(batch, removed=...) applies deletions inside the touched
    buckets (reference DELETE..NOT IN, scanner.py:447-454) while still
    carrying every untouched bucket's files forward."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=8
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(200)]))

    removed = spark.createDataFrame([("k1",), ("k2",)], "k string")
    store.merge(_df(spark, [("k0", 2, "p2"), ("k200", 1, "new")]), removed=removed)

    out = {r.k: r.payload for r in store.read().collect()}
    assert "k1" not in out and "k2" not in out  # deletions applied
    assert out["k0"] == "p2" and out["k200"] == "new"
    assert len(out) == 199  # 200 - 2 removed + 1 added (k0 updated in place)

    # Buckets untouched by both the batch AND the removals keep their
    # files: the v2 manifest entry is v1's relpath list, unchanged.
    m1, m2 = store._read_manifest(1), store._read_manifest(2)
    shared = [b for b in m2 if m2[b] == m1.get(b)]
    assert len(m2) - len(shared) <= 4  # ≤4 keys touched → ≤4 buckets rewritten
    assert len(shared) >= 4

    # Deleting a key also works when it's the ONLY change in its bucket.
    only_removed = spark.createDataFrame([("k10",)], "k string")
    store.merge(_df(spark, []), removed=only_removed)
    out3 = {r.k for r in store.read().collect()}
    assert "k10" not in out3 and len(out3) == 198


def test_merge_is_bucket_pruned(spark, tmp_path):
    """A merge touching one key must carry forward (not rewrite) every
    untouched bucket — the property that keeps a small batch O(batch)
    at 100 TB table size."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=8
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(200)]))
    store.merge(_df(spark, [("k0", 2, "p2")]))

    m1, m2 = store._read_manifest(1), store._read_manifest(2)
    shared = [b for b in m2 if m2[b] == m1.get(b)]
    rewritten = [b for b in m2 if b not in shared]
    assert len(rewritten) == 1  # only k0's bucket
    assert not set(m2[rewritten[0]]) & set(m1[rewritten[0]])  # fresh files
    assert len(shared) >= 6  # everything else carried forward

    # And the data is still right.
    out = {r.k: r.payload for r in store.read().collect()}
    assert out["k0"] == "p2" and len(out) == 200


def test_manifest_layout_roundtrip_and_file_reuse(spark, tmp_path):
    """Object-store layout: merge writes only the touched buckets' NEW
    files; untouched buckets' manifest entries are the SAME file paths
    as the previous version (the no-link, no-rename commit protocol)."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=8,
    )
    assert store.read() is None
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(200)]))
    assert store.current_version() == 1

    removed = spark.createDataFrame([("k1",), ("k2",)], "k string")
    store.merge(_df(spark, [("k0", 2, "p2"), ("k200", 1, "new")]), removed=removed)
    out = {r.k: r.payload for r in store.read().drop("_bucket").collect()}
    assert "k1" not in out and "k2" not in out
    assert out["k0"] == "p2" and out["k200"] == "new"
    assert len(out) == 199

    m1, m2 = store._read_manifest(1), store._read_manifest(2)
    reused = [b for b in m2 if b in m1 and m2[b] == m1[b]]
    rewritten = [b for b in m2 if m2[b] != m1.get(b)]
    assert len(rewritten) <= 4  # ≤4 keys touched → ≤4 buckets rewritten
    assert len(reused) >= 4  # the rest carried forward by reference

    # Stale batch must not regress.
    store.merge(_df(spark, [("k0", 0, "stale")]))
    assert {r.k: r.payload for r in store.read().collect()}["k0"] == "p2"


def test_manifest_commit_ignores_stray_files(spark, tmp_path):
    """A stray part file pre-existing under data/ (crashed write,
    concurrent writer) must NOT enter a new commit's manifest — file
    attribution is by per-commit directory, not before/after listing."""
    import os as _os

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(20)]))

    # Plant a stray orphan that LOOKS like a data file (both shapes:
    # a bare bucket dir and a fake crashed-commit dir).
    for stray in ("_bucket=0/part-stray.snappy.parquet",
                  "deadbeefdeadbeef/_bucket=1/part-stray.snappy.parquet"):
        p = _os.path.join(store._data_dir(), stray)
        _os.makedirs(_os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"not parquet")

    store.merge(_df(spark, [("k0", 2, "p2")]))
    manifest = {
        rel for rels in store._read_manifest(2).values() for rel in rels
    }
    assert not any("stray" in rel for rel in manifest)
    # The table still reads correctly past the strays.
    out = {r.k: r.payload for r in store.read().collect()}
    assert out["k0"] == "p2" and len(out) == 20
    # And vacuum garbage-collects the orphans (they are unreferenced).
    store.vacuum(keep=1)
    assert not any("stray" in rel for rel in store._list_data_files())


def test_manifest_vacuum_drops_unreferenced_files(spark, tmp_path):
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(50)]))
    for gen in range(2, 6):
        store.merge(_df(spark, [("k0", gen, f"p{gen}")]))
    assert store.current_version() == 5

    victims = store.vacuum(keep=2)
    assert victims == [1, 2, 3]
    import os as _os

    manifests = sorted(
        f for f in _os.listdir(store.path) if f.startswith("_MANIFEST_v")
    )
    assert manifests == ["_MANIFEST_v4.json", "_MANIFEST_v5.json"]
    # Every surviving data file is referenced; current still reads.
    referenced = {
        rel for v in (4, 5) for rels in store._read_manifest(v).values()
        for rel in rels
    }
    assert store._list_data_files() == referenced
    out = {r.k: r.payload for r in store.read().collect()}
    assert out["k0"] == "p5" and len(out) == 50


import pytest


def test_empty_table_reads_from_recorded_schema(spark, tmp_path, check_layout):
    """Deleting every row must leave a READABLE empty table (schema from
    the version's commit file), not a parquet schema-inference error."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(_df(spark, [("a", 1, "pa"), ("b", 1, "pb")]))
    removed = spark.createDataFrame([("a",), ("b",)], "k string")
    store.merge(_df(spark, []), removed=removed)

    df = store.read()
    assert df.count() == 0
    assert {"k", "v", "payload"} <= set(df.columns)
    assert not store.needs_schema_update(_df(spark, [("x", 1, "p")]))
    # And the table comes back to life on the next merge.
    store.merge(_df(spark, [("c", 1, "pc")]))
    assert {r.k for r in store.read().collect()} == {"c"}
    check_layout(store)


def test_empty_version_is_typed_by_its_own_schema(spark, tmp_path):
    """An all-deleted version keeps ITS schema after a later commit
    widens the store: a time-travel read, an empty change feed and the
    DuckDB scan of that version carry its columns, not the newer ones
    — and the empty read has the same types and nullability as a
    non-empty read of the same schema."""
    from fs_indexer_elasticsearch_spark.sinks.duckdb_file import store_scan_sql

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    v1 = store.overwrite(_df(spark, [("a", 1, "pa"), ("b", 1, "pb")]))
    removed = spark.createDataFrame([("a",), ("b",)], "k string")
    v_empty = store.merge(_df(spark, []), removed=removed)
    widened = spark.createDataFrame(
        [("c", 1, "pc", "carol")],
        "k string, v int, payload string, owner string",
    )
    store.merge(widened)
    assert "owner" in store.read().columns

    narrow = ["k", "v", "payload"]
    empty = store.read(version=v_empty)
    assert empty.count() == 0
    assert empty.schema == store.read(version=v1).schema
    assert store.read_changes(v_empty, v_empty).columns == narrow + ["_change"]
    assert store_scan_sql(store, version=v_empty) == (
        'SELECT NULL AS "k", NULL AS "v", NULL AS "payload" WHERE 1=0'
    )


def test_a_version_is_one_commit_file(spark, tmp_path):
    """Every committed version is exactly one _MANIFEST_v<N>.json next
    to the _CURRENT pointer: after overwrite, merge with meta,
    rebucket, rollback and vacuum the store directory holds nothing
    else but claim/lock files and data/."""
    import os as _os

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(12)]))
    store.merge(_df(spark, [("k0", 2, "new")]), meta={"gen": 1})
    store.rebucket(8)
    store.merge(_df(spark, [("k1", 2, "new")]))
    store.rollback(3)
    store.vacuum(keep=2)
    assert store.read_meta() == {"gen": 1}
    names = set(_os.listdir(store.path))
    assert names - {"_CURRENT", ".claims.lock", "data"} == {
        "_MANIFEST_v2.json", "_MANIFEST_v3.json",
    }


def test_insert_or_replace_collapses_duplicate_batch_keys(spark):
    """A batch carrying the same key twice must leave exactly ONE row
    per key in the table of record (INSERT OR REPLACE semantics) —
    deterministically the greatest version when version_col is given."""
    from fs_indexer_elasticsearch_spark.operators.merge import insert_or_replace

    cur = spark.createDataFrame([("a", 1, 10)], "k string, ver int, v int")
    batch = spark.createDataFrame(
        [("a", 2, 20), ("a", 3, 30), ("b", 1, 40), ("b", 2, 50)],
        "k string, ver int, v int",
    )
    out = insert_or_replace(cur, batch, "k", version_col="ver")
    rows = {r.k: r for r in out.collect()}
    assert len(rows) == 2
    assert rows["a"].ver == 3 and rows["a"].v == 30
    assert rows["b"].ver == 2 and rows["b"].v == 50
    # Without version_col: still exactly one row per key, chosen
    # deterministically (greatest full row).
    out2 = insert_or_replace(cur, batch, "k")
    assert out2.groupBy("k").count().filter("count > 1").count() == 0


def test_manifest_vacuum_prunes_emptied_commit_dirs(spark, tmp_path):
    """After vacuum deletes every data file of a retired commit, the
    commit's (now-empty) directory tree must go too — os.walk's dirs
    list is a pre-deletion snapshot, so the prune must attempt rmdir
    unconditionally rather than gate on `not dirs` (which skipped a
    commit dir whose bucket children were rmdir'd in the same walk)."""
    import os

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    # Three full overwrites → three commits' worth of data dirs.
    for v in (1, 2, 3):
        store.overwrite(_df(spark, [(f"k{i}", v, f"p{v}") for i in range(40)]))
    data_dir = store._data_dir()
    dirs_before = sum(len(d) for _, d, _ in os.walk(data_dir))
    assert dirs_before > 0
    store.vacuum(keep=1)
    # Only the surviving commit's directories remain; every walked
    # directory must still contain at least one file somewhere below.
    for root, dirs, files in os.walk(data_dir):
        if root == data_dir:
            continue
        has_content = any(f for _, _, fs in os.walk(root) for f in fs)
        assert has_content, f"empty directory survived vacuum: {root}"


def test_read_buckets_prunes_and_matches_full_read(
    spark, tmp_path, check_layout
):
    """read_buckets (the index-lookup path) returns exactly the rows
    whose _bucket is requested — pruned at the manifest file list —
    and the union over all buckets equals the full read."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=8,
    )
    assert store.read_buckets([0, 1]) is None  # empty store
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(200)]))

    full = {(r.k, r._bucket) for r in store.read().collect()}
    some = store.read_buckets([0, 3]).collect()
    assert {r._bucket for r in some} <= {0, 3}
    assert {(r.k, r._bucket) for r in some} == {
        (k, b) for (k, b) in full if b in (0, 3)
    }
    everything = {
        (r.k, r._bucket) for r in store.read_buckets(list(range(8))).collect()
    }
    assert everything == full
    assert store.read_buckets([]).count() == 0
    check_layout(store)


def test_merge_removed_requires_matching_bucket_key(spark, tmp_path):
    """Keyed deletion can't be bucket-routed when the store buckets on
    a different column than the merge key — must raise a clear error
    up front, not an AnalysisException from inside the plan."""
    store = SnapshotStore(
        spark, str(tmp_path / "s"), key="band_row", version_col="v",
        num_buckets=4, bucket_key="h",
    )
    store.overwrite(
        spark.createDataFrame([("a:0", "h1", 1)], "band_row string, h string, v long")
    )
    batch = spark.createDataFrame(
        [("b:0", "h2", 2)], "band_row string, h string, v long"
    )
    removed = spark.createDataFrame([("a:0",)], "band_row string")
    with pytest.raises(ValueError, match="bucket_key == key"):
        store.merge(batch, removed=removed)
    store.merge(batch)  # without removals the index merge works
    assert store.read().count() == 2


def test_time_travel_read_and_retention(spark, tmp_path):
    """read(version=) time-travels to any RETAINED version (immutable
    snapshots make this free); vacuum shrinks versions() and a dropped
    version raises a clear ValueError instead of a deep-plan file
    error. Meta payloads travel too."""
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    import pytest

    store = SnapshotStore(
        spark,
        str(tmp_path / "tt"),
        key="k",
        version_col="seq",
        num_buckets=4,
    )
    store.overwrite(
        spark.createDataFrame([("a", 1, "v1")], "k string, seq long, p string"),
        meta={"gen": 1},
    )
    store.merge(
        spark.createDataFrame([("a", 2, "v2")], "k string, seq long, p string")
    )
    store.merge(
        spark.createDataFrame([("b", 3, "v3")], "k string, seq long, p string")
    )
    assert store.versions() == [1, 2, 3]
    # current: a@2, b@3; version 1: a@1 only
    assert {(r.k, r.p) for r in store.read().collect()} == {
        ("a", "v2"),
        ("b", "v3"),
    }
    assert {(r.k, r.p) for r in store.read(version=1).collect()} == {
        ("a", "v1")
    }
    assert store.read_meta(version=1) == {"gen": 1}
    store.vacuum(keep=1)
    assert store.versions() == [3]
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=1)


def test_rollback_restores_state_and_gcs_dead_branch(spark, tmp_path):
    """rollback(v): atomic pointer swap back to a retained version;
    the dead branch above it (manifests, orphan data files, meta)
    is GC-ed, and a subsequent commit reuses its numbers cleanly."""
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    import pytest

    store = SnapshotStore(
        spark,
        str(tmp_path / "rb"),
        key="k",
        version_col="seq",
        num_buckets=4,
    )
    store.overwrite(
        spark.createDataFrame([("a", 1, "good")], "k string, seq long, p string"),
        meta={"gen": 1},
    )
    store.merge(
        spark.createDataFrame(
            [("a", 2, "bad"), ("b", 2, "bad")], "k string, seq long, p string"
        )
    )
    store.merge(
        spark.createDataFrame([("c", 3, "bad")], "k string, seq long, p string")
    )
    assert store.rollback(1) == 1
    assert store.versions() == [1]
    assert store._versions_on_disk() == [1]  # dead branch GC-ed, not hidden
    assert {(r.k, r.p) for r in store.read().collect()} == {("a", "good")}
    assert store.read_meta() == {"gen": 1}
    with pytest.raises(ValueError, match="not retained"):
        store.rollback(3)
    # the re-ingest after the bad night: numbering resumes at 2
    v = store.merge(
        spark.createDataFrame([("b", 5, "fixed")], "k string, seq long, p string")
    )
    assert v == 2
    assert {(r.k, r.p) for r in store.read().collect()} == {
        ("a", "good"),
        ("b", "fixed"),
    }


def test_crash_orphan_version_is_not_retained_and_vacuumed(spark, tmp_path):
    """A crashed write's commit file above the pointer must never be
    served by read(version=) — versions() excludes it — nor perturb
    the store's meta, and vacuum GCs it. The same holds for the
    ``.json.tmp`` a writer killed before its rename leaves: vacuum and
    rollback both remove it."""
    import json
    import os

    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark,
        str(tmp_path / "orph"),
        key="k",
        version_col="seq",
        num_buckets=4,
    )
    store.overwrite(
        spark.createDataFrame([("a", 1, "x")], "k string, seq long, p string")
    )
    # simulate the crash: a complete commit file above the pointer
    with open(store._manifest_path(1)) as f:
        commit = json.load(f)
    commit.update(files={}, meta={"gen": 9})
    orphan = store._manifest_path(5)
    with open(orphan, "w") as f:
        json.dump(commit, f)
    assert store.versions() == [1]
    assert store.read_meta() is None
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=5)
    store.vacuum(keep=2)
    assert not os.path.exists(orphan)

    # a writer killed between the tmp write and os.replace
    tmp = store._manifest_path(2) + ".tmp"
    for gc in (lambda: store.vacuum(keep=1), lambda: store.rollback(1)):
        with open(tmp, "w") as f:
            json.dump(commit, f)
        assert store.versions() == [1]
        gc()
        assert not os.path.exists(tmp)
        assert store.versions() == [1]


def test_rebucket_evolves_count_and_preserves_rows(
    spark, tmp_path, check_layout
):
    """rebucket = partition evolution: one O(table) rewrite under a
    new bucket count, committed as a normal version; rows identical,
    subsequent merges prune under the NEW count, and reopening adopts
    the on-disk count regardless of the constructor value."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    rows = [(f"k{i}", 1, f"p{i}") for i in range(40)]
    store.overwrite(_df(spark, rows))
    before = {(r.k, r.v, r.payload) for r in store.read().drop("_bucket").collect()}
    assert store.num_buckets == 4

    v = store.rebucket(16)
    assert v == 2 and store.num_buckets == 16
    after = {(r.k, r.v, r.payload) for r in store.read().drop("_bucket").collect()}
    assert after == before

    # A merge after the rebucket lands in the new layout and stays
    # correct; its pruned read path resolves the new count too.
    store.merge(_df(spark, [("k0", 2, "new"), ("zz", 1, "ins")]))
    out = {r.k: r.payload for r in store.read().drop("_bucket").collect()}
    assert out["k0"] == "new" and out["zz"] == "ins" and len(out) == 41
    buckets = {r._bucket for r in store.read().select("_bucket").distinct().collect()}
    assert buckets <= set(range(16)) and len(buckets) > 4

    # Pruned single-bucket read under the new count matches a filter
    # of the full read.
    want = sorted(buckets)[0]
    pruned = {r.k for r in store.read_buckets([want]).collect()}
    full = {r.k for r in store.read().filter(F.col("_bucket") == want).collect()}
    assert pruned == full and pruned

    # Reopening with a stale constructor count ADOPTS the disk truth.
    reopened = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    assert reopened.num_buckets == 16
    check_layout(reopened)


def test_rebucket_rollback_restores_old_count(spark, tmp_path):
    import os as _os

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(20)]))
    store.rebucket(8, meta={"gen": 7})
    assert store.num_buckets == 8
    assert store.read_meta() == {"gen": 7}

    store.rollback(1)
    assert store.num_buckets == 4  # the version's own layout wins
    # And the dead rebucketed branch's commit file is gone.
    assert not _os.path.exists(store._manifest_path(2))
    # Committing again after the rollback stays under the old count.
    store.merge(_df(spark, [("k0", 2, "new")]))
    assert store.num_buckets == 4


def test_rebucket_meta_carried_forward(spark, tmp_path):
    """Index sidecar state (e.g. IVF centroids) must survive a
    rebucket: meta=None carries the current version's meta forward."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=2
    )
    store.overwrite(_df(spark, [("a", 1, "p")]), meta={"centroids": [1, 2]})
    store.rebucket(8)
    assert store.read_meta() == {"centroids": [1, 2]}


def test_crash_orphan_cfg_never_read_and_vacuumed(spark, tmp_path):
    """A rebucket that died before its pointer swap leaves a commit
    file above the pointer carrying another bucket count: it must not
    perturb the effective count, and vacuum GCs it."""
    import json as _json
    import os as _os

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [("a", 1, "p"), ("b", 1, "p")]))
    with open(store._manifest_path(1)) as f:
        commit = _json.load(f)
    commit.update(files={}, num_buckets=1000)
    with open(store._manifest_path(99), "w") as f:
        _json.dump(commit, f)
    assert store.num_buckets == 4
    assert SnapshotStore(
        spark, store.path, key="k", version_col="v", num_buckets=4
    ).num_buckets == 4
    store.vacuum(keep=2)
    assert not _os.path.exists(store._manifest_path(99))


@pytest.mark.parametrize(
    "damage",
    ["parent_manifest", "wrong_format", "hardlink_layout", "time_travel"],
)
def test_store_written_in_an_older_format_is_refused(spark, tmp_path, damage):
    """A store opens only the format it writes: a commit file without
    this format's ``format`` stamp (a manifest of the previous format,
    which held only the version and its files, or another format
    number), or a directory of the retired hardlink layout (a pointer
    and a ``v1/`` directory, no commit file), raises a ValueError
    naming the store's path — at open for the current version, and at
    the read for a time-travel read of an older retained version
    (never a KeyError, never a guessed bucket count or schema)."""
    import json as _json
    import os as _os
    import re

    from fs_indexer_elasticsearch_spark.sinks.snapshot import STORE_FORMAT

    path = str(tmp_path / "snap")

    def reopen():
        return SnapshotStore(spark, path, key="k", version_col="v", num_buckets=4)

    if damage == "hardlink_layout":
        _os.makedirs(_os.path.join(path, "v1", "_bucket=0"))
        with open(_os.path.join(path, "_CURRENT"), "w") as f:
            f.write("1")
        with open(_os.path.join(path, "_LAYOUT.json"), "w") as f:
            _json.dump(
                {"key": ["k"], "bucket_key": "k", "version_col": "v",
                 "layout": "hardlink"}, f,
            )
        with pytest.raises(ValueError, match=re.escape(path)):
            reopen()
        return

    store = reopen()
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(12)]))
    store.merge(_df(spark, [("k0", 2, "new")]))
    victim = 1 if damage == "time_travel" else 2
    with open(store._manifest_path(victim)) as f:
        commit = _json.load(f)
    if damage == "wrong_format":
        commit["format"] = STORE_FORMAT + 1
    else:
        commit = {"version": victim, "files": commit["files"]}
    with open(store._manifest_path(victim), "w") as f:
        _json.dump(commit, f)
    if damage == "time_travel":
        with pytest.raises(ValueError, match=re.escape(path)):
            reopen().read(version=1)
    else:
        with pytest.raises(ValueError, match=re.escape(path)):
            reopen()


def test_merge_expected_base_pins_the_validated_state(spark, tmp_path):
    """merge(expected_base=v) is the optimistic-concurrency token for
    callers whose BATCH embeds state validated at v (the IVF add
    retry's centroid generation): a pointer that moved since the
    validation aborts with ConcurrentWriteError before any work, and
    a matching pointer commits normally."""
    from fs_indexer_elasticsearch_spark.sinks.snapshot import (
        ConcurrentWriteError,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(_df(spark, [("a", 1, "p")]))
    # Pinned to the current pointer: commits.
    v = store.merge(_df(spark, [("b", 2, "q")]), expected_base=1)
    assert v == 2
    # Pinned to a stale pointer: aborts, nothing committed.
    with pytest.raises(ConcurrentWriteError, match="validated against"):
        store.merge(_df(spark, [("c", 3, "r")]), expected_base=1)
    assert store.current_version() == 2
    assert {r.k for r in store.read().collect()} == {"a", "b"}


def test_store_identity_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "snap")
    store = SnapshotStore(spark, path, key="k", version_col="v", num_buckets=4)
    store.overwrite(_df(spark, [("a", 1, "p")]))

    # Same identity reopens fine (different bucket count is NOT
    # identity — it's versioned and adopted).
    SnapshotStore(spark, path, key="k", version_col="v", num_buckets=32)

    with pytest.raises(ValueError, match="immutable"):
        SnapshotStore(spark, path, key="k", version_col="OTHER", num_buckets=4)
    with pytest.raises(ValueError, match="immutable"):
        SnapshotStore(spark, path, key="payload", version_col="v", num_buckets=4)


def test_only_the_manifest_layout_opens(spark, tmp_path):
    """The store has one physical layout: asking for another raises a
    ValueError that names the one that exists (a directory written in
    the retired hardlink layout is refused as an older format, see
    test_store_written_in_an_older_format_is_refused)."""
    with pytest.raises(ValueError, match="manifest"):
        SnapshotStore(
            spark, str(tmp_path / "new"), key="k", version_col="v",
            layout="hardlink",
        )


def test_bucket_stats_and_maybe_rebucket_policy(spark, tmp_path, check_layout):
    """bucket_stats is metadata-only measurement; maybe_rebucket is
    the policy that grows the layout when the average bucket outgrows
    its target, and stays quiet otherwise."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=2,
    )
    assert store.bucket_stats() is None
    rows = [(f"k{i}", 1, "x" * 50) for i in range(60)]
    store.overwrite(_df(spark, rows))

    stats = store.bucket_stats()
    assert stats["num_buckets"] == 2 and stats["total_bytes"] > 0
    assert set(stats["buckets"]) <= {0, 1}
    assert stats["max_bucket_bytes"] >= stats["avg_bucket_bytes"]

    # Comfortably under target: no evolution.
    assert store.maybe_rebucket(target_bucket_bytes=10**9) is None
    assert store.num_buckets == 2

    # Tiny target: grows to the next power of two that fits, and the
    # rows survive byte-identically.
    before = {(r.k, r.v, r.payload) for r in store.read().drop("_bucket").collect()}
    v = store.maybe_rebucket(target_bucket_bytes=stats["total_bytes"] // 7)
    assert v is not None and store.num_buckets >= 8
    after = {(r.k, r.v, r.payload) for r in store.read().drop("_bucket").collect()}
    assert after == before
    # Quiet again once the layout fits the target (per-file parquet
    # overhead grew total_bytes with the file count, so re-check
    # against the NEW average rather than the old total).
    new_avg = store.bucket_stats()["avg_bucket_bytes"]
    assert store.maybe_rebucket(target_bucket_bytes=int(new_avg) + 1) is None
    check_layout(store)


def test_read_keys_point_lookup(spark, tmp_path, check_layout):
    """read_keys = the operational point lookup: same rows as a full
    read filtered, touching only the buckets the keys hash to, with
    the IN-predicate pushed into the parquet scan."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=16,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, f"p{i}") for i in range(200)]))
    want = ["k3", "k77", "k150", "nope"]

    got = store.read_keys(want)
    expect = store.read().filter(F.col("k").isin(want))
    assert {(r.k, r.payload) for r in got.collect()} == {
        (r.k, r.payload) for r in expect.collect()
    }
    assert got.count() == 3  # 'nope' matches nothing on either path

    # The key predicate reaches the scan (row-group skipping inside
    # the surviving buckets rides on this + the clustered writes).
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "k3" in plan

    # Merge then look up again: the probe hashes against the layout
    # the merge wrote (type-correct re-hash, not a cached bucket set).
    store.merge(_df(spark, [("k3", 2, "updated"), ("k999", 1, "fresh")]))
    out = {r.k: r.payload for r in store.read_keys(["k3", "k999"]).collect()}
    assert out == {"k3": "updated", "k999": "fresh"}

    # Empty key list and empty store are total, not errors.
    assert store.read_keys([]).count() == 0
    empty = SnapshotStore(
        spark, str(tmp_path / "empty"), key="k", version_col="v"
    )
    assert empty.read_keys(["a"]) is None
    check_layout(store)


def test_read_keys_prunes_buckets_and_requires_key_bucketing(spark, tmp_path):
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=32,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(300)]))
    # A one-key lookup opens exactly the one bucket's files: compare
    # the scan's file count against the manifest's total.
    total_files = sum(
        len(v) for v in store._read_manifest(store.current_version()).values()
    )
    assert total_files >= 32
    target = store._buckets_for_keys(["k42"])
    assert len(target) == 1
    # Every file the scan actually reads belongs to the one target
    # bucket — the lookup opened 1/32nd of the table.
    scanned = store.read_keys(["k42"]).inputFiles()
    assert scanned and all(f"_bucket={target[0]}/" in f for f in scanned)
    assert len(scanned) < total_files / 8

    bad = SnapshotStore(
        spark, str(tmp_path / "band"), key="k", version_col="v",
        bucket_key="payload",
    )
    bad.overwrite(_df(spark, [("a", 1, "p")]))
    with pytest.raises(ValueError, match="bucket_key == key"):
        bad.read_keys(["a"])


def test_written_files_are_key_clustered(spark, tmp_path):
    """The writers sort within partitions so every data file is
    ordered by the bucket key — the property parquet row-group
    min/max skipping depends on."""
    import pyarrow.parquet as pq

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=2
    )
    store.overwrite(
        _df(spark, [(f"k{i:04d}", 1, "p") for i in reversed(range(500))])
    )
    checked = 0
    for path in store._version_data_files(store.current_version()):
        ks = pq.read_table(path, columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks), path
        checked += 1
    assert checked >= 2


def test_read_changes_classification(spark, tmp_path, check_layout):
    """The change feed emits exactly the true delta between two
    versions: inserts/updates post-image, deletes pre-image, and a
    rewritten-but-identical row NEVER surfaces as a phantom update."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=8,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, f"p{i}") for i in range(40)]))
    store.merge(
        _df(spark, [("k3", 2, "updated"), ("k999", 2, "fresh")]),
        removed=spark.createDataFrame([("k11",)], "k string"),
    )
    ch = {r.k: r for r in store.read_changes(1, 2).collect()}
    assert {k: r._change for k, r in ch.items()} == {
        "k3": "update", "k999": "insert", "k11": "delete"
    }
    assert ch["k3"].payload == "updated" and ch["k3"].v == 2  # post-image
    assert ch["k11"].payload == "p11" and ch["k11"].v == 1  # pre-image

    # Rewriting a bucket with IDENTICAL content (stale upsert loses,
    # same-row upsert is a no-op) changes files but must emit nothing.
    store.merge(_df(spark, [("k3", 2, "updated"), ("k5", 0, "stale")]))
    assert store.changed_buckets(2, 3)  # files did change...
    assert store.read_changes(2, 3).count() == 0  # ...rows did not

    # Feed addressing is validated: unretained / inverted / same.
    assert store.read_changes(3, 3).count() == 0
    with pytest.raises(ValueError, match="not retained"):
        store.read_changes(0, 2)
    with pytest.raises(ValueError, match="v_from"):
        store.read_changes(3, 2)
    check_layout(store)


def test_read_changes_prunes_to_changed_buckets(spark, tmp_path):
    """O(changed buckets), not O(table): the feed's scan reads files
    from the buckets the merge touched — in BOTH versions — and no
    others."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=32,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(300)]))
    store.merge(_df(spark, [("k42", 2, "updated")]))
    changed = store.changed_buckets(1, 2)
    assert len(changed) == 1
    allowed = {f"_bucket={b}/" for b in changed}
    feed = store.read_changes(1, 2)
    scanned = feed.inputFiles()
    assert scanned and all(any(a in f for a in allowed) for f in scanned)
    total_files = sum(
        len(v) for v in store._read_manifest(store.current_version()).values()
    )
    assert len(scanned) < total_files / 8
    assert [(r.k, r._change) for r in feed.collect()] == [("k42", "update")]


def test_read_changes_across_rebucket_and_schema_evolution(spark, tmp_path):
    """Across a rebucket boundary bucket ids aren't comparable — the
    feed degrades to a full diff (changed_buckets None) but stays
    EXACT (a rebucket rewrites every file yet changes no rows).
    Across a schema-evolution boundary added columns compare as typed
    NULLs: pre-image rows carry NULL for columns born later."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, f"p{i}") for i in range(30)]))
    store.rebucket(8)
    assert store.changed_buckets(1, 2) is None
    assert store.read_changes(1, 2).count() == 0

    wide = spark.createDataFrame(
        [("k3", 2, "updated", "extra")], "k string, v int, payload string, note string"
    )
    store.merge(wide, removed=spark.createDataFrame([("k7",)], "k string"))
    ch = {r.k: r for r in store.read_changes(2, 3).collect()}
    assert ch["k3"]._change == "update" and ch["k3"].note == "extra"
    assert ch["k7"]._change == "delete" and ch["k7"].note is None
    # Spanning BOTH boundaries at once (v1 -> v3) also stays exact.
    spanning = {r.k: r._change for r in store.read_changes(1, 3).collect()}
    assert spanning == {"k3": "update", "k7": "delete"}


def test_read_changes_spans_rebucket_with_pruned_reads(spark, tmp_path):
    """A feed window spanning merge -> rebucket -> merge stays PRUNED:
    the version path is walked, the pure-rebucket transition (tagged
    rebucket_from) contributes zero, each merge contributes its touched
    buckets under its own count, and the union projects onto each
    endpoint's layout — so the scan reads a handful of files, never
    both full versions, and classification stays exact (no phantom
    rows from coarse-bucket cohabitants)."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(300)]))  # v1
    store.merge(_df(spark, [("k42", 2, "updated42")]))                    # v2
    assert store.rebucket(8) == 3                                         # v3
    assert store._read_commit(3)["rebucket_from"] == 2
    store.merge(_df(spark, [("k17", 2, "updated17"), ("k301", 1, "new")]))  # v4

    feed = store.read_changes(1, 4)
    rows = {r.k: r._change for r in feed.collect()}
    assert rows == {"k42": "update", "k17": "update", "k301": "insert"}

    # Pruned: ≤ 2 old-count buckets (k42's + k17-k301's collapse) on
    # the v1 side, ≤ 3 new-count buckets on the v4 side — never the
    # 4 + 8 files of the two full versions.
    scanned = feed.inputFiles()
    full = len(store._version_data_files(1)) + len(store._version_data_files(4))
    assert scanned and len(scanned) <= 5 < full

    # The pure-rebucket window alone is EMPTY without reading anything.
    assert store.read_changes(2, 3).count() == 0
    assert store.read_changes(2, 3).inputFiles() == []

    # Unprovable boundary (intermediate versions vacuumed away, so the
    # rebucket tag can't anchor): degrade to the full diff, same rows.
    store.vacuum(keep=1)
    store2 = SnapshotStore(
        spark, str(tmp_path / "snap2"), key="k", version_col="v",
        num_buckets=4,
    )
    store2.overwrite(_df(spark, [(f"k{i}", 1, "p") for i in range(50)]))
    store2.merge(_df(spark, [("k7", 2, "up")]))
    store2.rebucket(8)
    store2.merge(_df(spark, [("k9", 2, "up")]))
    store2.vacuum(keep=2)  # drops v1..v2; path can't walk the boundary
    assert store2.versions() == [3, 4]
    assert {r.k: r._change for r in store2.read_changes(3, 4).collect()} == {
        "k9": "update"
    }


_CLAIM_WORKER_SRC = """
import os, sys
sys.path.insert(0, sys.argv[4])  # repo root, passed by the test
from fs_indexer_elasticsearch_spark.sinks.snapshot import (
    ConcurrentWriteError, SnapshotStore,
)
path, counter, out = sys.argv[1], sys.argv[2], sys.argv[3]
store = SnapshotStore(None, path, key="k", version_col="v")
wins = 0
for _ in range(150):
    try:
        store._claim(1)
    except ConcurrentWriteError:
        continue
    try:
        with open(store._txn_path(1)) as f:
            assert int(f.read()) == os.getpid()
        with open(counter) as f:
            n = int(f.read())
        with open(counter, "w") as f:
            f.write(str(n + 1))
        wins += 1
    finally:
        store._release(1)
with open(out, "w") as f:
    f.write(str(wins))
"""


@pytest.mark.race
def test_claim_protocol_across_processes(tmp_path):
    """The claim layer under real MULTI-PROCESS contention (the model
    test's threads share one pid, so the pid-liveness and flock paths
    never cross a process boundary there): 4 processes hammer the SAME
    version's claim, each doing a deliberately NON-ATOMIC
    read-modify-write of a shared counter inside the hold. If mutual
    exclusion ever breaks, increments get lost and the final counter
    undercounts the recorded wins. Pure claim-file exercise — no
    SparkSession, no data; plain subprocesses (forking or spawning
    under a live py4j gateway is unreliable)."""
    import os as _os
    import subprocess
    import sys

    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    path = str(tmp_path / "snap")
    counter = str(tmp_path / "counter")
    with open(counter, "w") as f:
        f.write("0")

    import fs_indexer_elasticsearch_spark as _pkg

    repo_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(_pkg.__file__)))
    outs = [str(tmp_path / f"wins{i}") for i in range(4)]
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CLAIM_WORKER_SRC, path, counter, o, repo_root]
        )
        for o in outs
    ]
    for p in procs:
        assert p.wait(timeout=120) == 0

    wins = []
    for o in outs:
        with open(o) as f:
            wins.append(int(f.read()))
    total_wins = sum(wins)
    assert total_wins > 0, "nobody won anything — the claim path is wedged"
    with open(counter) as f:
        assert int(f.read()) == total_wins, "lost update inside the hold"

    # A dead holder's stale claim is cleared by the next claimer: fake
    # a claim from a dead pid (find one that isn't alive).
    store = SnapshotStore(None, path, key="k", version_col="v")
    dead = 99999
    while True:
        try:
            _os.kill(dead, 0)
            dead -= 1
        except ProcessLookupError:
            break
        except PermissionError:
            dead -= 1
    with open(store._txn_path(99), "w") as f:
        f.write(str(dead))
    store._claim(99)  # clears the stale claim and takes it
    with open(store._txn_path(99)) as f:
        assert int(f.read()) == _os.getpid()
    store._release(99)


@pytest.mark.race
def test_concurrent_writer_fails_fast(spark, tmp_path):
    """A racing writer is refused BEFORE writing any data: a live
    claim on the next version raises ConcurrentWriteError; a crashed
    writer's stale claim (dead pid) is cleared and the write proceeds;
    a pointer that moved since the writer read it is a prevented lost
    update, not a silent overwrite."""
    import os

    from fs_indexer_elasticsearch_spark.sinks.snapshot import (
        ConcurrentWriteError,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [("a", 1, "p")]))

    # Live claim (pid 1 = init, always alive, never us) blocks v2.
    claim = store._txn_path(2)
    with open(claim, "w") as f:
        f.write("1")
    with pytest.raises(ConcurrentWriteError, match="single-writer"):
        store.merge(_df(spark, [("a", 2, "new")]))
    with pytest.raises(ConcurrentWriteError):
        store.overwrite(_df(spark, [("a", 2, "new")]))
    assert store.current_version() == 1  # nothing committed
    assert {r.payload for r in store.read().collect()} == {"p"}

    # Stale claim: a pid that no longer runs (we spawn-and-reap one).
    import subprocess

    dead = subprocess.Popen(["true"])
    dead.wait()
    with open(claim, "w") as f:
        f.write(str(dead.pid))
    store.merge(_df(spark, [("a", 2, "new")]))  # clears + proceeds
    assert store.current_version() == 2
    assert not os.path.exists(claim)  # released after commit

    # Lost update: a writer that read base=1 before v2 committed must
    # NOT overwrite v2 — the pointer re-check under the claim refuses.
    with pytest.raises(ConcurrentWriteError, match="lost update"):
        with store._txn(1):
            pass
    assert not os.path.exists(store._txn_path(2))  # claim released

    # Failed commits release their claim too (no wedged store).
    class Boom(Exception):
        pass

    try:
        with store._txn(2):
            raise Boom()
    except Boom:
        pass
    assert not os.path.exists(store._txn_path(3))
    store.merge(_df(spark, [("b", 1, "q")]))  # store still writable
    assert store.current_version() == 3


def test_lost_update_guard_covers_derived_rewrites(spark, tmp_path):
    """The full-rewrite paths (schema migration, rebucket, explicit
    expected_base) verify the pointer against the version their DATA
    BASIS was read from — a commit that slipped in between raises
    instead of being silently folded over."""
    from fs_indexer_elasticsearch_spark.sinks.snapshot import (
        ConcurrentWriteError,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [("a", 1, "p")]))
    store.merge(_df(spark, [("b", 1, "q")]))  # pointer now 2

    # A rewrite whose basis was v1 must refuse to commit over v2.
    with pytest.raises(ConcurrentWriteError, match="moved"):
        store.overwrite(_df(spark, [("a", 1, "stale")]), expected_base=1)
    assert store.current_version() == 2
    assert {r.k for r in store.read().collect()} == {"a", "b"}  # intact

    # expected_base=None pins "the store was empty when I read it".
    with pytest.raises(ConcurrentWriteError, match="moved"):
        store.overwrite(_df(spark, [("c", 1, "r")]), expected_base=None)


@pytest.mark.race
def test_empty_claim_file_is_cleared_not_wedging(spark, tmp_path):
    """A zero-byte claim (a writer killed between creating and
    stamping it — impossible under the link protocol, but possible
    from older code or corruption) is stale by definition and must be
    cleared, not wedge the store forever."""
    import os

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [("a", 1, "p")]))
    open(store._txn_path(2), "w").close()  # empty claim
    store.merge(_df(spark, [("b", 1, "q")]))  # clears it and commits
    assert store.current_version() == 2
    assert not os.path.exists(store._txn_path(2))


def test_read_changes_update_images_both(spark, tmp_path):
    """update_images='both' emits the Delta-CDF update pair — preimage
    (old values) + postimage (new) — which is what downstream view
    maintenance subtracts/adds; inserts and deletes are unchanged."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(_df(spark, [("a", 1, "old"), ("b", 1, "pb")]))
    store.merge(
        _df(spark, [("a", 2, "new"), ("c", 1, "pc")]),
        removed=spark.createDataFrame([("b",)], "k string"),
    )
    rows = {
        (r.k, r._change): (r.v, r.payload)
        for r in store.read_changes(1, 2, update_images="both").collect()
    }
    assert rows == {
        ("a", "update_preimage"): (1, "old"),
        ("a", "update_postimage"): (2, "new"),
        ("c", "insert"): (1, "pc"),
        ("b", "delete"): (1, "pb"),
    }
    # Default stays the compact post-only shape (gate hashes unchanged).
    default = {r._change for r in store.read_changes(1, 2).collect()}
    assert default == {"insert", "update", "delete"}
    with pytest.raises(ValueError, match="update_images"):
        store.read_changes(1, 2, update_images="pre")


def test_read_changes_composite_key(spark, tmp_path):
    """The feed classifies by the FULL composite key (the substring
    index's (sid, pos) shape): same first component + different second
    is two distinct keys, never an update."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key=["k1", "k2"], version_col="v",
        num_buckets=4, bucket_key="k1",
    )
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k1 string, k2 int, v int, payload string"
    )
    store.overwrite(df([("a", 1, 1, "p1"), ("a", 2, 1, "p2"), ("b", 1, 1, "q")]))
    store.merge(df([("a", 1, 2, "updated"), ("a", 3, 1, "fresh")]))
    rows = {
        (r.k1, r.k2): (r._change, r.payload)
        for r in store.read_changes(1, 2).collect()
    }
    assert rows == {
        ("a", 1): ("update", "updated"),
        ("a", 3): ("insert", "fresh"),
    }


def test_history_and_age_based_vacuum(spark, tmp_path, check_layout):
    """history() is the DESCRIBE HISTORY surface (metadata-only commit
    log); vacuum(max_age_s=) retires versions by wall-clock age on top
    of the count bound."""
    import json as _json

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(_df(spark, [("a", 1, "p")]))
    store.merge(_df(spark, [("b", 1, "q")]), meta={"note": "idx"})
    store.merge(_df(spark, [("c", 1, "r")]))

    hist = store.history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert all(h["num_buckets"] == 4 for h in hist)
    assert all(isinstance(h["committed_at"], float) for h in hist)
    assert hist[0]["committed_at"] <= hist[-1]["committed_at"]
    assert all(h["n_files"] >= 1 and h["bytes"] > 0 for h in hist)
    assert [h["has_meta"] for h in hist] == [False, True, True]  # carried fwd
    assert [h["is_current"] for h in hist] == [False, False, True]

    # Backdate v1 by rewriting its commit file, then age-vacuum: v1
    # falls to the age bound even though keep=3 would retain it.
    commit_path = store._manifest_path(1)
    with open(commit_path) as f:
        commit = _json.load(f)
    commit["committed_at"] -= 10_000
    with open(commit_path, "w") as f:
        _json.dump(commit, f)
    assert store.vacuum(keep=3, max_age_s=3_600) == [1]
    assert store.versions() == [2, 3]
    # The current version is never age-expired.
    assert store.vacuum(keep=1, max_age_s=0) == [2]
    assert store.versions() == [3]
    assert store.read().count() == 3
    check_layout(store)


def test_upsert_dedup_current_collapses_superseded_copies(spark):
    """r13: upsert_newer_wins assumes a key-unique current side — a
    duplicated key fans every matching batch row out into one output
    row per duplicate. Stores whose layout legitimately holds
    superseded copies (IVF dead weight: bucket_key != key, rows
    re-bucketed by maintenance) opt into dedup_current=True, which
    collapses the current side to its newest row per key (full-column
    deterministic tiebreak) before the join."""
    cur = spark.createDataFrame(
        # k=a twice: superseded copy (v=1) + live copy (v=5).
        [("a", 1, "old"), ("a", 5, "live"), ("b", 2, "keep")],
        "k string, v int, payload string",
    )
    batch = spark.createDataFrame(
        [("a", 7, "newer")], "k string, v int, payload string"
    )
    # Without the flag: the duplicate current key fans out.
    naive = upsert_newer_wins(cur, batch, "k", "v").collect()
    assert len([r for r in naive if r.k == "a"]) == 2  # the defect shape
    # With it: exactly one newest row per key.
    out = sorted(
        map(tuple, upsert_newer_wins(cur, batch, "k", "v", dedup_current=True).collect())
    )
    assert out == [("a", 7, "newer"), ("b", 2, "keep")]
    # Equal-version duplicates collapse deterministically (descending
    # full-column tiebreak): "zz" beats "aa" regardless of order.
    cur2 = spark.createDataFrame(
        [("a", 5, "aa"), ("a", 5, "zz")], "k string, v int, payload string"
    ).repartition(4)
    batch2 = spark.createDataFrame([("c", 1, "x")], "k string, v int, payload string")
    out2 = sorted(
        map(tuple, upsert_newer_wins(cur2, batch2, "k", "v", dedup_current=True).collect())
    )
    assert out2 == [("a", 5, "zz"), ("c", 1, "x")]
