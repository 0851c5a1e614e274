"""ES bulk formatting, DuckDB interop, direct-link enrichment."""

from __future__ import annotations

import glob
import json

import pytest

import pyspark.sql.functions as F

from fs_indexer_elasticsearch_spark.operators.enrich import (
    discover_link_work,
    enrich_with_links,
    fake_link_fetcher,
    fetch_direct_links,
)
from fs_indexer_elasticsearch_spark.sinks.duckdb_file import read_duckdb, write_duckdb
from fs_indexer_elasticsearch_spark.sinks.es_bulk import (
    bulk_actions,
    delete_actions,
    format_documents,
    write_bulk_file,
)


def _entries(spark):
    rows = [
        (
            "id-1",
            "a.txt",
            "/d/a.txt",
            "/mnt/d/a.txt",
            "file",
            1536,
            "txt",
            "",
            "2024-01-02 10:00:00",
            "2024-01-01 10:00:00",
            "2024-03-01 00:00:00",
        ),
        (
            "id-2",
            "d",
            "/d",
            "/mnt/d",
            "directory",
            None,
            "",
            "",
            "2024-01-02 10:00:00",
            "2024-01-01 10:00:00",
            "2024-03-01 00:00:00",
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "id string, name string, relative_path string, filepath string, type string,"
        "size_bytes long, extension string, checksum string, modified_time string,"
        "creation_time string, last_seen string",
    )
    for c in ("modified_time", "creation_time", "last_seen"):
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def test_format_documents_and_bulk(spark, tmp_path):
    docs = format_documents(_entries(spark))
    rows = {r.id: r for r in docs.collect()}
    assert rows["id-1"].size == "1.5 KB"
    assert rows["id-1"].modified_time == "2024-01-02T10:00:00"  # ISO format
    assert rows["id-1"].direct_link == ""  # empty default
    assert rows["id-2"].size_bytes is None

    out = str(tmp_path / "bulk")
    write_bulk_file(bulk_actions(docs, "fs-entries"), out)
    lines = []
    for part in glob.glob(out + "/part-*"):
        with open(part) as f:
            lines += [l for l in f.read().splitlines() if l]
    assert len(lines) == 4  # action + source per doc
    actions = [json.loads(l) for l in lines if '"index"' in l and "_id" in l]
    assert {a["index"]["_id"] for a in actions} == {"id-1", "id-2"}
    assert all(a["index"]["_index"] == "fs-entries" for a in actions)
    sources = [json.loads(l) for l in lines if '"index"' not in l]
    assert {s["id"] for s in sources} == {"id-1", "id-2"}


def test_delete_actions(spark):
    ids = spark.createDataFrame([("id-9",), ("id-8",)], "id string")
    acts = [json.loads(r.value) for r in delete_actions(ids, "fs-entries").collect()]
    assert {a["delete"]["_id"] for a in acts} == {"id-8", "id-9"}


def test_duckdb_roundtrip(spark, tmp_path):
    df = _entries(spark).select("id", "relative_path", "size_bytes", "modified_time")
    db = str(tmp_path / "files.duckdb")
    assert write_duckdb(df, db, "lucidlink_files") == 2
    back = read_duckdb(spark, db, "lucidlink_files")
    assert {r.id for r in back.collect()} == {"id-1", "id-2"}
    # Queryable by plain DuckDB (the oracle interop contract).
    import duckdb

    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM lucidlink_files").fetchone()[0] == 2
    con.close()


def test_link_work_discovery_and_enrichment(spark):
    entries = _entries(spark)
    # No link table yet → every file is work (dirs excluded).
    work = discover_link_work(entries, None)
    assert {r.id for r in work.collect()} == {"id-1"}

    links = fetch_direct_links(work, fake_link_fetcher("v2"))
    got = links.collect()
    assert len(got) == 1
    assert got[0].file_id == "id-1"
    assert got[0].direct_link.startswith("lucid://links/file/")
    assert got[0].link_type == "v2"

    enriched = {r.id: r for r in enrich_with_links(entries, links).collect()}
    assert enriched["id-1"].direct_link.startswith("lucid://")
    assert enriched["id-2"].direct_link == ""  # left-join miss default

    # Freshness: a link newer than the file's mtime → no work
    # (direct_links.py:223-233 predicate).
    stale_check = discover_link_work(entries, links)
    assert stale_check.count() == 0


def test_sync_actions_from_changes(spark, tmp_path):
    """CDF-driven ES sync: index actions for inserted/updated keys
    with post-image sources, delete actions for removed keys, nothing
    for untouched keys — the reference's diff-then-sync loop served
    from commit metadata."""
    from fs_indexer_elasticsearch_spark.sinks.es_bulk import (
        sync_actions_from_changes,
    )
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(
        spark.createDataFrame(
            [(f"k{i}", 1, f"p{i}") for i in range(10)],
            "k string, v int, payload string",
        )
    )
    store.merge(
        spark.createDataFrame(
            [("k3", 2, "updated"), ("k99", 1, "fresh")],
            "k string, v int, payload string",
        ),
        removed=spark.createDataFrame([("k7",)], "k string"),
    )

    lines = [
        ln
        for r in sync_actions_from_changes(store, "files", 1, 2).collect()
        for ln in r.value.split("\n")
    ]
    acts = [json.loads(ln) for ln in lines]
    idx_ids = {a["index"]["_id"] for a in acts if "index" in a}
    del_ids = {a["delete"]["_id"] for a in acts if "delete" in a}
    assert idx_ids == {"k3", "k99"}  # update + insert only
    assert del_ids == {"k7"}
    sources = {
        json.loads(lines[i + 1])["id"]: json.loads(lines[i + 1])
        for i, a in enumerate(acts)
        if "index" in a
    }
    assert sources["k3"]["payload"] == "updated"  # post-image
    assert sources["k3"]["v"] == 2
    # Untouched keys ship nothing: 2 index pairs + 1 delete.
    assert len(acts) == 5


def test_store_scan_sql_external_duckdb_read(spark, tmp_path):
    """store_scan_sql: plain DuckDB reads the exact snapshot Spark
    serves — current and time-travel versions, and the pinned file
    list survives a subsequent merge."""
    import duckdb

    from fs_indexer_elasticsearch_spark.sinks.duckdb_file import store_scan_sql
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    store.overwrite(
        spark.createDataFrame(
            [(f"k{i}", 1, f"p{i}") for i in range(20)],
            "k string, v int, payload string",
        )
    )
    store.merge(
        spark.createDataFrame(
            [("k3", 2, "updated")], "k string, v int, payload string"
        ),
        removed=spark.createDataFrame([("k7",)], "k string"),
    )

    def via_duck(sql):
        return {
            (r[0], r[1], r[2])
            for r in duckdb.sql(f"SELECT k, v, payload FROM ({sql})").fetchall()
        }

    def via_spark(version=None):
        return {
            (r.k, r.v, r.payload)
            for r in store.read(version=version)
            .select("k", "v", "payload")
            .collect()
        }

    v2_sql = store_scan_sql(store)
    assert via_duck(v2_sql) == via_spark()
    assert via_duck(store_scan_sql(store, version=1)) == via_spark(1)

    # Pinned: the SQL handed out before a later merge still reads
    # the version it named (immutable files), not the new pointer.
    store.merge(
        spark.createDataFrame(
            [("k99", 1, "fresh")], "k string, v int, payload string"
        )
    )
    assert via_duck(v2_sql) == via_spark(2)

    with pytest.raises(ValueError, match="not retained"):
        store_scan_sql(store, version=99)


def test_sync_actions_format_docs_key_as_id(spark, tmp_path):
    """The id-conflict guard's own remediation must work: a
    format_docs that emits the store key AS 'id' (original key column
    dropped) flows through; key + distinct 'id' coexisting raises."""
    from fs_indexer_elasticsearch_spark.sinks.es_bulk import (
        sync_actions_from_changes,
    )
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="doc_key", version_col="v",
        num_buckets=4,
    )
    store.overwrite(
        spark.createDataFrame(
            [(f"k{i}", 1, f"p{i}") for i in range(5)],
            "doc_key string, v int, payload string",
        )
    )
    store.merge(
        spark.createDataFrame(
            [("k2", 2, "updated")], "doc_key string, v int, payload string"
        )
    )
    acts = sync_actions_from_changes(
        store, "idx", 1, 2,
        format_docs=lambda df: df.withColumnRenamed("doc_key", "id"),
    ).collect()
    got = [json.loads(r.value.split("\n")[0]) for r in acts]
    assert [a["index"]["_id"] for a in got if "index" in a] == ["k2"]

    with pytest.raises(ValueError, match="BOTH an 'id' column"):
        sync_actions_from_changes(
            store, "idx", 1, 2,
            format_docs=lambda df: df.withColumn("id", F.lit("x")),
        )


def test_sync_actions_composite_key(spark, tmp_path):
    """CDC publish from a COMPOSITE-key store: the _id is the
    colon-joined key columns (the streaming feed-store encoding), the
    delete path mirrors it, and the id is stable across repeated
    derivations (round-trip id stability — the r8 gap where a store
    keyed on (relative_path, snapshot_domain) could not sync)."""
    from fs_indexer_elasticsearch_spark.sinks.es_bulk import (
        sync_actions_from_changes,
    )
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key=["path", "domain"],
        version_col="v", num_buckets=4, bucket_key="path",
    )
    store.overwrite(
        spark.createDataFrame(
            [(f"p{i}", f"d{i % 2}", 1, f"x{i}") for i in range(8)],
            "path string, domain string, v int, payload string",
        )
    )
    # Composite removals can't route through merge(removed=...) on a
    # bucket_key!=key store; express the delete as a full overwrite of
    # the surviving rows plus one update.
    survivors = (
        store.read()
        .drop("_bucket")
        .filter(~((F.col("path") == "p3") & (F.col("domain") == "d1")))
    )
    updated = survivors.withColumn(
        "payload",
        F.when(
            (F.col("path") == "p2") & (F.col("domain") == "d0"),
            F.lit("updated"),
        ).otherwise(F.col("payload")),
    ).withColumn(
        "v",
        F.when(
            (F.col("path") == "p2") & (F.col("domain") == "d0"), F.lit(2)
        ).otherwise(F.col("v")),
    )
    store.overwrite(updated)

    def collect_ids():
        acts = [
            json.loads(ln)
            for r in sync_actions_from_changes(store, "files", 1, 2).collect()
            for ln in r.value.split("\n")
        ]
        idx = {a["index"]["_id"] for a in acts if "index" in a}
        dels = {a["delete"]["_id"] for a in acts if "delete" in a}
        return idx, dels, acts

    idx_ids, del_ids, acts = collect_ids()
    assert idx_ids == {"p2:d0"}
    assert del_ids == {"p3:d1"}
    # Round-trip stability: a second derivation yields identical ids.
    assert collect_ids()[:2] == (idx_ids, del_ids)
    # The source doc carries the serialized id column + post-image.
    lines = [
        r.value.split("\n")
        for r in sync_actions_from_changes(store, "files", 1, 2).collect()
    ]
    docs = {
        json.loads(pair[1])["id"]: json.loads(pair[1])
        for pair in lines
        if "index" in json.loads(pair[0])
    }
    assert docs["p2:d0"]["payload"] == "updated"

    # A pre-existing 'id' column is an explicit error, not a silent
    # re-key.
    store2 = SnapshotStore(
        spark, str(tmp_path / "snap2"), key=["id", "domain"],
        version_col="v", num_buckets=4, bucket_key="id",
    )
    store2.overwrite(
        spark.createDataFrame(
            [("a", "d0", 1)], "id string, domain string, v int"
        )
    )
    store2.overwrite(
        spark.createDataFrame(
            [("a", "d0", 2)], "id string, domain string, v int"
        )
    )
    with pytest.raises(ValueError, match="composite store key"):
        sync_actions_from_changes(store2, "files", 1, 2).collect()


def test_publish_mode_changed_republishes_link_only_changes(spark, tmp_path):
    """publish_mode='changed' + direct links: a file whose LINK changed
    while its fs entry did not must still republish (the r8 advice gap:
    enabling direct_links on an existing corpus backfills links for
    unchanged files — invisible to the fs_entries feed alone)."""
    import os

    from fs_indexer_elasticsearch_spark.pipeline import run_pipeline
    from fs_indexer_elasticsearch_spark.sources.config import PipelineConfig

    root = tmp_path / "tree"
    for i in range(4):
        (root / f"dir{i}").mkdir(parents=True)
        (root / f"dir{i}" / f"f{i}.txt").write_text("x" * (i + 1))

    # The cycle counters count the committed table, which here is
    # always the tree (4 dirs + 4 files, directories sized NULL).
    entries = list(root.rglob("*"))
    tree = {
        "files": sum(p.is_file() for p in entries),
        "dirs": sum(p.is_dir() for p in entries),
        "total_bytes": sum(p.stat().st_size for p in entries if p.is_file()),
    }

    def counters(result):
        return {k: result.stats[k] for k in tree}

    cfg = PipelineConfig(
        root_path=str(root),
        snapshot_path=str(tmp_path / "snap"),
        publish_mode="changed",
        direct_links_enabled=False,
    )
    r1 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out1"))
    assert counters(r1) == tree
    r1.release()

    # Cycle 2: NO fs change, but direct links newly enabled — every
    # file gets a fresh link, so every doc must ship despite an empty
    # fs change feed.
    cfg.direct_links_enabled = True
    r2 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out2"))
    assert counters(r2) == tree
    lines = []
    for part in glob.glob(os.path.join(str(tmp_path / "out2"), "bulk", "part-*")):
        with open(part) as f:
            lines.extend(ln for ln in f.read().splitlines() if ln)
    actions = [json.loads(ln) for ln in lines[::2]]
    docs = [json.loads(ln) for ln in lines[1::2]]
    # Only FILES get links (directories never had a link change), so
    # exactly the files republish — and each carries its fresh link.
    assert len([a for a in actions if "index" in a]) == r2.stats["files"]
    assert all(d["type"] == "file" for d in docs)
    assert all(d["direct_link"].startswith("lucid://") for d in docs)
    r2.release()

    # Cycle 3: nothing changed at all (links fresh, fs unchanged) —
    # the changed publish ships zero index actions.
    r3 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out3"))
    assert counters(r3) == tree
    lines3 = []
    for part in glob.glob(os.path.join(str(tmp_path / "out3"), "bulk", "part-*")):
        with open(part) as f:
            lines3.extend(ln for ln in f.read().splitlines() if ln)
    assert lines3 == []
    r3.release()


def test_publish_mode_is_validated(spark, tmp_path):
    from fs_indexer_elasticsearch_spark.pipeline import run_pipeline
    from fs_indexer_elasticsearch_spark.sources.config import PipelineConfig

    cfg = PipelineConfig(
        root_path=str(tmp_path), snapshot_path=str(tmp_path / "s"),
        publish_mode="cdc",
    )
    with pytest.raises(ValueError, match="publish_mode"):
        run_pipeline(spark, cfg, out_dir=str(tmp_path / "out"))
