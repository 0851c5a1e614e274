"""End-to-end pipeline: scan → merge → diff → enrich → rollup →
publish across two generations (the reference's mode matrix +
snapshot-diff behavior, main.py:245-362)."""

from __future__ import annotations

import pytest
import glob
import json
import os
import time

import pyspark.sql.functions as F

from fs_indexer_elasticsearch_spark.pipeline import run_pipeline
from fs_indexer_elasticsearch_spark.sinks.kibana import data_view_objects, to_ndjson
from fs_indexer_elasticsearch_spark.sources.config import PipelineConfig


def _write(path, content=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(content)


def test_two_generation_pipeline(spark, tmp_path):
    root = str(tmp_path / "fsroot")
    _write(f"{root}/projects/alpha/readme.md", b"hello world")
    _write(f"{root}/projects/alpha/data.bin", b"\x00" * 500)
    _write(f"{root}/projects/beta/notes.txt", b"notes")
    _write(f"{root}/scratch/junk.tmp", b"junk")
    _write(f"{root}/.git/config", b"[core]")

    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[".git", "*.tmp"],
        snapshot_path=str(tmp_path / "snapshots"),
        direct_links_enabled=True,
        es_index="fs-entries",
        num_buckets=4,
    )

    # Generation 1.
    r1 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out1"))
    assert r1.snapshot_version == 1
    paths = {r.relative_path for r in r1.entries.collect()}
    assert "/projects/alpha/readme.md" in paths
    assert not any(".git" in p or p.endswith(".tmp") for p in paths)
    assert r1.stats["files"] == 3
    assert r1.diff is None  # first generation: nothing to diff

    roll = {r.directory: r for r in r1.rollup.collect()}
    assert roll["/projects"].total_size == 500 + 11 + 5
    assert roll["/projects/alpha"].file_count == 2

    # Enrichment reached the ES docs.
    bulk_lines = []
    for part in glob.glob(r1.bulk_dir + "/part-*"):
        with open(part) as f:
            bulk_lines += [json.loads(l) for l in f.read().splitlines() if l]
    docs = [l for l in bulk_lines if "index" not in l]
    by_path = {d["relative_path"]: d for d in docs}
    assert by_path["/projects/alpha/readme.md"]["direct_link"].startswith("lucid://")
    assert by_path["/projects/alpha"]["direct_link"] == ""  # dirs unenriched

    # Generation 2: one file modified, one removed, one added.
    time.sleep(1.1)  # ensure a strictly newer mtime at 1s granularity
    _write(f"{root}/projects/alpha/readme.md", b"hello world v2 with more bytes")
    os.remove(f"{root}/projects/beta/notes.txt")
    _write(f"{root}/projects/beta/new.csv", b"a,b\n1,2")

    r2 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out2"))
    assert r2.snapshot_version > r1.snapshot_version
    changes = {r.id: r.change for r in r2.diff.collect()}
    ids = {r.relative_path: r.id for r in r2.entries.collect()}
    old_ids = {r.relative_path: r.id for r in r1.entries.collect()}
    assert changes[ids["/projects/beta/new.csv"]] == "added"
    assert changes[old_ids["/projects/beta/notes.txt"]] == "removed"
    assert changes[ids["/projects/alpha/readme.md"]] == "changed"

    # Removed file produced a bulk delete action.
    del_lines = []
    for part in glob.glob(r2.delete_dir + "/part-*"):
        with open(part) as f:
            del_lines += [json.loads(l) for l in f.read().splitlines() if l]
    assert {d["delete"]["_id"] for d in del_lines} == {
        old_ids["/projects/beta/notes.txt"]
    }

    # Removed file is also deleted from the snapshot (reference
    # DELETE..NOT IN parity, scanner.py:447-454).
    removed_id = old_ids["/projects/beta/notes.txt"]
    kept = {r.id for r in r2.entries.collect()}
    assert removed_id not in kept


def test_scan_is_materialized_once_per_cycle(spark, tmp_path):
    """The cycle's scan plan must be cached-and-materialized by the
    pipeline, so enrichment/rollup/stats (and any post-hoc consumer of
    PipelineResult.entries) never re-walk the filesystem. Proof by
    destruction: delete the tree after the run — a re-walking plan
    would now come back empty, the cached one still serves the scan."""
    import shutil

    root = str(tmp_path / "fsroot")
    for i in range(6):
        _write(f"{root}/d{i % 2}/f{i}.txt", b"x" * (i + 1))
    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[],
        snapshot_path=str(tmp_path / "snap"),
        direct_links_enabled=False,
        num_buckets=4,
    )
    r1 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "o1"))
    assert r1.stats["files"] == 6
    assert r1.entries.storageLevel.useMemory  # plan is marked cached

    shutil.rmtree(root)
    try:
        # Re-collecting the SAME DataFrame must serve from cache.
        assert len([r for r in r1.entries.collect() if r.type == "file"]) == 6
    finally:
        r1.entries.unpersist()


def test_incremental_pipeline_is_bucket_pruned(spark, tmp_path):
    """The steady-state scan cycle must be O(delta), not O(table):
    generation 2 touches 3 files out of 30, so most of gen-1's buckets
    must keep their files in gen-2's snapshot (the same manifest entry)
    — round 1 rewrote the whole table every cycle via overwrite()."""
    root = str(tmp_path / "fsroot")
    for i in range(30):
        _write(f"{root}/data/f{i:02d}.txt", b"x" * (i + 1))

    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[],
        snapshot_path=str(tmp_path / "snapshots"),
        direct_links_enabled=False,
        num_buckets=8,
    )
    r1 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out1"))

    time.sleep(1.1)
    _write(f"{root}/data/f00.txt", b"y" * 100)  # changed
    os.remove(f"{root}/data/f01.txt")  # removed
    _write(f"{root}/data/f99.txt", b"new")  # added

    r2 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out2"))

    # Contents are diff-correct.
    paths = {r.relative_path: r for r in r2.entries.collect()}
    assert "/data/f01.txt" not in paths
    assert paths["/data/f00.txt"].size_bytes == 100
    assert paths["/data/f99.txt"].size_bytes == 3
    assert len([p for p in paths if paths[p].type == "file"]) == 30

    # Untouched buckets list the previous version's files unchanged.
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "snapshots" / "fs_entries"), key="id",
        version_col="modified_time",
    )
    m1 = store._read_manifest(r1.snapshot_version)
    m2 = store._read_manifest(r2.snapshot_version)
    shared = [b for b in m2 if m2[b] == m1.get(b)]
    # ≤4 touched keys (3 files + the /data dir) → ≥4 of 8 buckets kept.
    assert len(shared) >= 4
    assert len(m2) - len(shared) <= 4


def test_link_fetches_are_incremental(spark, tmp_path):
    """Direct links persist in their own SnapshotStore with the
    reference's TTL-reuse semantics (direct_links.py:204-233): a second
    cycle refetches ONLY missing/stale files — round 1 refetched the
    whole corpus every run."""
    root = str(tmp_path / "fsroot")
    for i in range(5):
        _write(f"{root}/d/f{i}.txt", b"x" * (i + 1))

    calls_log = str(tmp_path / "calls.log")

    def counting_fetcher(file_id, path):
        with open(calls_log, "a") as f:  # fetch runs in Python workers
            f.write(file_id + "\n")
        return {
            "direct_link": f"lucid://links/file/{file_id[:16]}",
            "link_type": "v2",
            "fsentry_id": "13:1",
        }

    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[],
        snapshot_path=str(tmp_path / "snapshots"),
        direct_links_enabled=True,
        num_buckets=4,
    )
    r1 = run_pipeline(
        spark, cfg, out_dir=str(tmp_path / "out1"), link_fetcher=counting_fetcher
    )
    with open(calls_log) as f:
        gen1_calls = f.read().splitlines()
    assert len(gen1_calls) == 5  # every file fetched once, no dirs

    time.sleep(1.1)
    _write(f"{root}/d/f0.txt", b"modified!")  # stale link -> refetch
    _write(f"{root}/d/f9.txt", b"new")  # no link row -> fetch
    os.remove(f"{root}/d/f1.txt")  # link must be dropped, not fetched

    r2 = run_pipeline(
        spark, cfg, out_dir=str(tmp_path / "out2"), link_fetcher=counting_fetcher
    )
    with open(calls_log) as f:
        gen2_calls = f.read().splitlines()[len(gen1_calls):]
    ids = {r.relative_path: r.id for r in r2.entries.collect()}
    assert sorted(gen2_calls) == sorted([ids["/d/f0.txt"], ids["/d/f9.txt"]])

    # Unmodified files keep their cached link through enrichment.
    docs = []
    for part in glob.glob(r2.bulk_dir + "/part-*"):
        with open(part) as f:
            docs += [
                json.loads(l) for l in f.read().splitlines() if l and '"index"' not in l
            ]
    by_path = {d["relative_path"]: d for d in docs if d.get("type") == "file"}
    assert by_path["/d/f2.txt"]["direct_link"].startswith("lucid://")
    # Removed file's link row is gone from the store.
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    links_store = SnapshotStore(
        spark,
        str(tmp_path / "snapshots" / "direct_links"),
        key="file_id",
        version_col="last_updated",
        num_buckets=4,
    )
    link_ids = {r.file_id for r in links_store.read().collect()}
    old_ids = {r.relative_path: r.id for r in r1.entries.collect()}
    assert old_ids["/d/f1.txt"] not in link_ids
    assert ids["/d/f9.txt"] in link_ids


def test_index_only_mode_skips_enrichment(spark, tmp_path):
    root = str(tmp_path / "fsroot")
    _write(f"{root}/a/file.txt", b"data")
    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[],
        snapshot_path=str(tmp_path / "snapshots"),
        direct_links_enabled=False,
        num_buckets=2,
    )
    r = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out"))
    docs = []
    for part in glob.glob(r.bulk_dir + "/part-*"):
        with open(part) as f:
            docs += [json.loads(l) for l in f.read().splitlines() if l and '"index"' not in l]
    assert all(d["direct_link"] == "" for d in docs)


def test_kibana_saved_objects():
    objs = data_view_objects("fs-entries")
    assert [o["type"] for o in objs] == ["config", "index-pattern", "search"]
    nd = to_ndjson(objs)
    lines = [json.loads(l) for l in nd.strip().split("\n")]
    assert len(lines) == 3
    fields = json.loads(lines[1]["attributes"]["fields"])
    names = {f["name"] for f in fields}
    assert {"id", "filepath", "size_bytes", "modified_time"} <= names
    assert lines[1]["attributes"]["timeFieldName"] == "modified_time"


def test_mode_matrix(spark, tmp_path):
    """The reference's 7-config mode matrix
    (tests/test_configuration_modes.py:188-351): which sinks engage
    per (mode × direct_links × link version)."""
    root = str(tmp_path / "fsroot")
    _write(f"{root}/a/f.txt", b"data")

    cases = [
        dict(mode="elasticsearch", direct_links_enabled=False, version="v2"),
        dict(mode="elasticsearch", direct_links_enabled=True, version="v2"),
        dict(mode="elasticsearch", direct_links_enabled=True, version="v3"),
        dict(mode="index-only", direct_links_enabled=False, version="v2"),
        dict(mode="index-only", direct_links_enabled=True, version="v2"),
    ]
    for i, case in enumerate(cases):
        cfg = PipelineConfig(
            root_path=root,
            skip_patterns=[],
            snapshot_path=str(tmp_path / f"snap{i}"),
            mode=case["mode"],
            direct_links_enabled=case["direct_links_enabled"],
            direct_links_version=case["version"],
            num_buckets=2,
        )
        r = run_pipeline(spark, cfg, out_dir=str(tmp_path / f"out{i}"))
        assert r.snapshot_version == 1  # snapshot always maintained
        if case["mode"] == "index-only":
            assert r.bulk_dir is None  # ES sink disengaged
            continue
        docs = []
        for part in glob.glob(r.bulk_dir + "/part-*"):
            with open(part) as f:
                docs += [
                    json.loads(l)
                    for l in f.read().splitlines()
                    if l and '"index"' not in l
                ]
        f_doc = next(d for d in docs if d["type"] == "file")
        if not case["direct_links_enabled"]:
            assert f_doc["direct_link"] == ""
        elif case["version"] == "v2":
            assert f_doc["direct_link"].startswith("lucid://")
            assert f_doc["fsentry_id"] is not None
        else:
            assert f_doc["direct_link"].startswith("https://")


def test_index_cli_exposes_publish_mode_and_merge_retries(
    spark, tmp_path, capsys
):
    """CLI parity for the index side (r9 verdict #8): `index
    --publish-mode changed --merge-retries N` reaches the pipeline —
    the second cycle's bulk ships only the change feed, and the merge
    path runs through the retry wrapper (same result as fail-fast when
    uncontended). Extends the reference's config-matrix coverage
    (test_configuration_modes.py) to the two r9/r10 knobs."""
    from fs_indexer_elasticsearch_spark.__main__ import main

    root = str(tmp_path / "fsroot")
    for i in range(6):
        _write(f"{root}/d/f{i}.txt", b"x" * (i + 1))
    cfg_yaml = str(tmp_path / "cfg.yaml")
    with open(cfg_yaml, "w") as f:
        f.write(
            "database:\n"
            f"  path: {tmp_path / 'snapshots'}\n"
            "root_path: ignored\n"
        )

    def cycle(out):
        rc = main(
            [
                "index",
                "--config", cfg_yaml,
                "--root-path", root,
                "--publish-mode", "changed",
                "--merge-retries", "3",
                "--out-dir", out,
            ],
            spark=spark,
        )
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    s1 = cycle(str(tmp_path / "out1"))
    assert s1["snapshot_version"] == 1
    time.sleep(1.1)
    _write(f"{root}/d/f0.txt", b"y" * 50)
    os.remove(f"{root}/d/f5.txt")
    s2 = cycle(str(tmp_path / "out2"))
    assert s2["snapshot_version"] == 2
    assert s2["changes"]["changed"] >= 1
    assert s2["changes"]["removed"] == 1

    acts = []
    for part in glob.glob(os.path.join(str(tmp_path / "out2"), "bulk", "part-*")):
        with open(part) as f:
            acts.extend(json.loads(ln) for ln in f if ln.strip())
    # Change-feed publish, not a 7-doc re-bulk: the one delete plus a
    # handful of changed/parent-dir index actions.
    assert sum(1 for a in acts if "delete" in a) == 1
    assert 1 <= sum(1 for a in acts if "index" in a) <= 3


@pytest.mark.slow
def test_pipeline_retention_bounds_versions(spark, tmp_path):
    """5 cycles with keep_versions=2 must leave at most 2 manifests
    per store, the current pointer readable, and the data files shared
    with vacuumed versions still alive."""
    root = str(tmp_path / "fsroot")
    for i in range(20):
        _write(f"{root}/d{i % 4}/f{i}.txt", b"x" * (i + 1))
    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[],
        snapshot_path=str(tmp_path / "snap"),
        direct_links_enabled=False,
        num_buckets=4,
        keep_versions=2,
    )
    for cycle in range(5):
        _write(f"{root}/d0/churn.txt", os.urandom(8))
        time.sleep(1.05)  # distinct mtimes at 1s granularity
        run_pipeline(spark, cfg, out_dir=str(tmp_path / f"o{cycle}"))

    store_dir = f"{tmp_path}/snap/fs_entries"
    manifests = sorted(
        d for d in os.listdir(store_dir) if d.startswith("_MANIFEST_v")
    )
    assert len(manifests) <= 2, manifests
    # Current pointer readable and complete after vacuum.
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, store_dir, key="id", version_col="modified_time", num_buckets=4
    )
    assert store.current_version() == 5
    rows = store.read().collect()
    assert len(rows) == 20 + 4 + 1  # files + dirs + churn file


def test_pipeline_manifest_layout_end_to_end(spark, tmp_path):
    """The snapshot store's manifest commits carry the two-generation
    pipeline: diff, deletes, and retention all work without hard links
    (the object-store-safe protocol)."""
    root = str(tmp_path / "fsroot")
    _write(f"{root}/a/one.txt", b"1")
    _write(f"{root}/a/two.txt", b"22")
    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[],
        snapshot_path=str(tmp_path / "snap"),
        direct_links_enabled=False,
        num_buckets=4,
        keep_versions=2,
    )
    r1 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "o1"))
    assert r1.stats["files"] == 2

    time.sleep(1.1)
    os.remove(f"{root}/a/one.txt")
    _write(f"{root}/a/three.txt", b"333")
    r2 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "o2"))
    changes = {r.change for r in r2.diff.collect()}
    assert {"added", "removed"} <= changes  # parent dir mtime → 'changed' too
    paths = {r.relative_path for r in r2.entries.collect()}
    assert "/a/one.txt" not in paths and "/a/three.txt" in paths
    # No per-version directories exist — only manifests.
    store_dir = f"{tmp_path}/snap/fs_entries"
    assert not any(
        d.startswith("v") and d[1:].isdigit() for d in os.listdir(store_dir)
    )
    assert any(d.startswith("_MANIFEST_v") for d in os.listdir(store_dir))


def test_publish_mode_changed_ships_only_the_delta(spark, tmp_path):
    """publish_mode='changed': the second cycle's bulk body carries
    exactly the changed docs (index actions for added/modified, delete
    actions for removed) — not a re-bulk of the live table; the first
    cycle (no previous version) takes the full path."""
    root = str(tmp_path / "fsroot")
    for i in range(12):
        _write(f"{root}/data/f{i:02d}.txt", b"x" * (i + 1))

    cfg = PipelineConfig(
        root_path=root,
        skip_patterns=[],
        snapshot_path=str(tmp_path / "snapshots"),
        direct_links_enabled=False,
        num_buckets=8,
        publish_mode="changed",
    )
    r1 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out1"))

    def actions(out):
        acts = []
        for part in glob.glob(os.path.join(out, "bulk", "part-*")):
            with open(part) as f:
                acts.extend(json.loads(ln) for ln in f if ln.strip())
        return acts

    # Cycle 1: full publish (13 index pairs: 12 files + the dir).
    a1 = actions(str(tmp_path / "out1"))
    assert sum(1 for a in a1 if "index" in a) == 13
    assert not any("delete" in a for a in a1)

    time.sleep(1.1)
    _write(f"{root}/data/f00.txt", b"y" * 100)  # changed
    os.remove(f"{root}/data/f03.txt")  # removed
    _write(f"{root}/data/f99.txt", b"new")  # added
    r2 = run_pipeline(spark, cfg, out_dir=str(tmp_path / "out2"))
    assert r2.snapshot_version == r1.snapshot_version + 1

    a2 = actions(str(tmp_path / "out2"))
    idx = [a for a in a2 if "index" in a]
    dels = [a for a in a2 if "delete" in a]
    assert len(dels) == 1  # the removed file only
    # Changed + added file — and possibly the parent dir if its mtime
    # moved — but NEVER the ~13-doc full table.
    assert 2 <= len(idx) <= 3
    # Source docs are post-images: find the changed file's doc line.
    srcs = []
    for part in glob.glob(os.path.join(str(tmp_path / "out2"), "bulk", "part-*")):
        with open(part) as f:
            lines = [ln for ln in f if ln.strip()]
        for i, ln in enumerate(lines):
            d = json.loads(ln)
            if "index" in d:
                srcs.append(json.loads(lines[i + 1]))
    by_path = {s["relative_path"]: s for s in srcs}
    assert by_path["/data/f00.txt"]["size_bytes"] == 100
    assert by_path["/data/f99.txt"]["size_bytes"] == 3


def test_corpus_build_cli_matches_curation_query(spark, tmp_path, capsys):
    """The corpus-build subcommand is the CLI face of the composed
    curation pipeline + CDC publish: its report must equal the
    oracle-gated curation_pipeline_e2e rows, its first build publishes
    exactly the selected set, an unchanged rebuild publishes NOTHING
    (and commits no version), and a budget change ships only the
    delta — including DELETE actions for docs curated out."""
    from fs_indexer_elasticsearch_spark.__main__ import main
    from fs_indexer_elasticsearch_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    docs = f"{sf}/documents.parquet"
    snap = str(tmp_path / "snap")

    def bulk_lines(out_dir):
        lines = []
        for part in sorted(glob.glob(os.path.join(out_dir, "bulk", "part-*"))):
            with open(part) as f:
                lines.extend(ln for ln in f.read().splitlines() if ln)
        return lines

    rc = main(
        ["corpus-build", "--documents", docs, "--out-dir",
         str(tmp_path / "out1"), "--snapshot-path", snap],
        spark=spark,
    )
    assert rc == 0
    summary1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    with open(tmp_path / "out1" / "curation_report.json") as f:
        report = json.load(f)
    expected = sorted(
        (r.asDict() for r in QUERIES["curation_pipeline_e2e"](spark, sf).collect()),
        key=lambda r: r["lang"],
    )
    assert report == expected

    lines1 = bulk_lines(str(tmp_path / "out1"))
    acts1 = [json.loads(ln) for ln in lines1[::2]]
    n_selected = sum(r["n_selected"] for r in expected)
    assert summary1["n_selected"] == n_selected
    assert len([a for a in acts1 if "index" in a]) == n_selected
    ids1 = {a["index"]["_id"] for a in acts1 if "index" in a}

    # Rebuild with identical inputs: zero actions, zero version churn.
    rc = main(
        ["corpus-build", "--documents", docs, "--out-dir",
         str(tmp_path / "out2"), "--snapshot-path", snap],
        spark=spark,
    )
    assert rc == 0
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["snapshot_version"] == summary1["snapshot_version"]
    assert bulk_lines(str(tmp_path / "out2")) == []

    # Shrink the budget: the selection shrinks, and the publish ships
    # ONLY delete actions for the docs that fell out (nothing about
    # the survivors changed).
    rc = main(
        ["corpus-build", "--documents", docs, "--out-dir",
         str(tmp_path / "out3"), "--snapshot-path", snap,
         "--token-budget", "300"],
        spark=spark,
    )
    assert rc == 0
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lines3 = bulk_lines(str(tmp_path / "out3"))
    acts3 = [json.loads(ln) for ln in lines3 if "delete" in json.loads(ln)]
    assert acts3, "a smaller budget must curate docs out"
    del_ids = {a["delete"]["_id"] for a in acts3}
    assert del_ids <= ids1
    assert not any(
        "index" in json.loads(ln) for ln in lines3
    ), "survivors are unchanged — only deletes ship"
