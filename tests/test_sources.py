"""find-ls / tab parsers and the distributed filesystem walker."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from fs_indexer_elasticsearch_spark.sources.find_ls import (
    parse_find_ls,
    parse_tab_format,
)
from fs_indexer_elasticsearch_spark.sources.walker import (
    _walk,
    list_top_dirs,
    scan_filesystem,
    to_fs_entries,
)

FIND_LINES = [
    "1234 8 -rw-r--r-- 1 root root 5120 Mar 15 2019 /mnt/fs/data/file.txt",
    "1235 0 drwxr-xr-x 2 root root 4096 Mar 15 10:30 /mnt/fs/data",
    "1236 8 -rw-r--r-- 1 root root 77 Jan 2 2020 /mnt/fs/data/name with spaces.PDF",
    "garbage line",  # malformed: must be dropped
]


def test_parse_find_ls(spark):
    now = F.lit("2026-08-13 12:00:00").cast("timestamp")
    df = spark.createDataFrame([(l,) for l in FIND_LINES], "value string")
    out = parse_find_ls(df, root="/mnt/fs", now=now).orderBy("filepath").collect()
    assert len(out) == 3  # malformed dropped
    by_path = {r.filepath: r for r in out}
    f = by_path["/mnt/fs/data/file.txt"]
    assert (f.type, f.size_bytes, f.extension, f.name) == ("file", 5120, "txt", "file.txt")
    assert f.relative_path == "/data/file.txt"
    assert str(f.modified_time).startswith("2019-03-15")
    assert len(f.id) == 64  # sha256 hex
    d = by_path["/mnt/fs/data"]
    assert (d.type, d.size_bytes) == ("directory", None)
    s = by_path["/mnt/fs/data/name with spaces.PDF"]
    assert (s.name, s.extension) == ("name with spaces.PDF", "pdf")


def test_parse_tab_format(spark):
    lines = [
        "/mnt/a.bin\t123\t2024-01-01 10:00:00\t2023-12-31 09:00:00",
        "short\tline",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    out = parse_tab_format(df, root="/mnt").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.relative_path, r.size_bytes, r.extension) == ("/a.bin", 123, "bin")
    assert str(r.modified_time) == "2024-01-01 10:00:00"
    assert str(r.creation_time) == "2023-12-31 09:00:00"


def _mk_tree(tmp):
    os.makedirs(f"{tmp}/proj/src", exist_ok=True)
    os.makedirs(f"{tmp}/proj/.git", exist_ok=True)
    os.makedirs(f"{tmp}/data/sub", exist_ok=True)
    for p, content in [
        (f"{tmp}/proj/src/app.py", b"print('hi')\n"),
        (f"{tmp}/proj/readme.md", b"# hi\n"),
        (f"{tmp}/proj/.git/config", b"[core]\n"),
        (f"{tmp}/data/sub/big.bin", b"\x00" * 1000),
        (f"{tmp}/data/x.tmp", b"junk"),
    ]:
        with open(p, "wb") as f:
            f.write(content)


def test_scan_filesystem(spark, tmp_path):
    tmp = str(tmp_path)
    _mk_tree(tmp)
    raw = scan_filesystem(spark, tmp, skip_patterns=[".git", "*.tmp"])
    rows = raw.collect()
    paths = {r.filepath for r in rows}
    # .git subtree and *.tmp pruned; everything else present.
    assert f"{tmp}/proj/src/app.py" in paths
    assert f"{tmp}/data/sub/big.bin" in paths
    assert not any(".git" in p or p.endswith(".tmp") for p in paths)
    by_path = {r.filepath: r for r in rows}
    assert by_path[f"{tmp}/data/sub/big.bin"].size_bytes == 1000
    assert by_path[f"{tmp}/proj/src"].type == "directory"

    entries = to_fs_entries(raw, tmp)
    e = {r.relative_path: r for r in entries.collect()}
    assert "/proj/src/app.py" in e
    assert e["/proj/src/app.py"].extension == "py"
    assert len(e["/proj/src/app.py"].id) == 64


def _mk_skewed_tree(tmp, hot_files=100):
    """One hot top-level dir with 100x the entries of its siblings,
    spread over subdirs so the budget split has somewhere to cut."""
    for cold in ("a", "b"):
        os.makedirs(f"{tmp}/{cold}", exist_ok=True)
        with open(f"{tmp}/{cold}/f.txt", "wb") as f:
            f.write(b"x")
    for i in range(10):
        sub = f"{tmp}/hot/part{i:02d}"
        os.makedirs(sub, exist_ok=True)
        for j in range(hot_files // 10):
            with open(f"{sub}/f{j:03d}.dat", "wb") as f:
                f.write(b"y" * j)


def test_walk_budget_resplit_unit(tmp_path):
    """_walk with a budget hands unwalked dirs back whole; replaying
    pending rounds reproduces exactly the unbudgeted walk."""
    tmp = str(tmp_path)
    _mk_skewed_tree(tmp)
    full = sorted(t[0] for t in _walk(f"{tmp}/hot", []))

    got, rounds, work = [], 0, [f"{tmp}/hot"]
    saw_fanout = False
    while work:
        rounds += 1
        pending = []
        for d in work:
            for t in _walk(d, [], budget=15):
                if t[2] == "_pending":
                    pending.append(t[0])
                else:
                    got.append(t[0])
        saw_fanout = saw_fanout or len(pending) > 1
        work = pending
    assert rounds > 1, "budget never triggered a re-split"
    assert saw_fanout, "hot dir never fanned out to >1 work item"
    assert sorted(got) == full  # no dupes, nothing lost


def test_scan_filesystem_resplit_matches_unbudgeted(spark, tmp_path):
    tmp = str(tmp_path)
    _mk_skewed_tree(tmp)
    base = scan_filesystem(spark, tmp).collect()
    split = scan_filesystem(spark, tmp, max_entries_per_task=15).collect()
    assert sorted(r.filepath for r in split) == sorted(
        r.filepath for r in base
    )
    by_path = {r.filepath: r for r in split}
    assert by_path[f"{tmp}/hot/part00/f005.dat"].size_bytes == 5


def test_frontier_pruning(tmp_path):
    tmp = str(tmp_path)
    _mk_tree(tmp)
    dirs = list_top_dirs(tmp, [".git"], depth=1)
    assert f"{tmp}/proj" in dirs and f"{tmp}/data" in dirs
    deeper = list_top_dirs(tmp, [".git"], depth=2)
    assert f"{tmp}/proj/.git" not in deeper  # pruned before fan-out
    assert f"{tmp}/proj/src" in deeper


def _mk_flat_dir(tmp, n=600):
    """One directory whose DIRECT children alone dwarf any task budget."""
    os.makedirs(f"{tmp}/flat", exist_ok=True)
    for i in range(n):
        with open(f"{tmp}/flat/f{i:05d}.dat", "wb") as f:
            f.write(b"z" * (i % 7))


def test_walk_flat_dir_slices_unit(tmp_path):
    """A flat directory larger than the budget is handed back as
    multiple disjoint name-range slices that together cover it exactly."""
    tmp = str(tmp_path)
    _mk_flat_dir(tmp, n=600)
    full = sorted(t[0] for t in _walk(f"{tmp}/flat", []))
    assert len(full) == 600

    first = list(_walk(f"{tmp}/flat", [], budget=100))
    scanned = [t[0] for t in first if t[2] != "_pending"]
    slices = [t[0] for t in first if t[2] == "_pending"]
    assert len(scanned) == 100
    # Residue fans out as ~(600-100)/100 parallel slices, not one item.
    assert len(slices) == 5
    assert all("\x00" in s for s in slices)

    # Each slice is an independent work item; together they cover the
    # directory exactly once.
    got = list(scanned)
    work = slices
    while work:
        nxt = []
        for item in work:
            for t in _walk(item, [], budget=100):
                (nxt if t[2] == "_pending" else got).append(t[0])
        work = nxt
    assert sorted(got) == full


def test_scan_filesystem_flat_dir_matches_unbudgeted(spark, tmp_path):
    tmp = str(tmp_path)
    _mk_flat_dir(tmp, n=600)
    base = scan_filesystem(spark, tmp).collect()
    split = scan_filesystem(spark, tmp, max_entries_per_task=100).collect()
    assert sorted(r.filepath for r in split) == sorted(r.filepath for r in base)


def test_resplit_rounds_release_their_cache(spark, tmp_path):
    """The budgeted frontier loop must not leave each round's persisted
    scan pinned in executor memory (at most the one checkpointed result
    survives per scan)."""
    tmp = str(tmp_path)
    _mk_skewed_tree(tmp)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = scan_filesystem(spark, tmp, max_entries_per_task=15)
    df.count()
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, f"leaked persisted RDDs: {after - before}"


def test_load_config_keep_versions_null_means_keep_all(tmp_path):
    """Explicit `keep_versions: null` = retention OFF (keep every
    version); an ABSENT key keeps the default of 3. Folding null into
    the default silently vacuumed versions the user asked to retain."""
    import yaml

    from fs_indexer_elasticsearch_spark.sources.config import load_config

    p = tmp_path / "c1.yaml"
    p.write_text(yaml.safe_dump({"root_path": "/x", "database": {"keep_versions": None}}))
    assert load_config(str(p)).keep_versions is None

    p2 = tmp_path / "c2.yaml"
    p2.write_text(yaml.safe_dump({"root_path": "/x", "database": {"path": "/s"}}))
    assert load_config(str(p2)).keep_versions == 3

    p3 = tmp_path / "c3.yaml"
    p3.write_text(yaml.safe_dump({"root_path": "/x", "database": {"keep_versions": 7}}))
    assert load_config(str(p3)).keep_versions == 7


def test_load_config_accepts_only_the_manifest_layout(tmp_path):
    """Snapshots have one physical layout: `database: {layout:
    hardlink}` fails at load with an error naming the one that exists;
    `layout: manifest` (or no key) loads."""
    import pytest
    import yaml

    from fs_indexer_elasticsearch_spark.sources.config import load_config

    p = tmp_path / "c.yaml"
    p.write_text(yaml.safe_dump({"database": {"layout": "hardlink"}}))
    with pytest.raises(ValueError, match="manifest"):
        load_config(str(p))
    p.write_text(yaml.safe_dump({"database": {"layout": "manifest"}}))
    assert load_config(str(p)).snapshot_layout == "manifest"
