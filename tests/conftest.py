from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fs_indexer_elasticsearch_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "race: concurrency/race tests — repeatable via --repeat-races N "
        "(gate.py runs them N≥10 times so a nondeterministic winner "
        "can't sneak a flaky pass into a committed green gate)",
    )


def pytest_addoption(parser):
    parser.addoption(
        "--repeat-races",
        type=int,
        default=1,
        help="run each @pytest.mark.race test this many times in one "
        "session (one SparkSession, N executions per test)",
    )


def pytest_generate_tests(metafunc):
    n = metafunc.config.getoption("--repeat-races")
    if n > 1 and any(
        m.name == "race" for m in metafunc.definition.iter_markers()
    ):
        metafunc.fixturenames.append("_race_rep")
        metafunc.parametrize("_race_rep", range(n))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def _rows(store, version=None) -> list[str]:
    df = store.read(version)
    return [] if df is None else sorted(repr(r) for r in df.collect())


@pytest.fixture(params=["hardlink", "manifest"])
def check_layout(request, spark):
    """End-of-test check on a store's final state, per id:

    - ``manifest``: nothing more — the test's own asserts are the check.
    - ``hardlink``: the store directory is cloned by hard-linking every
      file (the ``cp -al`` backup of a directory). The clone must open
      and read back every retained version row-for-row; then a commit
      and a vacuum on the clone must leave the original untouched. The
      manifest layout writes each data file once and replaces every
      mutable file (pointer, manifest, sidecars) by rename, never in
      place, so files shared by inode never change under either copy."""

    def check(store) -> None:
        if request.param == "manifest":
            return
        from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

        src = store.path.rstrip("/")
        dst = f"{src}-hardlink-clone"
        for root, _dirs, files in os.walk(src):
            out = os.path.join(dst, os.path.relpath(root, src))
            os.makedirs(out, exist_ok=True)
            for name in files:
                os.link(os.path.join(root, name), os.path.join(out, name))

        def reopen(path):
            return SnapshotStore(
                spark, path, key=store.key, version_col=store.version_col,
                num_buckets=store.num_buckets, bucket_key=store.bucket_key,
            )

        versions = store.versions()
        before = {v: _rows(store, v) for v in versions}
        clone = reopen(dst)
        assert clone.versions() == versions
        assert clone.current_version() == store.current_version()
        assert {v: _rows(clone, v) for v in versions} == before

        clone.overwrite(clone.read().limit(0))
        clone.vacuum(keep=1)
        assert _rows(clone) == []
        original = reopen(src)
        assert original.versions() == versions
        assert {v: _rows(original, v) for v in versions} == before

    return check
