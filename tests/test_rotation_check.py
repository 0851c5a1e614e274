"""The mechanized driver-prefix rotation rule (tools/rotation_check):
a query whose normalized analyzed plan changed since the last driver
round must sit inside the checked prefix — the r9 dedup_simhash
near-miss, made a failing gate instead of a human judgment."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from plan_fingerprints import normalize_plan  # noqa: E402
from rotation_check import affected_queries, check_rotation  # noqa: E402


def test_synthetic_violation_fails_and_rotated_passes():
    old = {"q_a": "aaaa", "q_b": "bbbb", "q_c": "cccc"}
    # q_b's plan changed, q_new appeared, q_a/q_c untouched.
    new = {"q_a": "aaaa", "q_b": "BBBB", "q_c": "cccc", "q_new": "nnnn"}
    affected = affected_queries(old, new)
    assert set(affected) == {"q_b", "q_new"}
    assert affected["q_new"] == "new query"

    # Violation: q_b sits below the prefix boundary.
    priority = ["q_new", "q_a", "q_c", "q_b"]
    assert check_rotation(priority, affected, prefix_n=2) == ["q_b"]
    # A query plan-changed but missing from priority entirely is a
    # violation too.
    assert check_rotation(["q_a"], affected, prefix_n=2) == ["q_b", "q_new"]

    # Rotated: both affected queries inside the prefix -> clean.
    rotated = ["q_b", "q_new", "q_a", "q_c"]
    assert check_rotation(rotated, affected, prefix_n=2) == []
    # An untouched query below the boundary is never flagged.
    assert "q_c" not in check_rotation(rotated, affected, prefix_n=2)


def test_unchanged_fingerprints_affect_nothing():
    fps = {"q_a": "aaaa", "q_b": "bbbb"}
    assert affected_queries(fps, dict(fps)) == {}
    assert check_rotation(["q_a", "q_b"], {}, prefix_n=1) == []


def test_checkpoint_topology_component_and_legacy_migration():
    """r15: fingerprints carry a second '/'-joined component hashing
    the build-time checkpoint events (executed-plan topology — the
    r14 verdict #5 hole: eager-vs-lazy flips are invisible to the
    analyzed-plan hash). A LEGACY single-hash baseline compares plan
    components only, so the format migration flags nothing by itself;
    thereafter a checkpoint-topology-only change IS flagged."""
    legacy = {"q_a": "aaaa", "q_b": "bbbb"}
    # Migration round: plan hashes unchanged, ckpt component new.
    new = {"q_a": "aaaa/1111", "q_b": "bbbb/2222"}
    assert affected_queries(legacy, new) == {}
    # Plan part changed vs legacy baseline: still flagged.
    assert set(affected_queries(legacy, {"q_a": "AAAA/1111"})) == {"q_a"}
    # Post-migration: a ckpt-topology-only flip (same plan hash) flags.
    old = {"q_a": "aaaa/1111"}
    assert set(affected_queries(old, {"q_a": "aaaa/9999"})) == {"q_a"}
    assert affected_queries(old, {"q_a": "aaaa/1111"}) == {}


def test_normalize_plan_strips_session_counters():
    a = (
        "Project [sid#12L, transform(mh#3, lambdafunction(md5(lambda "
        "x_4#99), lambda x_4#99, false)) AS h#5]\n+- LogicalRDD [k#7], "
        "false @deadbeef12 plan_id=31"
    )
    b = (
        "Project [sid#88L, transform(mh#41, lambdafunction(md5(lambda "
        "x_9#2), lambda x_9#2, false)) AS h#6]\n+- LogicalRDD [k#1], "
        "false @0123abcdef plan_id=7"
    )
    assert normalize_plan(a) == normalize_plan(b)
    # Genuinely different expressions stay different.
    c = a.replace("md5", "sha2")
    assert normalize_plan(a) != normalize_plan(c)
