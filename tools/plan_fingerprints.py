#!/usr/bin/env python
"""Per-query ANALYZED-plan fingerprints — the mechanical definition of
"this query's implementation changed" for the driver-prefix rotation
rule (r9 verdict #6).

For every registered query this builds the DataFrame (no execution
beyond what plan construction itself performs — store seeding, bounded
existence probes) and hashes the normalized analyzed logical plan:
expression ids, plan ids and other session-unique counters are
stripped. A store read prints as ``Relation [cols] parquet`` and a
checkpointed frame as ``LogicalRDD [cols], false``: neither carries a
path, so the hash covers a store's columns and types and every
expression over them, but not the store's path or its tag (a tag bump
alone moves no fingerprint). The resulting
name -> sha map is written to PLAN_FINGERPRINTS.json, committed per
round; tools/rotation_check.py diffs HEAD's map against the map at the
last driver round commit — a differing or new fingerprint means the
driver-visible computation changed and the query must rotate into the
checked prefix.

Plans are the right granularity: a runtime-only change (retry loops,
logging) leaves the produced rows identical, while any change to the
expression tree — the r9 dedup_simhash fold rewrite that nearly
slipped the human rule — flips the hash.

Usage: python tools/plan_fingerprints.py [--sf-dir D] [--out F] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

# Resolve the repo from THIS file's location, not a hardcoded path:
# the rotation baseline is generated by running this tool inside a
# worktree of the base commit, and a hardcoded insert would silently
# fingerprint the wrong checkout's plans (every diff would read as
# unchanged and the rotation gate would pass queries it should flag).
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def normalize_plan(s: str) -> str:
    s = re.sub(r"#\d+", "#", s)  # expression ids
    # Higher-order-function lambda variables carry a session-global
    # counter in their NAME (x_4, x_9, ...), not just the expr id.
    s = re.sub(r"lambda ([A-Za-z]\w*?)_\d+#", r"lambda \1_#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"cachedrdd-\d+", "cachedrdd-", s)
    # In-memory/checkpointed RDD ids and object addresses.
    s = re.sub(r"@[0-9a-f]{6,}", "@", s)
    s = re.sub(r"\bRDD( \d+)?\b", "RDD", s)
    return s


def fingerprint(df) -> str:
    plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    return hashlib.sha256(normalize_plan(plan).encode()).hexdigest()[:16]


class CkptRecorder:
    """Build-time checkpoint-event recorder (r14 verdict #5 — the
    rotation hole): eager-vs-lazy checkpoint flips change PHYSICAL
    behavior (when/whether a shared subtree materializes) while the
    analyzed plan of the final frame is identical, so a plan-only
    fingerprint never forces such a change into the driver prefix.
    Wrapping DataFrame.localCheckpoint / DataFrame.checkpoint during
    plan construction records, per query, the ordered list of
    (kind, eager flag, normalized analyzed plan of the checkpointed
    frame) — the EXECUTED-plan topology the analyzed hash can't see.
    The events hash into a second fingerprint component.

    CAVEAT: build paths that SEED the /tmp fixture stores checkpoint
    differently on a cold vs warmed store (replay skips the commits),
    so fingerprints are only comparable when generated against warmed
    fixtures. gate.py's step order guarantees that (the correctness
    step builds every store before the fingerprint step runs);
    regenerating on a freshly wiped /tmp can flag spurious
    topology-only diffs for the store-building queries."""

    def __init__(self):
        self.events: list[str] = []
        self._orig_local = None
        self._orig_reliable = None

    def __enter__(self):
        # Patch the CLASSIC DataFrame class: in Spark 4 the facade
        # pyspark.sql.DataFrame and the classic implementation are
        # distinct classes and BOTH define localCheckpoint, so patching
        # the facade alone records nothing (verified: every query's
        # event hash came back as the empty-list hash).
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pre-connect Spark: one class
            from pyspark.sql import DataFrame

        self._cls = DataFrame
        rec = self

        self._orig_local = DataFrame.localCheckpoint
        self._orig_reliable = DataFrame.checkpoint
        orig_local, orig_reliable = self._orig_local, self._orig_reliable

        # Both tiers log under ONE kind: ckpt_shared picks the tier
        # from the box's checkpoint-dir configuration, and a
        # fingerprint must depend on the code only. Extra keyword
        # arguments (storageLevel, ...) pass through unrecorded.
        def local(df, eager=True, **kwargs):
            rec._log("localCheckpoint", eager, df)
            return orig_local(df, eager=eager, **kwargs)

        def reliable(df, eager=True, **kwargs):
            rec._log("localCheckpoint", eager, df)
            return orig_reliable(df, eager=eager, **kwargs)

        DataFrame.localCheckpoint = local
        DataFrame.checkpoint = reliable
        return self

    def __exit__(self, *exc):
        self._cls.localCheckpoint = self._orig_local
        self._cls.checkpoint = self._orig_reliable
        return False

    def _log(self, kind: str, eager: bool, df) -> None:
        plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
        self.events.append(f"{kind}(eager={eager}): {normalize_plan(plan)}")

    def reset(self) -> None:
        self.events.clear()

    def digest(self) -> str:
        return hashlib.sha256("\n".join(self.events).encode()).hexdigest()[:16]


def build_fingerprints(spark, sf_dir: str, names=None) -> dict[str, str]:
    from fs_indexer_elasticsearch_spark.plans import QUERIES

    # Untruncated toString, or wide schemas elide "... N more fields"
    # at a conf-dependent cutoff and the hash stops being canonical.
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")

    out: dict[str, str] = {}
    with CkptRecorder() as rec:
        for name in names or QUERIES:
            rec.reset()
            try:
                # Two components, "/"-joined: the normalized ANALYZED
                # plan hash, then the build-time CHECKPOINT-event hash
                # (executed-plan topology — r14 verdict #5). The
                # rotation diff compares plan-only against legacy
                # single-hash baselines, both parts thereafter.
                plan_fp = fingerprint(QUERIES[name](spark, sf_dir))
                out[name] = f"{plan_fp}/{rec.digest()}"
            except Exception as e:  # noqa: BLE001 — recorded, not fatal
                out[name] = f"ERROR:{type(e).__name__}"
                print(f"ERROR {name}: {e}", file=sys.stderr)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("names", nargs="*")
    a = ap.parse_args()

    from fs_indexer_elasticsearch_spark.session import get_spark

    spark = get_spark("plan-fingerprints")
    fps = build_fingerprints(spark, a.sf_dir, a.names or None)
    payload = json.dumps(fps, indent=0, sort_keys=True) + "\n"
    if a.out:
        with open(a.out, "w") as f:
            f.write(payload)
        print(f"wrote {a.out} ({len(fps)} queries)")
    else:
        print(payload)
    spark.stop()
    return 1 if any(v.startswith("ERROR:") for v in fps.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
