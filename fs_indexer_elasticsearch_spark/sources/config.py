"""YAML pipeline config (S13 — reference config/config.py:6-26 with
its search-path fallback; keys follow config/indexer-config.yaml)."""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, ClassVar

DEFAULT_SEARCH_PATHS = [
    "indexer-config.yaml",
    "config/indexer-config.yaml",
]


@dataclass
class PipelineConfig:
    root_path: str = "."
    mode: str = "elasticsearch"  # elasticsearch | index-only
    skip_patterns: list[str] = field(
        default_factory=lambda: [".git", "__pycache__", "*.tmp", "node_modules", ".DS_Store"]
    )
    # Re-split budget: a scan task emitting more entries than this
    # hands unwalked subdirs back as frontier work (None = one round).
    max_entries_per_task: int | None = None
    direct_links_enabled: bool = False
    direct_links_version: str = "v2"
    es_index: str = "fs-entries"
    es_bulk_size: int = 100_000
    snapshot_path: str = "./snapshots"
    num_buckets: int = 32
    # Snapshot versions retained after each cycle (None = keep all).
    keep_versions: int | None = 3
    # The snapshot store's one physical layout (sinks/snapshot.py): a
    # constant, not a setting — kept so callers that pass it through
    # to SnapshotStore(layout=...) still resolve.
    snapshot_layout: ClassVar[str] = "manifest"
    # ES publish scope per cycle: "full" republishes every live doc
    # (reference parity — scanner refreshes last_seen on every row,
    # elasticsearch_integration re-bulks the table) | "changed" ships
    # only the change feed of this cycle's merge (O(changed) actions
    # from commit metadata; unchanged docs keep their previous
    # last_seen — the documented tradeoff that makes a nightly 100 TB
    # publish affordable).
    publish_mode: str = "full"
    # Optimistic rebase-and-retry budget for the snapshot merges (fs
    # entries + links): 0 keeps the fail-fast single-writer contract;
    # > 0 routes REMOVAL-FREE commits through
    # SnapshotStore.merge_with_retry — newer-wins upserts commute, so
    # a nightly job colliding with an ad-hoc backfill rebases instead
    # of dying. Cycles that delete keys stay fail-fast regardless: a
    # diff-derived removal is relative to this scan's base state and
    # must be re-derived, not rebased (sinks/snapshot.py).
    merge_retries: int = 0
    raw: dict[str, Any] = field(default_factory=dict)


def load_config(path: str | None = None) -> PipelineConfig:
    """Load YAML config, searching the reference's fallback paths when
    no explicit path is given; missing file → defaults."""
    candidates = [path] if path else DEFAULT_SEARCH_PATHS
    data: dict[str, Any] = {}
    for cand in candidates:
        if cand and os.path.exists(cand):
            try:
                import yaml

                with open(cand) as f:
                    data = yaml.safe_load(f) or {}
            except ImportError:  # yaml absent: accept defaults
                data = {}
            break
    skips = data.get("skip_patterns")
    if isinstance(skips, dict):  # reference nests hidden_files/hidden_dirs
        patterns = [p for v in skips.values() for p in (v or [])]
    elif skips:
        patterns = list(skips)
    else:
        patterns = PipelineConfig().skip_patterns
    layout = data.get("database", {}).get("layout", "manifest")
    if layout != "manifest":
        raise ValueError(
            f"database.layout {layout!r} is not supported: snapshots have "
            "one layout, 'manifest' (remove the key)"
        )
    perf = data.get("performance", {})
    ll = data.get("lucidlink_filespace", {})
    return PipelineConfig(
        root_path=data.get("root_path", "."),
        mode=data.get("mode", "elasticsearch"),
        skip_patterns=patterns,
        max_entries_per_task=(
            int(perf["max_entries_per_task"])
            if perf.get("max_entries_per_task")
            else None
        ),
        direct_links_enabled=bool(ll.get("enabled", False)),
        direct_links_version=f"v{ll.get('port', 2)}"
        if isinstance(ll.get("port"), int) and ll.get("port") in (2, 3)
        else data.get("direct_links_version", "v2"),
        es_index=data.get("elasticsearch", {}).get("index_name", "fs-entries"),
        es_bulk_size=int(data.get("elasticsearch", {}).get("bulk_size", 100_000)),
        snapshot_path=data.get("database", {}).get("path", "./snapshots"),
        # ABSENT key → default 3; explicit `keep_versions: null` →
        # None = keep every version (the documented retention-off
        # mode; folding null into the default silently vacuumed
        # versions the user asked to retain).
        keep_versions=(
            3
            if "keep_versions" not in data.get("database", {})
            else (
                int(data["database"]["keep_versions"])
                if data["database"]["keep_versions"] is not None
                else None
            )
        ),
        publish_mode=data.get("elasticsearch", {}).get("publish_mode", "full"),
        merge_retries=int(data.get("database", {}).get("merge_retries", 0)),
        raw=data,
    )
