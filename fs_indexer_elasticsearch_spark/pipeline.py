"""End-to-end indexing pipeline — the engine's `main` (reference
main.py:32-375), Spark-first.

Stages (each one a declarative DataFrame plan; Catalyst owns the
physical strategy — compare SURVEY §3.1's hand-managed queues/threads):

  1. scan        distributed filesystem walk (sources/walker)
  2. normalize   canonical fs_entries projection + skip filters
  3. merge       newer-wins upsert into the versioned SnapshotStore
  4. diff        added/removed/changed vs the previous snapshot
  5. enrich      direct-link fetch for missing/stale rows (J2 + API)
  6. rollup      recursive directory sizes (explode-ancestors)
  7. publish     ES document projection → bulk NDJSON (or connector);
                 deletes propagated from the diff — uncapped
  8. stats       counters over the committed table (A-7 accumulator
                 parity): one in-memory aggregate of the cached
                 ``current``

Returns a PipelineResult with the per-stage DataFrames/metrics so
callers (tests, notebooks) can assert on any intermediate.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .functions import skip_filter
from .operators.enrich import (
    discover_link_work,
    enrich_with_links,
    fake_link_fetcher,
    fetch_direct_links,
)
from .operators.rollup import directory_rollup
from .sinks.es_bulk import bulk_actions, delete_actions, format_documents, write_bulk_file
from .sinks.snapshot import SnapshotStore
from .sources.config import PipelineConfig
from .sources.walker import scan_filesystem, to_fs_entries


@dataclass
class PipelineResult:
    snapshot_version: int
    entries: DataFrame
    diff: DataFrame | None
    rollup: DataFrame
    stats: dict[str, Any] = field(default_factory=dict)
    bulk_dir: str | None = None
    delete_dir: str | None = None

    def release(self) -> None:
        """Unpersist the result's cached DataFrames. Call when done
        with the cycle's outputs — a long-lived driver looping
        run_pipeline otherwise accrues the entries/diff caches of
        every past cycle (CacheManager retains them until explicit
        unpersist)."""
        for df in (self.entries, self.diff):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:  # noqa: BLE001 - best-effort release
                    pass


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    *,
    out_dir: str,
    link_fetcher=None,
    es_client=None,
    kibana_client=None,
) -> PipelineResult:
    """One full scan→index cycle (the reference's `python -m
    fs_indexer_elasticsearch.main`)."""
    if cfg.publish_mode not in ("full", "changed"):
        # A typo'd mode must not silently fall back to the full
        # republish — at the scale publish_mode="changed" targets,
        # that silent fallback IS the failure.
        raise ValueError(
            f"publish_mode must be 'full' or 'changed', got "
            f"{cfg.publish_mode!r}"
        )
    store = SnapshotStore(
        spark,
        os.path.join(cfg.snapshot_path, "fs_entries"),
        key="id",
        version_col="modified_time",
        num_buckets=cfg.num_buckets,
    )
    previous = store.read()
    if previous is not None:
        # No cache: the only consumer is snapshot_diff, whose own cache
        # materializes this scan exactly once (a previous cache()+count()
        # here cost a full extra pass over the table per cycle).
        previous = previous.drop("_bucket")

    # 1-2: scan + normalize.
    raw = scan_filesystem(
        spark,
        cfg.root_path,
        cfg.skip_patterns,
        max_entries_per_task=cfg.max_entries_per_task,
    )
    entries = to_fs_entries(raw, cfg.root_path)
    entries = entries.filter(
        skip_filter(F.col("relative_path"), cfg.skip_patterns)
    ).cache()

    # 3+4: diff the previous snapshot against the NEW SCAN (not the
    # merged table — merge is additive and would mask removals), then
    # merge updates and delete the removed rows, reference parity with
    # ON CONFLICT upsert + DELETE..NOT IN (scanner.py:225-244,447-454).
    # cfg.merge_retries > 0 opts the snapshot commits into the store's
    # optimistic rebase-and-retry — but ONLY the removal-free ones:
    # newer-wins upserts commute, while a diff-derived removal is a
    # statement about THIS scan's base state ("absent at scan time"),
    # and a rebased retry would re-apply it over a concurrent writer's
    # newer upsert of the same key (delete does not commute — see
    # merge_with_retry's caveat). A removal-carrying cycle therefore
    # stays fail-fast; its re-run re-derives the removal set against
    # the fresh state.
    def _commit(st, batch, removed=None):
        if cfg.merge_retries > 0:
            # A no-deletion cycle usually passes an EMPTY removal frame
            # (the diff found nothing removed) — probe it (cheap: the
            # diff is cached) so the common append/update-only night
            # still gets the retry path.
            if removed is not None and removed.isEmpty():
                removed = None
            if removed is None:
                return st.merge_with_retry(
                    batch, max_retries=cfg.merge_retries
                )
        return st.merge(batch, removed=removed)

    diff = None
    prev_version = store.current_version()  # publish_mode="changed" anchor
    if previous is None:
        version = _commit(store, entries)
        if cfg.merge_retries > 0:
            # Under retries the "first" cycle may have REBASED over a
            # concurrent writer's seed — the committed table is then
            # winner ∪ entries, and deriving stats/rollup/publish from
            # the scan alone would silently drop the winner's rows.
            # Read back what actually committed.
            current = store.read().drop("_bucket").cache()
            entries.unpersist()
        else:
            # First cycle, fail-fast: the store was written FROM
            # `entries` (unique keys, no removals), so the merged table
            # IS the cached scan — reuse it instead of re-reading the
            # parquet we just wrote.
            current = entries
    else:
        from .operators.merge import snapshot_diff

        diff = snapshot_diff(
            previous, entries, key="id", compare_cols=["modified_time", "size_bytes"]
        ).cache()
        removed_ids = diff.filter(F.col("change") == "removed").select("id")
        # Reduce the batch to the actual delta (added/changed rows), so
        # the bucket-pruned merge rewrites only the buckets with real
        # changes — a 1% nightly delta costs ~1% of the table, not 100%
        # (the O(table) overwrite was round 1's one genuine scale-killer).
        upsert_ids = diff.filter(F.col("change").isin("added", "changed")).select("id")
        delta = entries.join(upsert_ids, on="id", how="left_semi")
        version = _commit(store, delta, removed_ids)
        current = store.read().drop("_bucket").cache()
        # The scan cache is dead past this point in the incremental
        # branch (stats/result use `current`; `diff` is cached
        # separately) — release it, or a long-lived session accrues one
        # pinned full-scan cache per nightly cycle. (First-cycle keeps
        # it: there `current` IS the cached scan.)
        entries.unpersist()

    # 5: enrichment (injectable fetcher; disabled → empty links).
    # Links persist in their own SnapshotStore (the reference's
    # direct_links table with TTL reuse, direct_links.py:117-122,
    # 204-233): only files with NO link row, or a link staler than the
    # file's mtime, are refetched — a steady-state cycle fetches
    # O(delta), not O(corpus), HTTP calls.
    if cfg.direct_links_enabled:
        links_store = SnapshotStore(
            spark,
            os.path.join(cfg.snapshot_path, "direct_links"),
            key="file_id",
            version_col="last_updated",
            num_buckets=cfg.num_buckets,
        )
        links_prev_version = links_store.current_version()
        known = links_store.read()
        known = known.drop("_bucket") if known is not None else None
        fetcher = link_fetcher or fake_link_fetcher(cfg.direct_links_version)
        work = discover_link_work(current, known)
        # Lazy localCheckpoint pins the SIDE-EFFECTING fetch plan to
        # one execution: the first merge attempt materializes it, and
        # a merge_with_retry rebase (cfg.merge_retries > 0) re-runs
        # the upsert against the checkpointed rows instead of
        # re-issuing every HTTP link fetch (r10 advice). Enrichment
        # below reads the materialized store, so no consumer ever
        # re-executes the fetch either.
        fetched = fetch_direct_links(work, fetcher).localCheckpoint(
            eager=False
        )
        removed_links = (
            diff.filter(F.col("change") == "removed").select(
                F.col("id").alias("file_id")
            )
            if diff is not None
            else None
        )
        links_version = _commit(links_store, fetched, removed_links)
        links = links_store.read().drop("_bucket")
        enriched = enrich_with_links(current, links, broadcast_links=False)
    else:
        enriched = current.withColumn("direct_link", F.lit("")).withColumn(
            "fsentry_id", F.lit(None).cast("string")
        )

    # 6: rollup.
    rollup = directory_rollup(current, path_col="relative_path")

    # 7: publish — bulk upserts + deletes from the diff. index-only
    # mode maintains the snapshot without publishing (the reference's
    # mode matrix, test_configuration_modes.py).
    bulk_dir = delete_dir = None
    stats_extra: dict[str, Any] = {}
    if cfg.mode != "index-only" and cfg.publish_mode == "changed" and prev_version is not None:
        # CDF publish: ship ONLY what this cycle's merge changed —
        # index actions (post-image, freshly enriched) + delete
        # actions, O(changed buckets) from commit metadata instead of
        # re-bulking the live table. Tradeoff vs the reference-parity
        # "full" mode below: unchanged docs keep their previous
        # last_seen. First cycle (no previous version) always takes
        # the full path — everything is new anyway.
        from .sinks.es_bulk import sync_actions_from_changes

        def _fmt(df):
            if cfg.direct_links_enabled:
                df = enrich_with_links(df, links, broadcast_links=False)
            else:
                df = df.withColumn("direct_link", F.lit("")).withColumn(
                    "fsentry_id", F.lit(None).cast("string")
                )
            return format_documents(
                df.withColumn("last_seen", F.current_timestamp())
            )

        actions = sync_actions_from_changes(
            store, cfg.es_index, prev_version, version, format_docs=_fmt
        )
        # Enrichment-only changes: a document whose LINK changed while
        # its fs entry did not (e.g. direct links newly enabled on an
        # existing corpus backfills links for unchanged files) is
        # invisible to the fs_entries feed — union in the link store's
        # OWN change feed so those docs republish too. Post-image rows
        # come from `current`, which this cycle already materializes
        # (rollup + stats), so the extra pass is in-memory; the
        # dedup-against-fs-feed anti-join uses the cached `diff`.
        if cfg.direct_links_enabled and links_version > (links_prev_version or 0):
            if links_prev_version is None:
                link_keys = links.select(F.col("file_id").alias("id"))
            else:
                link_keys = (
                    links_store.read_changes(links_prev_version, links_version)
                    .filter(F.col("_change") != "delete")
                    .select(F.col("file_id").alias("id"))
                )
            fs_changed = (
                diff.filter(F.col("change").isin("added", "changed")).select("id")
                if diff is not None
                else current.select("id")
            )
            link_only = (
                current.join(link_keys, "id", "left_semi")
                .join(fs_changed, "id", "left_anti")
            )
            actions = actions.unionByName(
                bulk_actions(_fmt(link_only), cfg.es_index)
            )
        bulk_dir = os.path.join(out_dir, "bulk")
        write_bulk_file(actions, bulk_dir)
        if es_client is not None:
            ok, failed = es_client.ship_bulk_dir(
                bulk_dir, batch_docs=cfg.es_bulk_size
            )
            stats_extra["es_indexed"], stats_extra["es_failed"] = ok, failed
        if kibana_client is not None:
            stats_extra["kibana_ok"] = kibana_client.create_data_views(cfg.es_index)
    elif cfg.mode != "index-only":
        # Published last_seen is the CYCLE timestamp (reference
        # scanner.py updates last_seen on every scan pass): the
        # delta-only merge leaves unchanged rows' stored column at the
        # last-change time, so refresh it in the document projection —
        # every row in `current` was seen by this scan by construction.
        docs = format_documents(
            enriched.withColumn("last_seen", F.current_timestamp())
        )
        bulk_dir = os.path.join(out_dir, "bulk")
        write_bulk_file(bulk_actions(docs, cfg.es_index), bulk_dir)
        if diff is not None:
            removed = diff.filter(F.col("change") == "removed").select("id")
            delete_dir = os.path.join(out_dir, "deletes")
            write_bulk_file(delete_actions(removed, cfg.es_index), delete_dir)
        # Optional live delivery (reference mode matrix: ES + Kibana
        # fire only in elasticsearch mode). The bulk parts re-chunk to
        # cfg.es_bulk_size docs per request (a raw partition file can
        # exceed ES's http.max_content_length); deletes go through
        # delete_by_query's 1000-id batches — the collect is
        # O(removed delta), the same driver-side id batching the
        # reference does (elasticsearch_integration.py:526-551).
        if es_client is not None:
            ok, failed = es_client.ship_bulk_dir(
                bulk_dir, batch_docs=cfg.es_bulk_size
            )
            stats_extra["es_indexed"], stats_extra["es_failed"] = ok, failed
            if diff is not None:
                # Stream removed ids to the transport in wire-sized
                # batches instead of collect()ing the whole set
                # (elasticsearch_integration.py:526-551's batching,
                # without materializing the id list on the driver).
                deleted, batches = es_client.delete_from_dataframe(
                    cfg.es_index, removed
                )
                if batches:
                    stats_extra["es_deleted"] = deleted
        if kibana_client is not None:
            stats_extra["kibana_ok"] = kibana_client.create_data_views(cfg.es_index)

    # 8: stats — counters over `current`, the table this cycle
    # committed and published (under a rebased retry it holds a
    # concurrent writer's rows too, which the scan does not). It is
    # cached, so this is one in-memory aggregate.
    stats = current.agg(
        F.count(F.lit(1)).alias("total_entries"),
        F.sum(F.when(F.col("type") == "file", 1).otherwise(0)).alias("files"),
        F.sum(F.when(F.col("type") == "directory", 1).otherwise(0)).alias("dirs"),
        F.sum(F.coalesce("size_bytes", F.lit(0))).alias("total_bytes"),
    ).first().asDict()

    # 9: retention — drop snapshot versions beyond the configured keep
    # window (reference DuckDB has one mutable table; our versioned
    # store would otherwise accrue a manifest per cycle forever, and
    # every data file one of them references). Files shared with a
    # retained version stay; the current version is never dropped.
    if cfg.keep_versions is not None:
        store.vacuum(keep=cfg.keep_versions)
        if cfg.direct_links_enabled:
            links_store.vacuum(keep=cfg.keep_versions)

    stats.update(stats_extra)
    return PipelineResult(
        snapshot_version=version,
        entries=current,
        diff=diff,
        rollup=rollup,
        stats=stats,
        bulk_dir=bulk_dir,
        delete_dir=delete_dir,
    )
