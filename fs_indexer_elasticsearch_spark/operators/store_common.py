"""Shared plumbing for the persisted incremental index stores.

Three index classes ride one SnapshotStore each — the MinHash band
index (incremental_dedup.MinHashBandStore), the IVF ANN index
(incremental_ann.IvfIndexStore), and the positional-shingle index
(incremental_substring.ShingleSpanStore) — and they share the same
bucket-pruned probe/maintenance discipline. Keeping that discipline
here, in ONE place, prevents the contract drift a triplicated copy
invites (r7 review finding: the replay-purity and bucket-routing
fixes had to be hand-applied per store).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# Above this many removal ids the eager anti-join drops its broadcast
# hint and lets AQE pick the join strategy: ShuffledHash/SortMerge
# spill, a forced broadcast build side does not — a bulk GDPR-style
# purge (1e8 ids) would OOM the build before the documented O(index)
# cost even starts (r7 verdict #2).
BROADCAST_REMOVAL_MAX = 1_000_000


def touched_buckets(
    snapshot_store, rows: DataFrame, *, version: int | None = None
) -> list[int]:
    """Distinct physical buckets the given keyed rows hash into —
    under the CURRENT layout, or (``version=``) the bucket count that
    pinned version was written with, so a version-pinned pruned read
    stays correct across a rebucket boundary.

    Bounded driver metadata: <= num_buckets ints — the one justified
    collect in the probe path (same class as SnapshotStore.merge's
    own touched-bucket listing)."""
    n = None if version is None else snapshot_store._bucket_count(version)
    return sorted(
        r._bucket
        for r in rows.withColumn("_bucket", snapshot_store._bucket_col(n))
        .select("_bucket")
        .distinct()
        .collect()
    )


def read_pruned(
    snapshot_store,
    rows: DataFrame,
    *,
    empty_msg: str,
    version: int | None = None,
) -> DataFrame:
    """The stored slice covering ``rows``'s buckets, or raise
    ValueError(empty_msg) on an unseeded store. ``version=`` pins the
    read (bucket hashing AND data) to that retained version, so a
    caller whose derivation is validated against a captured version
    never sees rows a concurrent commit landed after the capture —
    those races surface at commit time through ``expected_base``'s
    retryable ConcurrentWriteError instead of here (r11 advice)."""
    stored = snapshot_store.read_buckets(
        touched_buckets(snapshot_store, rows, version=version),
        version=version,
    )
    if stored is None:
        raise ValueError(empty_msg)
    return stored


def remove_by_column(
    snapshot_store,
    ids: DataFrame,
    col: str,
    *,
    empty_msg: str,
    meta: dict | None = None,
) -> int:
    """Anti-join overwrite dropping every row whose ``col`` is in the
    one-column ``ids`` DataFrame — the shared slow path that makes
    MUTATION safe on an index bucketed by something other than its
    logical id (band hash / cell id / shingle hash): the rows to drop
    cannot be found by bucket pruning, so this is deliberately
    O(index) — one anti-join pass and an overwrite commit. The
    broadcast hint is applied only under ``BROADCAST_REMOVAL_MAX`` ids
    (counted once off a lazy checkpoint); above it AQE picks a
    spill-safe plan. For amortized bulk removal without the O(index)
    rewrite per call, see :class:`TombstoneStore`. Returns the new
    store version."""
    ids2 = ids.select(F.col(ids.columns[0]).alias("_rm_id")).localCheckpoint(
        eager=False
    )
    base = snapshot_store.current_version()  # the kept-set's data basis
    cur = snapshot_store.read()
    if cur is None:
        raise ValueError(empty_msg)
    if ids2.count() <= BROADCAST_REMOVAL_MAX:
        ids2 = F.broadcast(ids2)
    kept = cur.join(ids2, cur[col] == ids2["_rm_id"], "left_anti")
    # expected_base: a commit that landed since the read raises instead
    # of being silently deleted by this rewrite (lost-update guard,
    # same rule as merge's migration path / rebucket / IVF seed).
    # ``meta``: callers whose sidecar state must move WITH the removal
    # (e.g. the BM25 store's turnstile corpus stats) pass the adjusted
    # payload so it publishes in the same pointer swap; None carries
    # the current meta forward unchanged (the default every existing
    # caller relies on).
    return snapshot_store.overwrite(kept, meta=meta, expected_base=base)


class TombstoneStore:
    """Bucket-prunable removal log for an index store whose physical
    buckets hash a NON-id column (band hash / cell id / shingle hash).

    Removing by logical id from such an index cannot be bucket-pruned
    — the rows to drop live in buckets the id doesn't determine — so
    the eager path (:func:`remove_by_column`) rewrites the whole
    index per call. The tombstone path makes removal O(removal)
    instead: ids land in THIS store (its own SnapshotStore, keyed AND
    bucketed on the id, so each add is a bucket-pruned merge touching
    only the buckets the removed ids hash into), the index's read
    paths anti-join the probed slice against the log (the log is
    delta-sized between compactions — AQE broadcasts it), and
    :meth:`compact_into` folds any number of tombstone batches into
    the index with ONE amortized O(index) rewrite.

    The log lives under ``<index path>/_tombstones`` — an
    underscore-prefixed entry the index's own readers and version
    listings ignore.

    GENERATION PAIRING (crash safety): tombstones only apply to the
    index GENERATION they were added under. Each index seed bumps a
    ``tombstone_gen`` counter committed atomically WITH the new corpus
    (it rides the index version's meta payload), and every log row is
    stamped with the generation current at add time; ``ids()`` serves
    only current-generation rows. A crash between the seed's commit
    and the follow-up ``clear()`` therefore leaves only STALE-
    generation rows behind — ignored by every probe — instead of
    silently filtering docs out of the fresh corpus forever (the one
    crash window no later commit repaired). ``clear()`` is thereby
    pure GC. ``gen_of`` is the index's current-generation resolver.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        id_col: str,
        *,
        num_buckets: int = 32,
        gen_of=None,
    ):
        from ..sinks.snapshot import SnapshotStore

        self.id_col = id_col
        self._gen_of = gen_of or (lambda: 0)
        self.store = SnapshotStore(
            spark,
            os.path.join(index_path, "_tombstones"),
            key=id_col,
            version_col="rm_seq",
            num_buckets=num_buckets,
        )

    def add(self, ids: DataFrame, *, max_retries: int = 0) -> int:
        """Append removal ids to the log — a bucket-pruned merge,
        O(removal); idempotent (LWW upsert on the id). Rows are
        stamped with the index's CURRENT generation (see class doc).

        ``max_retries`` > 0 opts into the store's optimistic
        rebase-and-retry (tombstone adds COMMUTE: the log is a
        grow-only keyed set between compactions, so two racing adders
        can safely land in either order); default stays fail-fast."""
        seq = (self.store.current_version() or 0) + 1
        rows = ids.select(
            F.col(ids.columns[0]).alias(self.id_col),
            F.lit(seq).cast("long").alias("rm_seq"),
            F.lit(int(self._gen_of())).cast("long").alias("gen"),
        )
        if self.store.current_version() is None:
            if max_retries <= 0:
                return self.store.overwrite(rows)
            # Racing FIRST adders: the seed overwrite is not
            # rebase-safe in general, but tombstone rows are — the
            # loser's rows merge on top of whichever seed won.
            from ..sinks.snapshot import ConcurrentWriteError

            try:
                return self.store.overwrite(rows)
            except ConcurrentWriteError:
                return self.store.merge_with_retry(
                    rows, max_retries=max_retries
                )
        # merge_with_retry(max_retries=0) IS the fail-fast merge.
        return self.store.merge_with_retry(rows, max_retries=max_retries)

    def ids(self) -> DataFrame | None:
        """Current-GENERATION tombstoned ids (None when the log is
        empty). Rows from earlier generations — stale entries a crash
        left behind after a re-seed — are never served."""
        cur = self.store.read()
        if cur is None:
            return None
        return cur.filter(F.col("gen") == int(self._gen_of())).select(
            self.id_col
        )

    def unmark(self, ids: DataFrame) -> int | None:
        """Delete the given ids from the log — the RESURRECTION path
        for a doc re-ingested after a tombstone removal. Bucket-pruned
        (the log is keyed AND bucketed on the id, so the deletion
        routes to exactly the ids' buckets): O(ids), like add().

        Deliberately explicit, never called from the stores' add/merge
        paths: auto-unmarking on re-add would break replay purity — a
        crash-replayed epoch re-adding a batch would resurrect ids
        tombstoned AFTER that epoch's original run. The caller owns
        the ordering knowledge; the operator does not guess. Returns
        the new log version, or None when the log is empty."""
        cur = self.store.current_version()
        if cur is None:
            return None
        empty = self.store.read().drop("_bucket").limit(0)
        return self.store.merge(empty, removed=ids)

    def apply(self, df: DataFrame, col: str) -> DataFrame:
        """``df`` minus rows whose ``col`` is tombstoned. No forced
        broadcast: between compactions the log is delta-sized and AQE
        broadcasts it on its own; after a bulk purge it may not be
        broadcastable, and the shuffled anti-join spills safely."""
        t = self.ids()
        if t is None:
            return df
        t = t.select(F.col(self.id_col).alias("_ts_id"))
        return df.join(t, df[col] == t["_ts_id"], "left_anti")

    def compact_into(self, index_store, col: str, *, empty_msg: str) -> int | None:
        """Fold the log into ``index_store`` (one O(index) anti-join
        overwrite for ALL accumulated tombstones), then clear the log.
        Returns the new index version, or None when the log is empty."""
        t = self.ids()
        if t is None or t.isEmpty():
            return None
        v = remove_by_column(index_store, t, col, empty_msg=empty_msg)
        self.clear()
        return v

    def clear(self) -> None:
        """Empty the log — pure GC: a re-seed already invalidated old
        rows via the generation bump (class doc), and compaction
        already folded them in; this just reclaims the bytes."""
        if self.store.current_version() is None:
            return
        self.store.overwrite(self.store.read().drop("_bucket").limit(0))
        self.store.vacuum(keep=1)
