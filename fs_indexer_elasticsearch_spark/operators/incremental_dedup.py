"""Incremental batch-vs-corpus near-duplicate detection.

The full-corpus dedup queries (operators/dedup.py) recompute shingles,
signatures, and bands over EVERYTHING on every run — correct, but at
100 TB a nightly 1% delta must not pay an O(corpus) recompute. The
reference's signature property is exactly incremental maintenance
(scanner.py:225-244 upserts only changed files); this module gives the
dedup layer the same shape:

- The MinHash BAND INDEX is persisted once in a :class:`SnapshotStore`
  keyed by the unique ``doc:band`` row id but physically BUCKETED BY
  THE BAND HASH ``h`` (``bucket_key="h"``), so both the lookup and the
  merge prune to the buckets a batch's bands actually hash into.
- A delta batch is shingled/signed/banded (O(batch)), probed against
  the pruned slice of the stored index (O(touched buckets)), verified
  by signature agreement (the sigs ride on the index rows — no
  second corpus lookup), and finally MERGED into the store
  (bucket-pruned upsert, O(batch)).

Per-cycle cost is therefore proportional to the delta and the touched
fraction of the index — never the corpus. The store grows by exactly
``bands`` rows per new document (asserted in
tests/test_incremental_dedup.py).

Verification semantics: candidates (>=1 shared band) are scored by
SIGNATURE-ESTIMATED Jaccard — the fraction of agreeing minhash
components, the standard estimator whose expectation IS the true
Jaccard. Exact-Jaccard verification would need the matched corpus
documents' shingles; fetching those by id from a 100 TB text table is
itself an O(corpus) scan on an engine without keyed point reads, which
is precisely what this path exists to avoid. Callers needing exact
verification feed the (small) match list to a follow-up join against
the text table.

Contract: the fast path assumes an APPEND-MOSTLY corpus (the common
case for training corpora — new crawl batches arrive, old documents
rarely mutate). A re-ingested CHANGED document would leave its old
band rows stranded in buckets its new bands don't hash to (bucketing
by ``h`` means old rows can't be found by the new batch's pruned
merge); mutation therefore goes through :meth:`MinHashBandStore.
remove_docs` — an explicit, deliberately O(index) anti-join overwrite
— before the changed text merges as a normal batch. High-mutation
deployments would amortize that with batched removals or a doc-keyed
sidecar mapping sid -> band hashes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.rounding import stable_round
from .dedup import minhash_band_rows
from .store_common import TombstoneStore, read_pruned, remove_by_column


class MinHashBandStore:
    """Persisted MinHash band index over a SnapshotStore.

    Row schema: (band_row, sid, b, h, sig, batch_seq) — ``band_row`` =
    ``"<sid>:<b>"`` is the upsert key (unique per doc x band, so
    re-merging a batch is idempotent), ``h`` the physical bucket key,
    ``batch_seq`` the LWW version.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        num_buckets: int = 32,
    ):
        from ..sinks.snapshot import SnapshotStore

        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.store = SnapshotStore(
            spark,
            path,
            key="band_row",
            version_col="batch_seq",
            num_buckets=num_buckets,
            bucket_key="h",
        )
        self.tombstones = TombstoneStore(
            spark,
            path,
            "sid",
            num_buckets=num_buckets,
            gen_of=lambda: (self.store.read_meta() or {}).get(
                "tombstone_gen", 0
            ),
        )

    # -- band derivation ----------------------------------------------------
    def delta_bands(
        self, df: DataFrame, id_col: str, text_col: str, batch_seq: int
    ) -> DataFrame:
        rows = minhash_band_rows(
            df,
            id_col,
            text_col,
            num_hashes=self.num_hashes,
            bands=self.bands,
            shingle_n=self.shingle_n,
        )
        return rows.select(
            F.concat_ws(
                ":", F.col("sid").cast("string"), F.col("b").cast("string")
            ).alias("band_row"),
            "sid",
            "b",
            "h",
            "sig",
            F.lit(batch_seq).cast("long").alias("batch_seq"),
        )

    # -- lifecycle ----------------------------------------------------------
    def seed(self, corpus: DataFrame, id_col: str, text_col: str) -> int:
        """Initial full-corpus index build (one-time O(corpus); every
        later cycle is O(delta) via :meth:`match_and_merge`). Prior
        tombstones must not filter the fresh corpus: the seed commit
        bumps the tombstone GENERATION atomically with the data (the
        meta payload), so stale log rows are invalidated even if the
        follow-up GC never runs (crash between the two commits — the
        window the old clear-after-seed ordering left open forever)."""
        gen = (self.store.read_meta() or {}).get("tombstone_gen", 0) + 1
        v = self.store.overwrite(
            self.delta_bands(corpus, id_col, text_col, 0),
            meta={"tombstone_gen": gen},
        )
        self.tombstones.clear()  # pure GC; generation already moved on
        return v

    def match_and_merge(
        self,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        *,
        batch_seq: int,
        threshold: float = 0.5,
        merge: bool = True,
        max_retries: int = 0,
    ) -> DataFrame:
        """Match a delta batch against the stored corpus index, then
        (optionally) merge the batch's bands in.

        Returns (batch_id, corpus_id, est_jaccard) for every stored
        document sharing >= 1 band with a batch document and whose
        signature-agreement estimate clears ``threshold``. The result
        is computed against the store's CURRENT version; the merge
        commits a new version afterwards (old version files persist
        until vacuum, so the returned lazy DataFrame stays valid).

        ``max_retries`` > 0 opts the index merge into the store's
        optimistic rebase-and-retry: band merges COMMUTE (rows are
        LWW-upserted on the unique doc:band key with batch_seq as the
        version, so two racing batches land the same final index in
        either order), and a rebase cannot change this batch's match
        result — matching is pinned to strictly-earlier batch_seqs,
        so a concurrent batch's rows are invisible to this probe by
        construction. Default stays fail-fast (the single-writer
        contract); seed() keeps fail-fast always, an overwrite's
        result depends on the base state."""
        # Lazy localCheckpoint, not cache(): THREE consumers (touched-
        # bucket scan, match join, store merge) share one computation of
        # the batch's shingle/sign/band chain, and the returned lazy
        # DataFrame keeps depending on it after this method returns —
        # checkpoint blocks are released by the context cleaner when the
        # plan is dropped, so nothing pins the block manager the way an
        # unreleased cache() would (the leak class r6's advice flagged).
        bands = self.delta_bands(batch, id_col, text_col, batch_seq).localCheckpoint(
            eager=False
        )
        stored = read_pruned(
            self.store,
            bands,
            empty_msg="band store is empty — seed() the corpus index first",
        )
        # Match ONLY against strictly earlier batches. Without this,
        # a replayed epoch (crash after the index merge committed but
        # before the caller's matches sink did) would find the failed
        # attempt's own rows in the store and emit intra-batch pairs
        # the first attempt never produced — replay must be a pure
        # re-computation of the original answer (r7 review finding).
        # It also makes re-running a seq idempotent in RESULT, not
        # just in store growth.
        stored = stored.filter(F.col("batch_seq") < F.lit(int(batch_seq)))
        # Tombstoned docs are logically removed even before compaction
        # folds them out of the physical index (store_common).
        stored = self.tombstones.apply(stored, "sid")
        q = bands.select(
            F.col("sid").alias("batch_id"),
            "b",
            "h",
            F.col("sig").alias("q_sig"),
        )
        c = stored.select(
            F.col("sid").alias("corpus_id"),
            "b",
            "h",
            F.col("sig").alias("c_sig"),
        )
        agree = F.size(
            F.filter(
                F.zip_with("q_sig", "c_sig", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        matches = (
            q.join(c, ["b", "h"])
            .filter(F.col("batch_id") != F.col("corpus_id"))
            # A pair can share several bands; sigs are functionally
            # dependent on the ids, so dedup on the id pair alone.
            .dropDuplicates(["batch_id", "corpus_id"])
            .select(
                "batch_id",
                "corpus_id",
                stable_round(agree / F.lit(self.num_hashes), 3).alias(
                    "est_jaccard"
                ),
            )
            .filter(F.col("est_jaccard") >= threshold)
        )
        if merge:
            # Matches stay valid across the merge: versions are
            # immutable and retained until vacuum, so the lazy result
            # keeps reading the pre-merge version's files. The merge
            # itself is a bucket-pruned upsert, O(batch bands).
            # merge_with_retry(max_retries=0) IS the fail-fast merge
            # (first ConcurrentWriteError re-raises), so one call
            # covers both modes.
            self.store.merge_with_retry(bands, max_retries=max_retries)
        return matches

    def remove_docs(self, doc_ids: DataFrame, *, mode: str = "eager") -> int:
        """Drop every band row of the given doc ids (one-column
        DataFrame) — the slow path that makes document MUTATION safe:
        remove, then merge the new text as a normal batch.

        Deliberately O(index): the rows to delete are keyed by sid but
        the store is bucketed by band hash, so finding them requires a
        full (broadcast-anti-join) pass and an overwrite commit. That
        is the documented cost of bucketing for O(delta) LOOKUP on an
        append-mostly corpus (``mode="eager"`` — the mode the
        remove-then-merge MUTATION flow requires). ``mode="tombstone"``
        is the amortized pure-DELETION form: O(removal) per call — ids
        land in a bucket-pruned removal log that match_and_merge
        filters against (by id, not seq: a tombstoned doc RE-MERGED
        later stays hidden until :meth:`compact_tombstones` or an
        explicit ``tombstones.unmark``); compaction folds the log in
        with ONE O(index) pass for any number of batches. Returns the
        new store version (of the index for eager, of the log for
        tombstone)."""
        if mode == "tombstone":
            return self.tombstones.add(doc_ids)
        return remove_by_column(
            self.store,
            doc_ids,
            "sid",
            empty_msg="band store is empty — nothing to remove",
        )

    def compact_tombstones(self) -> int | None:
        """Fold the tombstone log into the index (one amortized
        O(index) pass), then clear the log. Returns the new index
        version, or None if the log was empty."""
        return self.tombstones.compact_into(
            self.store,
            "sid",
            empty_msg="band store is empty — nothing to remove",
        )
