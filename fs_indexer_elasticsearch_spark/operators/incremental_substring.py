"""Incremental batch-vs-corpus EXACT SUBSTRING duplication detection.

The full-corpus queries (``substring_dup_spans`` /
``substring_dedup_clean``, plans/llm_pipeline5.py) re-shingle
EVERYTHING on every run — the Lee et al. span semantics, but at 100 TB
a nightly delta must not pay an O(corpus) recompute. This module gives
the substring layer the same incremental shape the MinHash band index
(operators/incremental_dedup.py) gives near-dup detection:

- The POSITIONAL SHINGLE INDEX is persisted once in a
  :class:`SnapshotStore` — one row per (doc, shingle-start position),
  upserted on the COMPOSITE (sid, pos) key but physically BUCKETED BY
  THE SHINGLE HASH (``bucket_key="h"``), so both the probe and the
  merge prune to the buckets a batch's shingles actually hash into.
  Rows store ``h = xxhash64(shingle)`` (one int64) and NOT the shingle
  string — the index is engine-internal (no oracle reads it), so the
  8-byte hash replaces a variable-length string that at the production
  K of ~50 tokens runs hundreds of bytes. r8 row shrink (r7 verdict
  #3): the former 32-hex-char md5 ``h`` and the concatenated
  ``"sid:pos"`` string key are gone — per-position row constants drop
  from ~60+ B to ~28 B (sid + pos + h + batch_seq, before parquet
  encoding), measured as an index:corpus byte ratio in SCALE.md.
  Equality on xxhash64 is equality on the shingle up to 64-bit
  collisions — acceptable here because a collision only ADDS a
  candidate duplicated position (the same one-sided tolerance the
  banded MinHash layer already accepts by design).
- A delta batch is tokenized and positionally shingled (O(batch),
  the SAME ``positional_word_shingles`` expression as the full-corpus
  queries — batch and corpus shingle identically by construction),
  probed against the pruned slice of the stored index for shingles
  seen in ANY strictly-earlier batch, and its duplicated start
  positions are merged into MAXIMAL spans by the same
  gaps-and-islands window the one-shot query uses. The batch's own
  rows then merge in (bucket-pruned upsert, O(batch)).

Per-cycle cost is proportional to the delta and the touched fraction
of the index — never the corpus. The store grows by exactly one row
per (new doc, shingle position) — O(words), the size of the corpus'
token stream, the inherent cost of an exact-substring inverted index
(a suffix array is the same asymptotic size).

Replay purity: matching is restricted to strictly earlier
``batch_seq``, so a crashed-and-replayed cycle (index merge committed,
caller's sink did not) recomputes the original answer instead of
matching the failed attempt's own rows — the same contract as
``MinHashBandStore.match_and_merge``.

Mutation: a re-ingested CHANGED document leaves stale position rows in
buckets its new shingles don't hash to; mutation goes through
:meth:`ShingleSpanStore.remove_docs` — eager (explicit O(index)
anti-join overwrite) or amortized via the tombstone log
(``mode="tombstone"``, O(removal) per call, folded in by
:meth:`compact_tombstones`) — before the new text merges. Same
discipline as the band store and the IVF index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.text import positional_word_shingles, tokens
from .store_common import TombstoneStore, read_pruned, remove_by_column


class ShingleSpanStore:
    """Persisted positional-shingle index over a SnapshotStore.

    Row schema: (sid, pos, h, batch_seq) — (sid, pos) the composite
    upsert key (unique per doc x position, so re-merging a batch is
    idempotent), ``h = xxhash64(shingle)`` the physical bucket key,
    ``batch_seq`` the LWW version.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        k: int = 5,
        num_buckets: int = 32,
    ):
        from ..sinks.snapshot import SnapshotStore

        self.k = k
        self.store = SnapshotStore(
            spark,
            path,
            key=["sid", "pos"],
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

    # -- shingle derivation --------------------------------------------------
    def delta_rows(
        self, df: DataFrame, id_col: str, text_col: str, batch_seq: int
    ) -> DataFrame:
        d = df.select(
            F.col(id_col).alias("sid"), tokens(text_col).alias("toks")
        ).filter(F.size("toks") >= self.k)
        return (
            d.select(
                "sid",
                F.explode(positional_word_shingles(F.col("toks"), self.k)).alias(
                    "s"
                ),
            )
            .select(
                "sid",
                F.col("s.pos").alias("pos"),
                F.xxhash64(F.col("s.shingle")).alias("h"),
                F.lit(batch_seq).cast("long").alias("batch_seq"),
            )
        )

    # -- lifecycle -----------------------------------------------------------
    def seed(self, corpus: DataFrame, id_col: str, text_col: str) -> int:
        """Initial full-corpus index build (one-time O(corpus); every
        later cycle is O(delta) via :meth:`match_and_merge`). Prior
        tombstones are invalidated by a GENERATION bump committed
        atomically with the data (crash-safe — see
        store_common.TombstoneStore); the clear is pure GC."""
        gen = (self.store.read_meta() or {}).get("tombstone_gen", 0) + 1
        v = self.store.overwrite(
            self.delta_rows(corpus, id_col, text_col, 0),
            meta={"tombstone_gen": gen},
        )
        self.tombstones.clear()
        return v

    def match_and_merge(
        self,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        *,
        batch_seq: int,
        merge: bool = True,
        max_retries: int = 0,
    ) -> DataFrame:
        """Find every MAXIMAL duplicated-against-the-corpus span in the
        batch, then (optionally) merge the batch's shingle rows in.

        Returns (batch_id, n_spans, max_span_words, dup_shingles) for
        every batch document with >= 1 span whose K-shingles all occur
        somewhere in a strictly earlier batch — the batch-vs-corpus
        twin of ``substring_dup_spans``'s output shape. Computed
        against the store's CURRENT version; the merge commits a new
        version afterwards (old version files persist until vacuum, so
        the returned lazy DataFrame stays valid).

        ``max_retries`` > 0 opts the index merge into the store's
        optimistic rebase-and-retry — shingle-row merges commute for
        the same reason band merges do (LWW upsert on the unique
        sid:pos row key, matching pinned to strictly-earlier
        batch_seqs); default stays fail-fast.
        """
        # Lazy localCheckpoint: THREE consumers (touched-bucket scan,
        # probe join, store merge) share one computation of the
        # tokenize/shingle/hash chain (same reasoning as
        # MinHashBandStore.match_and_merge).
        rows = self.delta_rows(batch, id_col, text_col, batch_seq).localCheckpoint(
            eager=False
        )
        stored = read_pruned(
            self.store,
            rows,
            empty_msg="shingle store is empty — seed() the corpus index first",
        )
        # Replay purity: match only strictly earlier batches (see
        # module docstring); tombstoned docs are logically removed even
        # before compaction folds them out of the physical index.
        stored = stored.filter(F.col("batch_seq") < F.lit(int(batch_seq)))
        stored = self.tombstones.apply(stored, "sid")
        corpus_h = stored.select("h").distinct()
        dup = rows.join(corpus_h, "h").select(
            F.col("sid").alias("batch_id"), "pos"
        )
        # Gaps-and-islands: consecutive duplicated start positions form
        # one maximal span (identical merge to substring_dup_spans).
        w = Window.partitionBy("batch_id").orderBy("pos")
        spans = (
            dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
            .groupBy("batch_id", "grp")
            .agg(
                F.count(F.lit(1)).alias("n_pos"),
                F.min("pos").alias("p0"),
                F.max("pos").alias("p1"),
            )
        )
        out = spans.groupBy("batch_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.max(F.col("p1") - F.col("p0") + self.k)
            .cast("long")
            .alias("max_span_words"),
            F.sum("n_pos").cast("long").alias("dup_shingles"),
        )
        if merge:
            # Result stays valid across the merge: versions are
            # immutable and retained until vacuum.
            # merge_with_retry(max_retries=0) IS the fail-fast merge.
            self.store.merge_with_retry(rows, max_retries=max_retries)
        return out

    def remove_docs(self, doc_ids: DataFrame, *, mode: str = "eager") -> int:
        """Drop every position row of the given doc ids (one-column
        DataFrame) — the path that makes document MUTATION safe:
        remove, then merge the new text as a normal batch.

        ``mode="eager"`` is O(index) for the same bucketing reason as
        ``MinHashBandStore.remove_docs`` and is what the
        remove-then-merge MUTATION flow requires; ``mode="tombstone"``
        is the amortized O(removal) pure-DELETION log (a tombstoned
        doc re-merged later stays hidden until compaction or an
        explicit ``tombstones.unmark`` — see
        store_common.TombstoneStore). Returns the new version (index
        for eager, log for tombstone)."""
        if mode == "tombstone":
            return self.tombstones.add(doc_ids)
        return remove_by_column(
            self.store,
            doc_ids,
            "sid",
            empty_msg="shingle store is empty — nothing to remove",
        )

    def compact_tombstones(self) -> int | None:
        """Fold the tombstone log into the index (one amortized
        O(index) pass), then clear the log. Returns the new index
        version, or None if the log was empty."""
        return self.tombstones.compact_into(
            self.store,
            "sid",
            empty_msg="shingle store is empty — nothing to remove",
        )
