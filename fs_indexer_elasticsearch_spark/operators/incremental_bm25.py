"""Persisted, term-bucketed BM25 postings index — OPEN-VOCABULARY
retrieval over a maintained inverted index.

``operators/ivm.maintain_bm25`` keeps a compact maintained view for a
KNOWN query (its postings hold only the query's terms — the
materialized-view shape: cheap, but re-derived per query set). This
module is the other regime a 100 TB retrieval deployment needs: the
postings for EVERY term persist once in a :class:`SnapshotStore`
keyed by the unique (term, doc_id) row but physically BUCKETED BY THE
TERM (``bucket_key="term"``), so serving an ARBITRARY query reads
only the |query terms| buckets its terms hash into — the on-disk
analog of an inverted index's term-sharded posting lists, the same
design as the MinHash band store (bucketed by band hash) and the IVF
store (bucketed by cell id).

State:

- postings store: (term, doc_id, tf, dl, batch_seq) — LWW-upserted on
  the composite (term, doc_id) key, so re-merging a batch is
  idempotent in rows.
- doc-length sidecar store: (doc_id, dl, batch_seq), bucketed by
  doc_id — the O(removal) lookup that lets a DELETION adjust the
  corpus normalizer without touching the term-bucketed index (a
  doc-keyed read has no pruned path through a term-bucketed store).
- the postings store's version META carries, ATOMICALLY under one
  pointer swap per commit: the (n_docs, sum_dl) normalizer as
  TURNSTILE SUMS, the ``stats_seq`` replay watermark, and the
  ``tombstoned`` id list — logical-removal VISIBILITY and its stats
  effect publish in the SAME commit, so no crash can separate
  "hidden from search" from "subtracted from the normalizer" (the
  flaw a separate tombstone-log store cannot avoid: two stores, two
  pointers, one window).

Removal semantics: BOTH modes list the removed ids in the meta (the
visibility + stats commit); ``eager`` additionally drops the postings
rows physically in that same commit (the mutation path — old rows
must leave buckets the new text won't hash to), while ``tombstone``
defers the physical sweep to :meth:`compact_tombstones`. A removed id
RE-ADDED by :meth:`add` is un-listed in the add's own commit — the
re-add is immediately visible (no hidden-until-compaction caveat).
The ``tombstoned`` list is bounded by deletions-since-compaction:
mass-deletion workloads compact (or re-seed) afterwards, exactly like
the band/IVF stores' amortized removal story.

Honest residual window (documented, bounded, self-limiting): the dl
SIDECAR is a second store, so its cleanup is a separate commit. Every
ordering here is chosen so a crash between commits leaves ids LISTED
in the meta — which excludes them from any future stats fold (the
``present`` guard below) — so the normalizer can never double-count
or double-subtract; the worst a crash leaves is orphan sidecar rows,
swept by the next compaction.

Contract mirrors the band store: APPEND-MOSTLY corpora take the fast
path (add = bucket-pruned merge, O(batch)); a MUTATED document goes
through :meth:`remove_docs` first, then re-adds as a normal batch.
``batch_seq`` must be strictly increasing per committed add — the
stats fold is guarded by the ``stats_seq`` watermark, so a REPLAYED
add (at-least-once feeders) upserts its rows idempotently and leaves
the stats AND the tombstone list untouched (a delete that landed
between the original add and its replay must not be un-hidden by the
replay).

Reference parity: the reference's Elasticsearch sink delegates
relevance to ES's own BM25 inverted index
(elasticsearch_integration.py bulk indexing + search_multi_match);
this store is that capability rebuilt Spark-first — sharded postings,
pruned reads, exact scores under the oracle gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..tables import ckpt_shared

from .store_common import read_pruned


class Bm25IndexStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        num_buckets: int = 32,
    ):
        import os

        from ..sinks.snapshot import SnapshotStore

        self.spark = spark
        self.path = path
        self.store = SnapshotStore(
            spark,
            path,
            key=["term", "doc_id"],
            version_col="batch_seq",
            num_buckets=num_buckets,
            bucket_key="term",
        )
        # Doc-length sidecar: doc-keyed, doc-bucketed — removals prune
        # to the removed ids' buckets.
        self.dl_store = SnapshotStore(
            spark,
            os.path.join(path, "doclen"),
            key="doc_id",
            version_col="batch_seq",
            num_buckets=num_buckets,
        )

    # -- derivation -----------------------------------------------------------
    def _rows(
        self, docs: DataFrame, id_col: str, text_col: str, seq: int
    ) -> tuple[DataFrame, DataFrame]:
        """(postings, doclens) of a document frame — one tokenize pass
        feeds both (the engine tokenizer, so scores agree with the
        batch queries by construction)."""
        from ..functions.text import tokens

        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("tk"),
        ).select("doc_id", "tk", F.size("tk").alias("dl"))
        toks = toks.transform(ckpt_shared)  # two consumers
        postings = (
            toks.select("doc_id", "dl", F.explode("tk").alias("term"))
            .groupBy("term", "doc_id", "dl")
            .agg(F.count(F.lit(1)).alias("tf"))
            .select(
                "term",
                "doc_id",
                "tf",
                "dl",
                F.lit(seq).cast("long").alias("batch_seq"),
            )
        )
        doclens = toks.select(
            "doc_id", "dl", F.lit(seq).cast("long").alias("batch_seq")
        )
        return postings, doclens

    def _stats_meta(self) -> dict:
        meta = self.store.read_meta()
        if meta is None or "n_docs" not in meta:
            raise ValueError("BM25 index is empty — seed() it first")
        return meta

    def _tombstoned_df(self, meta: dict) -> DataFrame | None:
        ids = meta.get("tombstoned") or []
        if not ids:
            return None
        id_type = meta["id_type"]
        return self.spark.createDataFrame(
            [(i,) for i in ids], f"doc_id {id_type}"
        )

    def stats(self) -> DataFrame:
        """The 1-row (n_docs, sum_dl) normalizer from the committed
        meta — no scan."""
        meta = self._stats_meta()
        return self.spark.createDataFrame(
            [(int(meta["n_docs"]), int(meta["sum_dl"]))],
            "n_docs long, sum_dl long",
        )

    # -- lifecycle -------------------------------------------------------------
    def seed(self, corpus: DataFrame, id_col: str, text_col: str) -> int:
        """One-time full-corpus build; later cycles are O(delta) adds.
        The stats commit atomically with the rows (meta payload)."""
        postings, doclens = self._rows(corpus, id_col, text_col, 0)
        doclens = doclens.transform(ckpt_shared)  # agg + write
        agg = doclens.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
        ).first()
        id_type = corpus.schema[id_col].dataType.simpleString()
        v = self.store.overwrite(
            postings,
            meta={
                "n_docs": int(agg.n),
                "sum_dl": int(agg.s),
                "stats_seq": 0,
                "tombstoned": [],
                "id_type": id_type,
            },
        )
        self.dl_store.overwrite(doclens)
        return v

    def add(
        self, batch: DataFrame, id_col: str, text_col: str, *, seq: int
    ) -> int:
        """O(delta) maintenance: the batch's postings merge into the
        buckets its terms hash to; the doc-length sidecar and the
        turnstile stats advance with it, and any batch id currently on
        the tombstone list is UN-LISTED in the same commit (a re-added
        doc is immediately visible — remove + add is the mutation
        flow, not a compaction-gated state). NEW-OR-REMOVED DOCS ONLY
        (append-mostly contract — a LIVE mutated doc goes through
        remove_docs first, or its old postings would strand in buckets
        the new text's terms don't hash to, exactly the band-store
        hazard).

        Replay-idempotent: rows LWW-upsert on (term, doc_id); the
        stats fold AND the tombstone un-listing are guarded by the
        ``stats_seq`` watermark — a replayed seq re-lands identical
        rows and must not resurrect an id a NEWER delete listed."""
        meta = dict(self._stats_meta())
        postings, doclens = self._rows(batch, id_col, text_col, seq)
        if int(seq) <= int(meta.get("stats_seq", 0)):
            # Replay of an already-folded batch: rows only.
            return self.store.merge(postings)
        doclens = doclens.transform(ckpt_shared)  # agg + write
        agg = doclens.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
        ).first()
        meta["n_docs"] = int(meta["n_docs"]) + int(agg.n)
        meta["sum_dl"] = int(meta["sum_dl"]) + int(agg.s)
        meta["stats_seq"] = int(seq)
        listed = set(meta.get("tombstoned") or [])
        if listed:
            # Bounded: the batch's ids (collected only when something
            # is listed at all), intersected driver-side.
            batch_ids = {
                r.doc_id for r in doclens.select("doc_id").collect()
            }
            if listed & batch_ids:
                meta["tombstoned"] = sorted(listed - batch_ids, key=str)
        v = self.store.merge(postings, meta=meta)
        self.dl_store.merge(doclens)
        return v

    def remove_docs(self, doc_ids: DataFrame, *, mode: str = "eager") -> int:
        """Remove documents: visibility (the meta tombstone list) and
        the stats subtraction publish in ONE postings-store commit —
        no crash can hide a doc without un-counting it or vice versa.

        ``eager`` additionally drops the postings rows physically in
        that same commit (O(index) anti-join — the mutation path).
        ``tombstone`` is O(removal): the physical sweep is deferred to
        :meth:`compact_tombstones`, and search filters via the list.

        The removed ids are collected driver-side (bounded by the
        removal batch — mass deletions should compact or re-seed
        afterwards, which also caps the meta list's growth). Ids
        already listed, or absent from the corpus, subtract nothing
        (the ``present`` guard), so double-removal is a no-op."""
        from .store_common import remove_by_column

        ids = doc_ids.select(
            F.col(doc_ids.columns[0]).alias("doc_id")
        ).transform(ckpt_shared)
        meta = dict(self._stats_meta())
        listed = set(meta.get("tombstoned") or [])
        # O(removal): only the removed ids' buckets of the sidecar.
        # ``present`` = ids that actually count toward the normalizer:
        # have a dl row and are not already listed.
        present = read_pruned(
            self.dl_store, ids, empty_msg="BM25 index is empty"
        ).join(ids, "doc_id", "semi")
        present_rows = present.select("doc_id", "dl").collect()
        present_rows = [r for r in present_rows if r.doc_id not in listed]
        meta["n_docs"] = int(meta["n_docs"]) - len(present_rows)
        meta["sum_dl"] = int(meta["sum_dl"]) - sum(
            int(r.dl) for r in present_rows
        )
        all_ids = {r.doc_id for r in ids.collect()}
        meta["tombstoned"] = sorted(listed | all_ids, key=str)
        if mode == "tombstone":
            # Meta-only commit: rows untouched, visibility + stats
            # move together under one pointer swap.
            v = self.store.merge(
                self.store.read().limit(0).drop("_bucket"), meta=meta
            )
        else:
            v = remove_by_column(
                self.store,
                ids,
                "doc_id",
                empty_msg="BM25 index is empty — nothing to remove",
                meta=meta,
            )
        return v

    def compact_tombstones(self) -> int | None:
        """Physically sweep every listed id: sidecar rows first, then
        postings rows + clear the list in one commit. Stats were
        adjusted when the ids were listed — this is pure GC. Crash
        between the two commits leaves the ids still LISTED (search
        keeps filtering; a re-run re-sweeps idempotently). Returns the
        new postings version, or None when the list is empty."""
        from .store_common import remove_by_column

        meta = dict(self._stats_meta())
        listed = meta.get("tombstoned") or []
        if not listed:
            return None
        id_type = meta["id_type"]
        ids = self.spark.createDataFrame(
            [(i,) for i in listed], f"doc_id {id_type}"
        )
        self.dl_store.merge(
            self.dl_store.read().limit(0).drop("_bucket"), removed=ids
        )
        meta["tombstoned"] = []
        return remove_by_column(
            self.store,
            ids,
            "doc_id",
            empty_msg="BM25 index is empty — nothing to remove",
            meta=meta,
        )

    # -- serving ---------------------------------------------------------------
    def search(
        self,
        terms: list[str],
        *,
        k: int = 20,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Top-k BM25 over the persisted index for an ARBITRARY term
        list: read ONLY the buckets the query terms hash into
        (partition/manifest pruning — the inverted-list read), filter
        to the exact terms, drop tombstoned docs (anti-join against
        the meta list, broadcast), derive df from the pruned slice,
        score with the shared expressions. Same scores as the batch
        ``bm25_search_topk`` over the equivalent corpus, pinned by the
        oracle gate."""
        from .ivm import bm25_topk

        meta = self._stats_meta()
        probe = self.spark.createDataFrame(
            [(t,) for t in terms], "term string"
        )
        stored = read_pruned(
            self.store,
            probe,
            empty_msg="BM25 index is empty — seed() it first",
        ).filter(F.col("term").isin(*terms))
        tomb = self._tombstoned_df(meta)
        if tomb is not None:
            stored = stored.join(F.broadcast(tomb), "doc_id", "anti")
        return bm25_topk(
            stored.select("doc_id", "dl", "term", "tf"),
            self.stats(),
            k=k,
            k1=k1,
            b=b,
        )
