"""Incremental IVF ANN index — the similarity-search counterpart of
the incremental MinHash band store (operators/incremental_dedup.py).

One-shot ``ivf_ann_topk`` re-assigns the whole corpus to centroid
cells on every query. At 100 TB the inverted file must be BUILT ONCE
and maintained by deltas:

- The index is a :class:`SnapshotStore` holding one row per vector
  (vec_id, cid, emb), keyed by ``vec_id`` for upsert but physically
  BUCKETED BY THE CELL ID (``bucket_key="cid"``), so a search probing
  ``nprobe`` cells reads only those cells' buckets (manifest
  pruning — the on-disk analog of an inverted list) and an ``add``
  batch touches only the buckets its vectors' cells hash to.
- Centroids are fixed at :meth:`seed` and committed atomically with
  the rows, in one of TWO REPRESENTATIONS decided by k at seed time
  (r14, verdict #3):

  - k <= ``CENTROID_META_MAX``: IN the snapshot's per-version META
    PAYLOAD (``SnapshotStore.read_meta`` — k tiny rows of JSON
    written by the same write-file-then-swap-pointer protocol as the
    data, r8: replaces the r7 POSIX-only ``centroids_v{n}``
    directory sidecar whose listdir/rmtree resolution could not run
    on an object store).
  - k > ``CENTROID_META_MAX``: meta carries a POINTER + COUNT only
    (O(1) bytes at any k) and the rows live in a version-exact
    parquet sidecar (``CENTROIDS_v{n}`` under the store path, written
    BEFORE the pointer swap — a 100 TB corpus wants 10⁵-10⁶ cells,
    where a JSON payload and its driver round-trip both bend). The
    sidecar is resolved by exact version from the meta, never by
    directory listing, so the crash story is unchanged; maintenance
    collects O(k) cell IDS at most, never the vectors.

  Rows and centroids therefore publish ATOMICALLY with every
  version: a crash mid-seed leaves the pointer on the old version
  and the new meta/sidecar files orphaned (never resolved — both are
  read by exact version number, not directory listing), and every
  merge/remove carries the centroid meta forward automatically.
  Assignment is a pure function of (vector, centroids) — the
  broadcast argmin projection shared with the one-shot operator
  (``similarity.assign_cells``) — so an index built as seed + N adds
  is ROW-IDENTICAL to one built in a single pass, and a search over
  it returns exactly what ``ivf_ann_topk`` returns on the union
  corpus. The registered query ``ann_incremental_ivf_topk`` pins that
  under the oracle gate by REUSING similarity_ivf_topk's oracle
  verbatim.
- Re-adding a batch is idempotent (LWW upsert on vec_id); a vector's
  embedding update lands in its (possibly new) cell's bucket and the
  stale row is superseded only if the cell didn't change — like the
  band store, mutation that MOVES a row across buckets needs the
  explicit removal pass (:meth:`remove_vecs`, the mirror of
  ``MinHashBandStore.remove_docs``); append-mostly corpora never do.
  Should the contract be violated anyway, :meth:`search` resolves
  duplicate (query, neighbor) candidates deterministically by newest
  ``ivf_seq`` rather than arbitrarily.

Centroid drift: a production deployment re-trains centroids
periodically and re-seeds (one O(corpus) pass); between rebuilds the
fixed-centroid contract is what makes adds O(delta). That is the
standard IVF maintenance model (train once, add forever, retrain on
distribution shift).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.rounding import stable_round
from ..functions.vectors import cosine
from ..sinks.snapshot import ConcurrentWriteError
from .similarity import _ranked_topk, assign_cells
from .store_common import TombstoneStore, read_pruned, remove_by_column


# Seq-scheme constant shared with streaming/pipeline.py's IVF cadence:
# each streaming epoch owns the seq block [(epoch+1)*STRIDE,
# (epoch+2)*STRIDE). seed() stamps this into the index meta so a
# FUTURE stride change cannot silently break replay purity (r13
# advice): a stream checkpointed under one stamping that replays a
# pre-upgrade epoch under another would compute max_seq in the new
# domain and admit rows the original epoch never saw. The pipeline
# refuses a store whose stamp is missing or differs.
IVF_SEQ_STRIDE = 64

#: Centroid sets up to this size ride the version META PAYLOAD (tiny
#: JSON rows, zero extra files — the r8 design). Beyond it the meta
#: keeps a POINTER + COUNT and the rows live in a versioned parquet
#: sidecar under the store path, read back as a (broadcastable)
#: DataFrame — r13 verdict #3: a 100 TB corpus wants 10⁵-10⁶ cells,
#: where a JSON meta payload and the driver round-trip through it
#: both bend. The regime is fixed at seed() and sticky for the
#: store's lifetime (splits/merges update whichever representation
#: the seed chose), so every pre-existing small-k store keeps its
#: byte-identical meta and gate hashes.
CENTROID_META_MAX = 1024


class _StaleCentroids(ConcurrentWriteError):
    """Terminal add-retry abort: the centroid generation moved under
    a retrying add, so its cell assignments can never become valid —
    surfaced to callers as ConcurrentWriteError (the public contract)
    but routed past retry_concurrent's backoff via ``no_retry``."""


class IvfIndexStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        num_buckets: int = 32,
    ):
        from ..sinks.snapshot import SnapshotStore

        self.spark = spark
        self.path = path
        self.store = SnapshotStore(
            spark,
            path,
            key="vec_id",
            version_col="ivf_seq",
            num_buckets=num_buckets,
            bucket_key="cid",
            # Maintenance re-buckets rows (split/merge move vecs
            # between cells), so a touched slice can hold a vec's
            # superseded old copy next to its live one — the merge
            # must collapse to newest-per-key instead of assuming
            # key-uniqueness, or every matching batch row fans out
            # into exact duplicates (and hot-cell counts inflate
            # geometrically under repeated maintenance).
            dedup_current=True,
        )
        self.tombstones = TombstoneStore(
            spark,
            path,
            "vec_id",
            num_buckets=num_buckets,
            gen_of=lambda: (self.store.read_meta() or {}).get(
                "tombstone_gen", 0
            ),
        )
        self._cent_cache: tuple[int, DataFrame] | None = None

    # -- centroids -----------------------------------------------------------
    def _meta(self) -> dict:
        meta = self.store.read_meta()
        if meta is None or (
            "centroids" not in meta and "centroids_ref" not in meta
        ):
            raise ValueError("IVF index is empty — seed() it first")
        return meta

    def _sidecar_dir(self, version: int) -> str:
        import os

        return os.path.join(self.path, f"CENTROIDS_v{version}")

    def _write_centroid_sidecar(
        self, cents: DataFrame, version: int
    ) -> None:
        """Write the large-regime centroid rows as a parquet sidecar
        for ``version`` — BEFORE the version's pointer swap, same
        crash story as data/meta files: the pointer never moves until
        everything it references exists, and a crash in between
        leaves an orphan directory no reader ever resolves (meta refs
        are by exact version). Sidecars of vacuumed versions are
        swept by :meth:`IvfIndexStore.vacuum`, which keeps any
        sidecar a RETAINED version's meta still references."""
        import shutil

        out = self._sidecar_dir(version)
        shutil.rmtree(out, ignore_errors=True)
        cents.coalesce(8).write.mode("overwrite").parquet(out)

    def _centroid_meta(
        self,
        cents: DataFrame,
        k: int,
        version: int,
        base: dict,
        *,
        sticky_large: bool = False,
    ) -> dict:
        """Fill ``base`` with the centroid representation for a commit
        at ``version``: rows inline when k <= CENTROID_META_MAX (the
        small regime — byte-identical metas to the pre-spill design),
        else a sidecar ref + count (meta stays O(1) at any k).
        ``sticky_large`` pins the large regime regardless of k —
        split/merge pass the store's CURRENT regime so a large index
        that momentarily shrinks below the threshold never flip-flops
        representations mid-life (only a re-seed re-decides)."""
        meta = dict(base)
        if k <= CENTROID_META_MAX and not sticky_large:
            rows = cents.collect()  # bounded: k <= CENTROID_META_MAX
            meta["centroids"] = [
                (r[0], [float(x) for x in r[1]]) for r in rows
            ]
            meta.pop("centroids_ref", None)
            meta.pop("centroid_count", None)
        else:
            self._write_centroid_sidecar(cents, version)
            meta["centroids_ref"] = f"CENTROIDS_v{version}"
            meta["centroid_count"] = int(k)
            meta.pop("centroids", None)
        return meta

    def _is_large(self) -> bool:
        return "centroids_ref" in (self.store.read_meta() or {})

    def centroids(self) -> DataFrame:
        """The committed centroid set as a (vec_id, emb) DataFrame.
        Small regime: rebuilt from the version's meta payload — k tiny
        rows, a createDataFrame, no file scan, no directory listing;
        Python floats JSON-round-trip exactly, so assignment is
        bit-identical to the seeding pass. Large regime
        (k > CENTROID_META_MAX): read from the version-exact parquet
        sidecar the meta points at — parquet doubles are exact too,
        and the frame is broadcast by its consumers, never collected
        to the driver."""
        import os

        v = self.store.current_version()
        if self._cent_cache is not None and self._cent_cache[0] == v:
            return self._cent_cache[1]
        meta = self._meta()
        if "centroids" in meta:
            rows = [
                (r[0], [float(x) for x in r[1]]) for r in meta["centroids"]
            ]
            df = self.spark.createDataFrame(
                rows, f"vec_id {meta['id_type']}, emb array<double>"
            )
        else:
            df = self.spark.read.parquet(
                os.path.join(self.path, meta["centroids_ref"])
            ).select("vec_id", "emb")
        self._cent_cache = (v, df)
        return df

    def centroid_count(self) -> int:
        """Committed centroid-set size — from the meta count (large
        regime) or the inline row list (small), never a table scan."""
        meta = self._meta()
        if "centroids" in meta:
            return len(meta["centroids"])
        return int(meta["centroid_count"])

    def _dim(self) -> int:
        """Vector width the index was seeded with."""
        return int(self._meta()["dim"])

    @staticmethod
    def _centroid_gen(meta: dict | None) -> int:
        """The centroid-set generation of a meta payload. Falls back
        to ``tombstone_gen`` for indexes seeded before the split op
        separated the two (they always moved together then, so the
        fallback is exact)."""
        meta = meta or {}
        return int(meta.get("centroid_gen", meta.get("tombstone_gen", 0)))

    def _norm(
        self,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        dim: int,
        keep: tuple[str, ...] = (),
    ) -> DataFrame:
        """Normalize caller columns to the index's canonical
        (vec_id, emb) names — the persisted centroids always carry
        those names, so assignment must too (r7 review finding: any
        other caller column pair crashed on the centroid select) —
        and ENFORCE the vector width per row: a mismatched vector
        would zip against the centroid to a NULL cosine and silently
        land in the lowest cell with NULL search scores; raise_error
        beats durable corruption (same guard contract as
        functions/vectors.lsh_bucket). The guard wraps the VECTOR
        column itself (when size ok then vec else raise) — never
        arithmetic on the id column, which would break string ids and
        retype numeric ones (r7 review finding)."""
        guarded_vec = F.when(
            F.size(vec_col) == F.lit(dim), F.col(vec_col)
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "IvfIndexStore: vector has %s dims, index expects "
                    + str(dim),
                    F.size(vec_col).cast("string"),
                )
            )
        )
        return df.select(
            F.col(id_col).alias("vec_id"),
            guarded_vec.alias("emb"),
            *[F.col(c) for c in keep],
        )

    def _assigned(
        self,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        seq: int,
        cents: DataFrame,
        dim: int,
        *,
        vis_col: str | None = None,
    ):
        keep = (vis_col,) if vis_col else ()
        cells = assign_cells(
            self._norm(df, id_col, vec_col, dim, keep=keep),
            cents, "vec_id", "emb", "vec_id", "emb", 1, keep=keep,
        )
        # ivf_seq is the LWW version (a re-stamp must win the bucket
        # upsert); ivf_vis is the row's VISIBILITY seq — the seq of the
        # add that introduced the vector, carried UNCHANGED across
        # maintenance re-assignments (``vis_col`` threads it through
        # the projection, no join), so search's max_seq cut answers
        # "was this row added before epoch boundary X" exactly even
        # after cells were rebalanced.
        vis = F.col(vis_col) if vis_col else F.lit(seq)
        return cells.select(
            "vec_id",
            "cid",
            "emb",
            F.lit(seq).cast("long").alias("ivf_seq"),
            vis.cast("long").alias("ivf_vis"),
        )

    # -- lifecycle -----------------------------------------------------------
    def seed(
        self,
        corpus: DataFrame,
        centroids: DataFrame,
        id_col: str,
        vec_col: str,
    ) -> int:
        """One-time index build: assign the corpus against the centroid
        set (broadcast argmin, no shuffle) and commit rows + centroids
        as ONE version — the centroid rows ride the version's meta
        payload, so the pointer swap inside ``store.overwrite``
        publishes both together. A crash mid-seed leaves the pointer
        on the old version; the orphan meta/data files are never
        resolved and are GC-ed by vacuum."""
        norm_c = centroids.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("emb"),
        )
        id_type = norm_c.schema["vec_id"].dataType.simpleString()
        base = self.store.current_version()
        v_next = (base or 0) + 1
        prev = self.store.read_meta() or {}
        meta_base = {
            "id_type": id_type,
            # Bumped atomically with the fresh corpus: invalidates the
            # old generation's tombstones even if the clear below never
            # runs (crash window — store_common.TombstoneStore).
            "tombstone_gen": prev.get("tombstone_gen", 0) + 1,
            # The CENTROID generation — what add()'s retry pin actually
            # guards (stale cell assignments). Separate from
            # tombstone_gen so split_hot_cells can retire a centroid
            # without resurrecting tombstoned ids (r11; before the
            # split op existed the two generations always moved
            # together, so tombstone_gen doubled as both).
            "centroid_gen": self._centroid_gen(prev) + 1,
            # Seq-scheme stamp: which per-epoch stride the streaming
            # cadence may stamp rows of this index with (see
            # IVF_SEQ_STRIDE). Carried forward by every merge/remove;
            # streaming_ivf_pipeline refuses a mismatch.
            "ivf_seq_stride": IVF_SEQ_STRIDE,
        }
        # One bounded pass decides the regime and validates the dims —
        # k+1 tiny rows, never the vectors themselves.
        dim_counts = norm_c.groupBy(F.size("emb").alias("_d")).agg(
            F.count(F.lit(1)).alias("_n")
        ).collect()
        dims = sorted(int(r._d) for r in dim_counts)
        if len(dims) != 1:
            raise ValueError(
                f"IvfIndexStore.seed: centroids have mixed dims {dims}"
            )
        k = sum(int(r._n) for r in dim_counts)
        meta_base["dim"] = dims[0]
        if k <= CENTROID_META_MAX:
            # Small regime: rows ride the meta (byte-identical to the
            # pre-spill design) and the assignment frame is rebuilt
            # FROM those rows, so assignment is bit-identical to every
            # later meta read.
            crows = [
                (r.vec_id, [float(x) for x in r.emb])
                for r in norm_c.collect()
            ]
            meta = dict(meta_base)
            meta["centroids"] = crows
            cents = self.spark.createDataFrame(
                crows, f"vec_id {id_type}, emb array<double>"
            )
        else:
            # Large regime: rows go to the v_next parquet sidecar
            # BEFORE the commit (pointer never references missing
            # files); meta carries ref + count only — O(1) at any k.
            # Assignment reads the sidecar BACK so the seeding pass
            # and every later search assign from literally the same
            # bytes.
            import os

            meta = self._centroid_meta(
                norm_c, k, v_next, meta_base, sticky_large=True
            )
            cents = self.spark.read.parquet(
                os.path.join(self.path, meta["centroids_ref"])
            ).select("vec_id", "emb")
        # expected_base pins the commit to the version this seed read:
        # a racing writer makes overwrite raise ConcurrentWriteError
        # BEFORE committing (snapshot.py _txn), so rows and centroids
        # can never commit against a moved pointer.
        v = self.store.overwrite(
            self._assigned(corpus, id_col, vec_col, 0, cents, dims[0]),
            meta=meta,
            expected_base=base,
        )
        self._cent_cache = None
        # Pure GC — the generation bump in the committed meta already
        # invalidated the old tombstones (a purged id legitimately
        # re-seeded must not be filtered, even across a crash here).
        self.tombstones.clear()
        if v != v_next:  # unreachable given expected_base; belt-and-braces
            raise RuntimeError(
                f"IvfIndexStore.seed: concurrent writer detected "
                f"(expected version {v_next}, committed {v}); the store is "
                "single-writer by contract and the committed rows/centroid "
                "pairing is now unreliable — re-seed to restore it"
            )
        return v

    def retrain(
        self,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        *,
        k: int = 16,
        iterations: int = 2,
    ) -> int:
        """The periodic centroid-refresh pass of the IVF maintenance
        model (module docstring: train once, add forever, retrain on
        distribution shift): fit k-means over the given corpus
        (operators/clustering.kmeans_fit — deterministic smallest-id
        seeding, stable-rounded means) and re-seed the index with the
        new centroid set in ONE atomic commit. O(corpus), run rarely;
        between retrains adds stay O(delta) under the fixed-centroid
        contract. Returns the new store version."""
        from .clustering import kmeans_fit

        cents = kmeans_fit(
            corpus, id_col=id_col, vec_col=vec_col, k=k, iterations=iterations
        )
        cdf = (
            self.spark.createDataFrame(
                [(int(cid), vec) for cid, vec in cents],
                "vec_id bigint, emb array<double>",
            )
            # seed() normalizes centroid columns by the CALLER's names.
            .withColumnRenamed("vec_id", id_col)
            .withColumnRenamed("emb", vec_col)
        )
        return self.seed(corpus, cdf, id_col, vec_col)

    def add(
        self,
        batch: DataFrame,
        id_col: str,
        vec_col: str,
        *,
        seq: int,
        max_retries: int = 0,
        cell_counts: dict | None = None,
    ) -> int:
        """O(delta) index maintenance: assign the batch against the
        FIXED centroids and bucket-pruned-merge it in (the centroid
        meta carries forward with the new version automatically).

        ``max_retries`` > 0 opts into an optimistic rebase-and-retry
        that is GENERATION-PINNED: adds against the SAME centroid
        generation commute (LWW upsert per vec id; cell assignment
        depends only on the fixed centroids, not on the base state),
        but a retry must never land rows whose cids were computed
        against centroids a concurrent retrain/seed just replaced —
        the vectors would silently mis-bucket in the new cell layout.
        Each attempt therefore (1) re-reads the pointer, (2) verifies
        the centroid generation it assigned against is STILL the one
        at that version, and (3) commits with ``expected_base`` pinned
        to it — the store's claim re-check makes the validation exact
        (no validate-vs-claim window). A generation change aborts with
        ConcurrentWriteError immediately: the caller must re-assign
        against the new centroids, not retry. Retrain/seed themselves
        keep fail-fast — an overwrite's result depends on the base.

        ``cell_counts``: an optional caller-owned dict UPDATED in
        place with this batch's per-cell row counts (one bounded
        collect off the assignment the add computes anyway, a lazy
        checkpoint keeping it one materialization). This is the
        O(delta) MAINTENANCE TRIGGER hint: a streaming feeder
        accumulates growth-per-cell across epochs and invokes
        maintain_cells only when some cell plausibly crossed the
        split band, instead of paying the policy's O(live cells)
        count pass on every cold epoch. It is an UPPER BOUND on
        growth (LWW re-adds and later deletes are not netted out) —
        safe as a trigger (may fire early, never suppresses the
        caller's cadence fallback)."""
        if self.store.current_version() is None:
            raise ValueError("IVF index is empty — seed() it first")
        # Capture the generation BEFORE reading the centroids the
        # assignment embeds: a retrain landing between the two reads
        # then makes the first attempt's gen check fail (a safe,
        # honest abort) instead of letting rows assigned against the
        # NEW centroids masquerade under an OLD gen0 — or, with the
        # capture order reversed, stale-centroid rows under a fresh
        # gen0 (the silent mis-bucketing this pin exists to exclude).
        gen0 = self._centroid_gen(self.store.read_meta())
        rows = self._assigned(
            batch, id_col, vec_col, seq, self.centroids(), self._dim()
        )
        if cell_counts is not None:
            rows = rows.localCheckpoint(eager=False)
            for r in (
                rows.groupBy("cid")
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()  # bounded by the number of cells
            ):
                cell_counts[r.cid] = cell_counts.get(r.cid, 0) + r._n
        if max_retries <= 0:
            return self.store.merge(rows)
        from ..sinks.snapshot import retry_concurrent

        def attempt() -> int:
            v0 = self.store.current_version()
            gen_v0 = self._centroid_gen(self.store.read_meta(v0))
            if gen_v0 != gen0:
                raise _StaleCentroids(
                    f"IVF centroid generation moved {gen0} -> {gen_v0} "
                    "(concurrent retrain/seed/split) while this add was "
                    "retrying; its cell assignments are stale — "
                    "re-assign against the current centroids"
                )
            return self.store.merge(rows, expected_base=v0)

        # A generation move is TERMINAL (retrying can never succeed —
        # the assignments are stale by construction): no_retry routes
        # it past the backoff loop unchanged.
        return retry_concurrent(
            attempt, max_retries=max_retries, no_retry=(_StaleCentroids,)
        )

    def split_hot_cells(
        self,
        *,
        threshold: int,
        seq: int,
        max_retries: int = 0,
    ) -> int | None:
        """Hot-cell maintenance (r10 verdict #7): incremental adds
        skew cells over time — a cell absorbing 50% of the stream
        makes every probe that touches it O(hot cell), and without a
        rebalance path the only fix was a full retrain. This op
        BINARY-SPLITS every cell whose row count exceeds
        ``threshold``: a deterministic 2-means inside each hot cell
        derives two child centroids (seed A = the cell's smallest
        vec_id, seed B = the member least-cosine-similar to A, one
        Lloyd step, stable-rounded means — the kmeans_fit
        determinism rules), the parent centroid is RETIRED from the
        committed centroid set, and only the hot cells' vectors are
        re-assigned (against the FULL new centroid set, so a vector
        whose true nearest cell was elsewhere migrates too). Rows of
        cold cells are untouched — the op is O(hot rows) plus one
        column-pruned cid count over the index, never a retrain.

        Commit protocol: rows + the new centroid meta land in ONE
        ``merge(meta=..., expected_base=v0)`` — centroids and
        assignments publish atomically, and the pin aborts on any
        concurrent commit (an add that landed rows in the parent
        cell after our read would otherwise be orphaned under a
        retired cid). ``max_retries`` re-runs the WHOLE derivation
        (sizes, members, children) against the moved base — the
        generation-pinned shape add() uses, except nothing here is
        reusable across attempts. The commit bumps ``centroid_gen``
        (failing concurrent add retries loudly — their assignments
        are stale) but NOT ``tombstone_gen``: deleted ids stay
        deleted across a split.

        ``seq`` stamps the re-assigned rows and MUST be STRICTLY
        GREATER than every hot row's ivf_seq (the caller owns the
        sequence domain, same as add) — enforced with a loud raise: a
        child cid can hash into the parent's bucket, where only a
        strictly-newer row wins the LWW upsert (operators/merge.py's
        strictly-newer predicate), so a TIE would silently keep the
        row under the retired cid, invisible to every future probe.
        Rows whose child cid hashes elsewhere leave their old copy
        behind as dead weight (cid retired → never probed; search's
        newest-seq dedup covers hash collisions); the space is
        reclaimed by the next eager removal / retrain / rebucket
        pass.

        Scope: sized for SKEW repair — a few cells grown past the
        threshold. The re-assign batch rides merge's delta contract
        (per-partition hash map on the batch), so if the hot set has
        grown to a large fraction of the whole index, that is
        distribution shift, not skew: ``retrain`` (one O(corpus)
        overwrite) is the right tool there.

        A cell whose 2-means DEGENERATES — every member ties into one
        child (identical or cosine-indistinguishable vectors) — is
        left alone (its parent centroid survives, its rows stay): a
        one-child "split" would commit a same-size cell under a new
        cid forever, so loop-until-None callers would livelock
        re-flagging it. Such a cell is irreducible by splitting; if
        its mass is a problem, dedup the vectors or retrain. When
        every over-threshold cell is degenerate the op returns None.

        Returns the new version, or None when no cell exceeds the
        threshold (or all that do are degenerate)."""
        from ..sinks.snapshot import retry_concurrent

        return retry_concurrent(
            lambda: self._split_hot_cells_once(threshold, seq),
            max_retries=max_retries,
        )

    def _split_hot_cells_once(self, threshold: int, seq: int) -> int | None:
        v0 = self.store.current_version()
        if v0 is None:
            raise ValueError("IVF index is empty — seed() it first")
        meta = dict(self._meta())
        id_type = meta["id_type"]
        large = "centroids_ref" in meta
        cents_df = self.centroids()
        # Driver state is O(k) IDS only (a list of cell ids — bytes
        # per cell), NEVER the centroid vectors: the large regime
        # keeps those in the parquet sidecar end to end. The id list
        # is what the zero-row-cold-cell logic and the hot/cold set
        # arithmetic below need.
        live_cids = (
            [r.vec_id for r in cents_df.select("vec_id").collect()]
            if large
            else [i for i, _e in meta["centroids"]]
        )
        # One column-pruned pass: only cid/vec_id reach the scan.
        # LIVE cells only — a retired parent's leftover rows (the
        # documented dead weight of a previous split) sit under a cid
        # no centroid carries; counting them would re-flag the old
        # parent forever. LIVE rows only (r11 review): tombstoned
        # rows are already invisible to every probe, so counting
        # them would split cells that aren't actually hot — and a
        # 100%-tombstoned cell would have its centroid retired with
        # zero children created, silently shrinking the centroid
        # set on the strength of deleted data.
        live_rows = (
            # Large regime: a 10⁵-literal isin is a plan bomb — the
            # live-cell restriction is a broadcast semi-join against
            # the sidecar frame instead.
            self.store.read(version=v0).join(
                F.broadcast(cents_df.select(F.col("vec_id").alias("cid"))),
                "cid",
                "semi",
            )
            if large
            else self.store.read(version=v0).filter(
                F.col("cid").isin(live_cids)
            )
        )
        hot_ids = [
            r.cid
            for r in self.tombstones.apply(live_rows, "vec_id")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > int(threshold))
            .collect()  # bounded by the number of cells (k)
        ]
        if not hot_ids:
            return None
        probe = self.spark.createDataFrame(
            [(c,) for c in hot_ids], f"cid {id_type}"
        )
        # version=v0 (r11 advice): hot_ids/meta were computed at v0,
        # so the hot-row read — and the max-seq validation below — are
        # pinned to the SAME version. An unpinned read raced here: a
        # concurrent add landing ivf_seq >= seq between the version
        # capture and this scan tripped the seq guard's terminal
        # ValueError, aborting a race retry_concurrent(max_retries>0)
        # was configured to ride out. Pinned, every concurrent-commit
        # interaction funnels through the one retryable channel — the
        # merge's expected_base ConcurrentWriteError.
        hot = (
            read_pruned(
                self.store,
                probe,
                empty_msg="IVF index is empty",
                version=v0,
            )
            .filter(F.col("cid").isin(hot_ids))
            .select("cid", "vec_id", "emb", "ivf_seq", "ivf_vis")
        )
        # Tombstoned ids must not shape child centroids or be
        # re-assigned (they would resurface under a live cid; under
        # the dead parent cid they are never probed again).
        hot = self.tombstones.apply(hot, "vec_id").localCheckpoint(
            eager=False
        )
        # The strictly-greater seq contract, enforced (r11 review: a
        # TIE loses the LWW upsert when a child cid hashes into the
        # parent's bucket — the row would stay under the retired cid,
        # silently invisible to every future probe).
        max_seq = hot.agg(F.max("ivf_seq")).first()[0]
        if max_seq is not None and int(seq) <= int(max_seq):
            raise ValueError(
                f"split_hot_cells: seq={seq} must be strictly greater "
                f"than every hot row's ivf_seq (max={max_seq}) — an "
                "equal seq loses the strictly-newer LWW upsert and "
                "strands the row under the retired cell id"
            )
        hot = hot.drop("ivf_seq")
        # Deterministic 2-means per hot cell.
        wa = Window.partitionBy("cid").orderBy("vec_id")
        seed_a = (
            hot.withColumn("_rn", F.row_number().over(wa))
            .filter(F.col("_rn") == 1)
            .select("cid", F.col("emb").alias("_ea"))
        )
        ha = hot.join(F.broadcast(seed_a), "cid")
        wb = Window.partitionBy("cid").orderBy(
            F.asc(stable_round(cosine("emb", "_ea"), 6)), F.asc("vec_id")
        )
        seed_b = (
            ha.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") == 1)
            .select("cid", F.col("emb").alias("_eb"))
        )
        assigned = (
            ha.join(F.broadcast(seed_b), "cid")
            .withColumn(
                "_child",
                F.when(
                    stable_round(cosine("emb", "_ea"), 6)
                    >= stable_round(cosine("emb", "_eb"), 6),
                    F.lit(0),
                ).otherwise(F.lit(1)),
            )
        )
        means = (
            assigned.select("cid", "_child", F.posexplode("emb").alias("_d", "_x"))
            .groupBy("cid", "_child", "_d")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("cid", "_child")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_d", "_m"))),
                    lambda s: stable_round(s["_m"], 6),
                ).alias("_emb")
            )
            .collect()  # bounded: 2 x hot cells
        )
        # Degenerate cells — every member cosine-tied into one child
        # (identical/duplicated vectors) — are SKIPPED: retiring the
        # parent for a single same-size child makes no progress and
        # would livelock loop-until-None callers (r11 review). The
        # parent centroid and its rows stay untouched.
        by_parent: dict = {}
        for r in means:
            by_parent.setdefault(r.cid, []).append(r)
        split_parents = {c for c, rs in by_parent.items() if len(rs) == 2}
        if not split_parents:
            return None
        # Children get fresh ids: numeric -> max+1.., string ->
        # "<parent>~<i>" (collision-checked). Both derivable from the
        # O(k) id list — vectors stay distributed in the large regime.
        old_ids = set(live_cids)
        numeric = id_type in ("tinyint", "smallint", "int", "bigint")
        next_id = (max(old_ids) + 1) if numeric and old_ids else None
        children: list[tuple] = []
        for r in sorted(means, key=lambda r: (str(r.cid), r._child)):
            if r.cid not in split_parents:
                continue
            if numeric:
                cid = next_id
                next_id += 1
            else:
                cid = f"{r.cid}~{r._child}"
                if cid in old_ids:
                    raise ValueError(
                        f"split_hot_cells: child id {cid!r} collides with "
                        "an existing centroid id"
                    )
            children.append((cid, [float(x) for x in r._emb]))
        meta["centroid_gen"] = self._centroid_gen(meta) + 1
        if large:
            import os

            children_df = self.spark.createDataFrame(
                children, f"vec_id {id_type}, emb array<double>"
            )
            parents_df = self.spark.createDataFrame(
                [(c,) for c in sorted(split_parents, key=str)],
                f"vec_id {id_type}",
            )
            new_cents = cents_df.join(
                F.broadcast(parents_df), "vec_id", "anti"
            ).unionByName(children_df)
            k_new = len(old_ids) - len(split_parents) + len(children)
            # Sidecar lands at the version the pinned merge will
            # commit (v0+1 — a racing commit aborts the merge before
            # its meta is ever read; single-writer contract, same as
            # seed). Assignment reads the sidecar BACK so the split
            # pass and every later search assign from the same bytes.
            meta = self._centroid_meta(
                new_cents, k_new, v0 + 1, meta, sticky_large=True
            )
            cents = self.spark.read.parquet(
                os.path.join(self.path, meta["centroids_ref"])
            ).select("vec_id", "emb")
        else:
            new_crows = [
                (i, e)
                for i, e in meta["centroids"]
                if i not in split_parents
            ] + children
            meta["centroids"] = new_crows
            cents = self.spark.createDataFrame(
                new_crows, f"vec_id {id_type}, emb array<double>"
            )
        # Re-stamp ivf_seq (the LWW version — must supersede the old
        # copy) but carry each row's ORIGINAL ivf_vis forward: a
        # rebalance moves rows between cells, it does not re-add them,
        # so their visibility under search's max_seq cut is unchanged.
        reassigned = self._assigned(
            hot.filter(F.col("cid").isin(list(split_parents))),
            "vec_id",
            "emb",
            seq,
            cents,
            int(meta["dim"]),
            vis_col="ivf_vis",
        )
        v = self.store.merge(reassigned, meta=meta, expected_base=v0)
        self._cent_cache = None
        return v

    def merge_cold_cells(
        self,
        threshold: int,
        *,
        seq: int,
        max_retries: int = 0,
    ) -> int | None:
        """Cold-cell maintenance — the INVERSE of
        :meth:`split_hot_cells`: deletions and churn leave cells with
        few (or zero) live vectors, and every one of them still costs
        a probe slot (``nprobe`` nearest CENTROIDS are probed, so a
        near-empty cell crowds out a full one and recall decays) while
        the centroid set — which rides the version meta and is
        broadcast to every probe — grows without bound under a
        split-only policy. This op RETIRES every live cell whose LIVE
        row count falls below ``threshold`` and re-assigns its
        surviving vectors to the nearest SURVIVING centroid; an empty
        cold cell is a pure centroid-set shrink (nothing to
        re-assign, the meta commit alone retires it).

        Commit protocol mirrors the split: rows + the shrunk centroid
        meta land in one ``merge(meta=..., expected_base=v0)`` with
        the cold-row read and the max-seq validation PINNED to
        the captured ``v0`` (the r11-advice rule: every
        concurrent-commit interaction funnels through the retryable
        expected_base ConcurrentWriteError; ``max_retries`` re-runs
        the whole derivation). ``centroid_gen`` bumps,
        ``tombstone_gen`` does not. ``seq`` must be strictly greater
        than every cold row's ivf_seq — same LWW rationale as the
        split (a re-assigned row whose new cid hashes into its old
        bucket must supersede the old copy). Physical leftovers under
        retired cids (re-assigned rows whose new cid hashes
        elsewhere) are the same never-probed dead weight the split
        documents, reclaimed by the next retrain/rebucket/eager pass.

        When EVERY live cell is cold (mass deletion), the fullest one
        (ties: smallest cid) survives as the merge target — an index
        always keeps at least one centroid. A single-cell index
        returns None (nothing to merge into). Scope: sized for
        DELETION repair — a few cells decayed below the threshold; if
        most of the index is cold, that is corpus shrinkage, and
        ``retrain`` (one O(corpus) overwrite with a right-sized k) is
        the honest tool.

        Returns the new version, or None when no live cell is cold."""
        from ..sinks.snapshot import retry_concurrent

        return retry_concurrent(
            lambda: self._merge_cold_cells_once(threshold, seq),
            max_retries=max_retries,
        )

    def _merge_cold_cells_once(self, threshold: int, seq: int) -> int | None:
        v0 = self.store.current_version()
        if v0 is None:
            raise ValueError("IVF index is empty — seed() it first")
        meta = dict(self._meta())
        id_type = meta["id_type"]
        large = "centroids_ref" in meta
        cents_df = self.centroids()
        # O(k) IDS only on the driver (the zero-row cold-cell logic
        # needs the full live id list); vectors stay distributed in
        # the large regime.
        live_cids = (
            [r.vec_id for r in cents_df.select("vec_id").collect()]
            if large
            else [i for i, _e in meta["centroids"]]
        )
        if len(live_cids) <= 1:
            return None
        # LIVE rows of LIVE cells only, pinned to v0 — same counting
        # rules as the split (tombstoned rows and retired-cid
        # leftovers must not keep a dead cell "warm"); a live cell
        # with NO rows at all is missing from the frame and counts 0.
        live_rows = (
            self.store.read(version=v0).join(
                F.broadcast(cents_df.select(F.col("vec_id").alias("cid"))),
                "cid",
                "semi",
            )
            if large
            else self.store.read(version=v0).filter(
                F.col("cid").isin(live_cids)
            )
        )
        sizes = {
            r.cid: r._n
            for r in self.tombstones.apply(live_rows, "vec_id")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()  # bounded by the number of cells (k)
        }
        cold = sorted(
            (c for c in live_cids if sizes.get(c, 0) < int(threshold)),
            key=str,
        )
        if not cold:
            return None
        if len(cold) == len(live_cids):
            keep = sorted(cold, key=lambda c: (-sizes.get(c, 0), str(c)))[0]
            cold = [c for c in cold if c != keep]
        survivor_set = set(live_cids) - set(cold)
        probe = self.spark.createDataFrame(
            [(c,) for c in cold], f"cid {id_type}"
        )
        cold_rows = (
            read_pruned(
                self.store,
                probe,
                empty_msg="IVF index is empty",
                version=v0,
            )
            .filter(F.col("cid").isin(cold))
            .select("cid", "vec_id", "emb", "ivf_seq", "ivf_vis")
        )
        cold_rows = self.tombstones.apply(
            cold_rows, "vec_id"
        ).localCheckpoint(eager=False)
        max_seq = cold_rows.agg(F.max("ivf_seq")).first()[0]
        if max_seq is not None and int(seq) <= int(max_seq):
            raise ValueError(
                f"merge_cold_cells: seq={seq} must be strictly greater "
                f"than every cold row's ivf_seq (max={max_seq}) — an "
                "equal seq loses the strictly-newer LWW upsert and "
                "strands the row under the retired cell id"
            )
        meta["centroid_gen"] = self._centroid_gen(meta) + 1
        if large:
            import os

            cold_df = self.spark.createDataFrame(
                [(c,) for c in cold], f"vec_id {id_type}"
            )
            new_cents = cents_df.join(
                F.broadcast(cold_df), "vec_id", "anti"
            )
            meta = self._centroid_meta(
                new_cents, len(survivor_set), v0 + 1, meta,
                sticky_large=True,
            )
            cents = self.spark.read.parquet(
                os.path.join(self.path, meta["centroids_ref"])
            ).select("vec_id", "emb")
        else:
            survivors = [
                (i, e) for i, e in meta["centroids"] if i in survivor_set
            ]
            meta["centroids"] = survivors
            cents = self.spark.createDataFrame(
                [(i, [float(x) for x in e]) for i, e in survivors],
                f"vec_id {id_type}, emb array<double>",
            )
        # Same visibility contract as the split: new ivf_seq wins the
        # LWW upsert, ivf_vis rides through unchanged.
        reassigned = self._assigned(
            cold_rows.select("vec_id", "emb", "ivf_vis"),
            "vec_id",
            "emb",
            seq,
            cents,
            int(meta["dim"]),
            vis_col="ivf_vis",
        )
        v = self.store.merge(reassigned, meta=meta, expected_base=v0)
        self._cent_cache = None
        return v

    def maintain_cells(
        self,
        *,
        split_threshold: int,
        merge_threshold: int,
        seq: int,
        max_rounds: int = 8,
        max_retries: int = 0,
    ) -> list[int]:
        """The MAINTENANCE POLICY composing the pair: split hot cells
        until none exceeds ``split_threshold`` (each round strictly
        shrinks the largest hot cell; degenerate cells are skipped by
        the split itself), then merge cold cells below
        ``merge_threshold`` once. Hysteresis is ENFORCED, not advised:
        ``merge_threshold <= split_threshold // 4`` — a merged cell's
        upper bound is (survivor rows + all merged cold rows), so a
        merge band too close to the split band would re-flag freshly
        merged cells and oscillate split↔merge forever; a 4x gap
        leaves a merged cell at most at half the split threshold even
        when several near-threshold cold cells land on one survivor.
        ``seq`` seeds a strictly-increasing sequence (one value per
        committed op, the caller owns the domain); ``max_rounds``
        bounds the split loop the way the gate query does. Returns
        the list of committed versions (empty = index already within
        both bands — the steady-state no-op)."""
        if merge_threshold > split_threshold // 4:
            raise ValueError(
                f"maintain_cells: merge_threshold={merge_threshold} must "
                f"be <= split_threshold//4={split_threshold // 4} — a "
                "narrower gap lets a freshly merged cell re-enter the "
                "split band and the policy oscillates instead of "
                "quiescing"
            )
        committed: list[int] = []
        s = int(seq)
        for _ in range(max_rounds):
            v = self.split_hot_cells(
                threshold=split_threshold, seq=s, max_retries=max_retries
            )
            if v is None:
                break
            committed.append(v)
            s += 1
        v = self.merge_cold_cells(
            threshold=merge_threshold, seq=s, max_retries=max_retries
        )
        if v is not None:
            committed.append(v)
        return committed

    def remove_vecs(self, vec_ids: DataFrame, *, mode: str = "eager") -> int:
        """Drop every index row of the given vector ids (one-column
        DataFrame) — the path that makes embedding MUTATION safe when
        an update moves a vector across cells: remove, then add() the
        new embedding as a normal batch.

        ``mode="eager"`` is O(index) (anti-join overwrite), mirroring
        ``MinHashBandStore.remove_docs``, and is the mode the
        remove-then-add MUTATION flow requires. ``mode="tombstone"``
        is the pure-DELETION path, O(removal): the ids land in a
        bucket-pruned removal log and :meth:`search` filters against
        it — which means a tombstoned id RE-ADDED later stays hidden
        until :meth:`compact_tombstones` (or an explicit
        ``tombstones.unmark``) runs; the filter is by id, not by seq,
        because the log's and the index's sequence domains are
        unrelated. Returns the new version (of the index store for
        eager, of the tombstone log for tombstone)."""
        if mode == "tombstone":
            return self.tombstones.add(vec_ids)
        return remove_by_column(
            self.store,
            vec_ids,
            "vec_id",
            empty_msg="IVF index is empty — nothing to remove",
        )

    def compact_tombstones(self) -> int | None:
        """Fold the tombstone log into the index (ONE amortized
        O(index) pass for any number of tombstone batches), then clear
        the log. Returns the new index version, or None if the log was
        empty."""
        return self.tombstones.compact_into(
            self.store,
            "vec_id",
            empty_msg="IVF index is empty — nothing to remove",
        )

    def vacuum(self, keep: int = 2, **kw) -> list[int]:
        """Snapshot vacuum PLUS centroid-sidecar GC: the store's
        vacuum knows nothing about the large regime's
        ``CENTROIDS_v{n}`` directories, so without this sweep every
        retired version's sidecar (and every crash orphan's) lingers
        forever. A sidecar survives iff some RETAINED version's meta
        still references it — resolved by exact ref, never by
        guessing version numbers, so sharing (a merge/remove that
        carried an older version's ref forward) keeps the shared
        sidecar alive."""
        import os
        import re
        import shutil

        dropped = self.store.vacuum(keep, **kw)
        live_refs = set()
        for v in self.store.versions():
            ref = (self.store.read_meta(v) or {}).get("centroids_ref")
            if ref:
                live_refs.add(ref)
        try:
            entries = os.listdir(self.path)
        except OSError:
            entries = []
        for name in entries:
            if re.fullmatch(r"CENTROIDS_v\d+", name) and name not in live_refs:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        return dropped

    def search(
        self,
        queries: DataFrame,
        id_col: str,
        vec_col: str,
        *,
        k: int = 3,
        nprobe: int = 2,
        max_seq: int | None = None,
    ) -> DataFrame:
        """IVF search over the PERSISTED index: queries are assigned
        their ``nprobe`` nearest cells (broadcast projection), only
        those cells' buckets are read from disk, candidates are scored
        exactly and ranked. Semantics identical to ``ivf_ann_topk`` on
        the same corpus/centroids — same assignment, same tiebreaks.

        ``max_seq`` restricts candidates to rows with ``ivf_vis <
        max_seq`` — the replay-purity hook for the streaming cadence
        (streaming/pipeline.py streaming_ivf_pipeline): a replayed
        epoch that already add()-ed its batch at seq N searches with
        ``max_seq=N`` and recomputes the original answer instead of
        matching its own rows (same contract as
        ``MinHashBandStore.match_and_merge``). The cut is on the
        VISIBILITY seq, not the LWW ``ivf_seq``: cell maintenance
        (split/merge) re-stamps ``ivf_seq`` to win the bucket upsert
        but carries ``ivf_vis`` through unchanged, so a rebalance
        never hides pre-existing vectors from a bounded search — the
        filter stays an exact "added before boundary N" predicate
        across any number of maintenance commits.
        """
        if self.store.current_version() is None:
            raise ValueError("IVF index is empty — seed() it first")
        # Lazy localCheckpoint: TWO consumers (touched-bucket collect
        # + the final scored join) would otherwise each re-run the
        # queries scan and broadcast-argmin assignment (same reasoning
        # as MinHashBandStore.match_and_merge).
        query_cells = assign_cells(
            self._norm(queries, id_col, vec_col, self._dim()),
            self.centroids(), "vec_id", "emb", "query_id", "qvec", nprobe,
        ).localCheckpoint(eager=False)
        # Bounded driver metadata: nprobe cells per query, <= num_buckets
        # distinct buckets (same justified-collect class as merge()).
        probed = query_cells.select("cid").distinct()
        stored = read_pruned(
            self.store, probed, empty_msg="IVF index is empty — seed() it first"
        )
        if max_seq is not None:
            stored = stored.filter(F.col("ivf_vis") < F.lit(int(max_seq)))
        stored = self.tombstones.apply(stored, "vec_id")
        # Bucket pruning is hash-coarse; the cid equi-join below is the
        # exact cell filter (and the shuffle key).
        corpus_cells = stored.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("emb").alias("nvec"),
            "cid",
            "ivf_seq",
        )
        # One row per (query, neighbor): under the append-only
        # contract each neighbor has exactly one row; if a cross-cell
        # update violated it (remove_vecs not run), keep the NEWEST
        # row deterministically instead of dropDuplicates' arbitrary
        # pick (r7 review finding).
        dw = Window.partitionBy("query_id", "neighbor_id").orderBy(
            F.desc("ivf_seq"), F.asc("cid")
        )
        scored = (
            corpus_cells.join(F.broadcast(query_cells), "cid")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("_rn", F.row_number().over(dw))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                stable_round(cosine("qvec", "nvec"), 6).alias("cos_sim"),
            )
        )
        return _ranked_topk(scored, k)
