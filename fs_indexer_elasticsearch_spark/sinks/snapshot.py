"""Versioned parquet snapshot store with atomic pointer swap and
bucket-pruned merges.

Replaces the reference's DuckDB transactional storage
(db_duckdb.py:184-268, scanner.py:220-248 BEGIN/COMMIT/ROLLBACK):
each write commits a NEW version ``N`` as a ``_MANIFEST_v<N>.json``,
then atomically updates the ``_CURRENT`` pointer file — readers always
see a complete snapshot; a failed write leaves the pointer untouched
(A5 semantics).

Layout: data is hash-bucketed on the key (``_bucket = pmod(xxhash64(
key), num_buckets)``). All data files live once under ``data/``, one
fresh commit directory per write, ``partitionBy("_bucket")`` inside
it; each version's manifest lists the exact parquet files per bucket.
This is the Delta Lake commit protocol (write files, then swap a tiny
metadata pointer): no links, no renames, no copies, so the store runs
unchanged on a POSIX filesystem and on object stores (S3/GCS), where
hard links don't exist and rename is a copy.

Partition-pruned merge (the §7 "hard part" #1 — the property that
makes upsert-without-a-table-format survive 100 TB): a merge only
joins + rewrites the buckets the batch actually touches; the new
manifest carries every untouched bucket's file list forward by
reference (O(1) per bucket, no data copy). A batch touching 1% of keys
rewrites ≈1% of the table regardless of table size.

Old versions are retained for time travel / rollback; ``vacuum``
drops all but the newest k and deletes the data files no surviving
manifest references.

A committed version is ONE file, ``_MANIFEST_v<N>.json``, plus the
pointer: the Delta Lake commit JSON, which carries the file actions,
the table metadata and the commit info together. Besides the files per
bucket it records the store format (``STORE_FORMAT``), the version's
bucket count (evolvable via ``rebucket``; a pure rebucket also records
``rebucket_from``), its schema and schema version, ``committed_at``,
the store identity (key, bucket_key, version_col — immutable, checked
on reopen) and an optional ``meta`` payload for index sidecar state. So
the schema, the bucket count and the data of a version can never
disagree, and crash recovery, rollback and time travel resolve each of
them from the version they read.

A store opens only the format it writes: a commit file that is
missing, unparsable or of another ``format`` (every store written
before this format, including the retired one-directory-per-version
``hardlink`` layout) is refused with a ValueError naming the store path
and version — the Delta Lake protocol check: a reader refuses a table
it cannot read instead of carrying a reader for every past layout.
Rebuild such a store from its source.

Writes are single-writer by contract, and the contract is ENFORCED
fail-fast: every commit first atomically claims its version number
(``_TXN_v<N>``, created by an atomic hard-link of a pid-stamped temp
file — the POSIX stand-in for an object store's if-none-match
conditional put) and re-verifies the pointer under the claim against
the version its DATA BASIS was read from (``expected_base`` on the
paths that derive from an earlier read), so a racing writer raises
ConcurrentWriteError before writing any data and a stale read can
never silently overwrite a newer commit (lost update). Crashed
writers' claims are cleared by a pid-liveness check via atomic
rename (one clearer wins — no remove/recreate race); on an object
store the same roles are played by lease timestamps and conditional
puts.
"""

from __future__ import annotations

import json
import os
import re
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructType

from ..operators.merge import upsert_newer_wins

_POINTER = "_CURRENT"
# A version's commit file, or the ``.tmp`` its writer renames into
# place (left behind when the writer dies before ``os.replace``).
_COMMIT_FILE = re.compile(r"_MANIFEST_v(\d+)\.json(\.tmp)?")
# The on-disk format every commit file carries; a reader refuses any
# other (see ``_read_commit``). Bump it when the commit file changes.
STORE_FORMAT = 2
# Per-version write claim (fail-fast concurrent-writer guard): a
# commit of version N first atomically creates _TXN_vN (O_EXCL) —
# see _txn().
_TXN_PREFIX = "_TXN_v"


class ConcurrentWriteError(RuntimeError):
    """A second writer raced this store's commit. The store is
    single-writer by contract; this error upgrades a violation from
    silent lost-update to a fail-fast exception raised BEFORE the
    loser writes any data."""


def retry_concurrent(
    fn,
    *,
    max_retries: int,
    backoff_s: float = 0.05,
    no_retry: tuple[type[BaseException], ...] = (),
):
    """THE bounded optimistic retry loop — one definition shared by
    ``merge_with_retry``, the IVF add and the hot-cell split (r11
    review: the backoff formula had been copied three times).
    Re-runs ``fn`` on ConcurrentWriteError up to ``max_retries``
    times with exponential backoff and deterministic per-attempt
    jitter (hash of pid+attempt — no wall-clock randomness), so two
    same-moment losers de-synchronize reproducibly. ``fn`` must
    re-read whatever state it validates on every call (rebase, not
    replay). ``no_retry`` lists exception types that re-raise
    immediately even if they subclass ConcurrentWriteError — the
    terminal-abort channel (e.g. a centroid-generation move, where
    retrying can never succeed)."""
    import time

    attempt = 0
    while True:
        try:
            return fn()
        except no_retry:
            raise
        except ConcurrentWriteError:
            if attempt >= max_retries:
                raise
            jitter = ((os.getpid() * 1103515245 + attempt) % 97) / 97.0
            time.sleep(backoff_s * (2**attempt) * (0.5 + jitter))
            attempt += 1


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by someone else
        return True


def _as_nullable(field_json):
    """Spark's ``asNullable`` on a schema's JSON form: every field,
    array element and map value nullable, at any depth — what a parquet
    read with a pinned schema yields."""
    if isinstance(field_json, list):
        return [_as_nullable(x) for x in field_json]
    if not isinstance(field_json, dict):
        return field_json
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull")
        else _as_nullable(x)
        for k, x in field_json.items()
    }


def classify_changes(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    *,
    update_images: str = "post",
) -> DataFrame:
    """Row-level change classification between two same-schema states:
    one row per key whose state differs, ``_change`` = 'insert' /
    'update' / 'delete' (post-image for insert/update, pre-image for
    delete). Null-safe column comparison — exact, never a hash — so
    identical rows are dropped, not surfaced as phantom updates.
    Shared by read_changes (two committed versions) and the streaming
    change-feed cadence (pre-commit: current slice vs the batch's
    would-be merge result).

    ``update_images="both"`` emits TWO rows per update —
    'update_preimage' (old values) and 'update_postimage' (new) — the
    Delta-CDF shape incremental VIEW MAINTENANCE needs: a downstream
    aggregate subtracts pre-images and adds post-images, so sums/counts
    over a 100 TB base update from the feed alone, never a rescan."""
    from functools import reduce

    if update_images not in ("post", "both"):
        raise ValueError(f"update_images must be 'post' or 'both', got {update_images!r}")
    # Presence tags so NULL-valued keys can't be mistaken for absence.
    o = old.withColumn("_o", F.lit(1)).alias("o")
    n = new.withColumn("_n", F.lit(1)).alias("n")
    joined = o.join(
        n,
        reduce(
            lambda a, b: a & b,
            [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys],
        ),
        "full_outer",
    )
    data_cols = [c for c in new.columns if c not in keys]
    same = (
        reduce(
            lambda a, b: a & b,
            [F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")) for c in data_cols],
        )
        if data_cols
        else F.lit(True)
    )
    update_label = "update_postimage" if update_images == "both" else "update"
    change = (
        F.when(F.col("o._o").isNull(), F.lit("insert"))
        .when(F.col("n._n").isNull(), F.lit("delete"))
        .when(same, F.lit(None))  # identical: drop
        .otherwise(F.lit(update_label))
    )
    post = F.col("n._n").isNotNull()
    classified = joined.withColumn("_change", change).filter(
        F.col("_change").isNotNull()
    )
    if update_images == "both":
        # Two consumers (post rows + pre rows) would re-execute the
        # full-outer join. EAGER (r15; the r14 sweep missed this site):
        # the two consumers are branches of one UNION plan, so a lazy
        # checkpoint's blocks are race-computed inside the first action
        # and the join ran twice anyway — in EVERY
        # read_changes(update_images="both") consumer (~40 queries).
        # ckpt_shared applies the size-gated policy (tables.py).
        from ..tables import ckpt_shared

        classified = ckpt_shared(classified)
    out = classified.select(
        *[
            F.when(post, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
            for c in new.columns
        ],
        "_change",
    )
    if update_images == "both":
        pre = classified.filter(
            F.col("_change") == "update_postimage"
        ).select(
            *[F.col(f"o.{c}").alias(c) for c in new.columns],
            F.lit("update_preimage").alias("_change"),
        )
        out = out.unionByName(pre)
    return out


class SnapshotStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str | list[str],
        version_col: str,
        num_buckets: int = 32,
        layout: str = "manifest",
        bucket_key: str | None = None,
        dedup_current: bool = False,
    ):
        """``bucket_key`` (default: ``key``) is the column the physical
        bucket layout hashes on. Separating it from the merge key lets
        an INDEX table co-locate rows by lookup key while upserting by
        row identity — e.g. the MinHash band store buckets on the band
        hash ``h`` (so a batch's band lookups and merges prune to the
        buckets its bands hash into) but upserts by the unique
        ``doc:band`` row key (many docs share a band hash; keying the
        upsert on ``h`` would collapse them).

        ``dedup_current``: opt-in for stores whose bucket layout can
        hold SUPERSEDED copies of a key (bucket_key != key, rows
        re-bucketed over time — e.g. the IVF index's dead weight under
        retired cell ids). Merges then collapse the touched current
        slice to its newest row per key before joining, instead of
        assuming key-uniqueness (see upsert_newer_wins).

        ``layout`` accepts only ``"manifest"``, the one physical
        layout; any other value raises ValueError."""
        if layout != "manifest":
            raise ValueError(
                f"unknown layout {layout!r}: the snapshot store has one "
                "layout, 'manifest'"
            )
        if not isinstance(key, str) and bucket_key is None:
            raise ValueError(
                "a composite key cannot derive the physical bucket "
                "layout — pass bucket_key explicitly"
            )
        self.spark = spark
        self.path = path
        self.key = key
        self.version_col = version_col
        self.dedup_current = dedup_current
        # Seed value only: once the store has a committed version the
        # EFFECTIVE count is the one recorded in that version's commit
        # file (see the ``num_buckets`` property), so reopening an
        # existing store with a different constructor value ADOPTS the
        # on-disk truth instead of silently hashing probes into the
        # wrong physical layout. ``rebucket`` is the only way to change
        # the count of a non-empty store.
        self._default_buckets = num_buckets
        self._pinned_buckets: int | None = None  # rebucket's override
        self._rebucket_base: int | None = None  # rebucket's provenance tag
        self._count_cache: tuple[int | None, int] = (None, num_buckets)
        self.bucket_key = bucket_key or key
        os.makedirs(path, exist_ok=True)
        v = self.current_version()
        if v is not None:
            # Reopen-time guard: key, bucket column and version column
            # are IMMUTABLE store properties — opening with different
            # ones corrupts silently (wrong-slice pruned reads,
            # duplicate keys scattered across buckets), so mismatch
            # raises here. The bucket COUNT is not identity: it is
            # versioned per commit and evolvable via ``rebucket``.
            commit = self._read_commit(v)
            if commit["identity"] != self._identity():
                raise ValueError(
                    f"snapshot store at {self.path} was created as "
                    f"{commit['identity']} but opened as {self._identity()}; "
                    "key/bucket_key/version_col are immutable (the bucket "
                    "COUNT evolves via rebucket())"
                )
            self._count_cache = (v, commit["num_buckets"])

    # -- pointer management -------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def current_version(self) -> int | None:
        try:
            with open(self._pointer_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _swap_pointer(self, version: int) -> None:
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer_path())  # atomic on POSIX

    # -- write transaction (fail-fast concurrency guard) ----------------------
    def _txn_path(self, version: int) -> str:
        return os.path.join(self.path, f"{_TXN_PREFIX}{version}")

    def _claim(self, version: int) -> None:
        """Atomically claim the right to commit ``version`` by LINKING
        a pid-stamped temp file into the claim path — atomic
        create-WITH-content (the POSIX stand-in for an object store's
        if-none-match conditional put), so an existing claim always
        carries its holder's pid; an unreadable/empty claim can only
        be corruption and is therefore stale by definition. A racing
        writer fails HERE, before writing any data.

        The inspect-stale/clear/create sequence runs under a kernel
        flock on a sidecar lock file: check-then-clear without it is
        an irreducible TOCTOU (two writers racing to clear the same
        dead claim can steal each other's FRESH claims, however the
        clear is expressed — remove or rename). The flock serializes
        only this microseconds-long acquisition section, is released
        by the kernel if the holder dies, and binds all cooperating
        writers (the single-writer contract's scope); the claim FILE
        remains the visible, pid-stamped, crash-inspectable token."""
        import fcntl
        import uuid as _uuid

        path = self._txn_path(version)
        tmp = f"{path}.pid.{os.getpid()}.{_uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(os.getpid()))
        try:
            with open(os.path.join(self.path, ".claims.lock"), "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                try:
                    try:
                        os.link(tmp, path)  # atomic create-with-content
                        return
                    except FileExistsError:
                        pass
                    try:
                        with open(path) as f:
                            holder = int(f.read().strip() or "0")
                    except (OSError, ValueError):
                        holder = 0  # corrupt OR just released (see below)
                    if holder == os.getpid() or (holder and _pid_alive(holder)):
                        raise ConcurrentWriteError(
                            f"version {version} of {self.path} is being "
                            f"committed by pid {holder}; this store is "
                            "single-writer — serialize commits (the "
                            "registered queries flock the store dir for "
                            "exactly this reason)"
                        )
                    # Stale (dead holder or corrupt): clear and take it —
                    # safe under the flock, no second CLEARER can run.
                    # RELEASE, however, happens outside the flock (the
                    # holder must not need the lock to give the claim
                    # up), so the file may have vanished between the
                    # failed link and here — missing is success for a
                    # clear.
                    try:
                        os.remove(path)
                    except FileNotFoundError:
                        pass
                    os.link(tmp, path)
                    return
                finally:
                    fcntl.flock(lk, fcntl.LOCK_UN)
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def _release(self, version: int) -> None:
        try:
            os.remove(self._txn_path(version))
        except OSError:
            pass

    @contextmanager
    def _txn(self, base: int | None):
        """Commit transaction for the version after ``base``: claim it,
        then re-verify the pointer still names ``base`` (a commit that
        slipped in between reading the pointer and claiming would
        otherwise be silently overwritten — the classic lost update).
        Sound because pointer advance to N requires the claim of N,
        claims are mutually exclusive, and the pointer only moves
        forward during commits — so between the re-check and this
        writer's swap nobody else can advance it. The claim is always
        released (committed or failed); a kill -9 leaves a stale claim
        that the next writer's liveness check clears."""
        v = (base or 0) + 1
        self._claim(v)
        try:
            if self.current_version() != base:
                raise ConcurrentWriteError(
                    f"pointer of {self.path} moved from {base} to "
                    f"{self.current_version()} since this write began; "
                    "lost update prevented — re-read and retry"
                )
            yield v
        finally:
            self._release(v)

    # -- the commit file -----------------------------------------------------
    def _identity(self) -> dict:
        return {
            "key": [self.key] if isinstance(self.key, str) else list(self.key),
            "bucket_key": self.bucket_key,
            "version_col": self.version_col,
        }

    def _read_commit(self, version: int) -> dict:
        """Version ``version``'s commit file. One written by this format
        always carries every field ``_commit`` writes, so anything else
        — missing, unparsable, another ``format`` — was written by an
        older release: refused with the store path and version, never
        guessed."""
        try:
            with open(self._manifest_path(version)) as f:
                commit = json.load(f)
        except (OSError, ValueError):
            commit = None
        if not isinstance(commit, dict) or commit.get("format") != STORE_FORMAT:
            raise ValueError(
                f"snapshot store at {self.path}: version {version} has no "
                f"readable commit manifest of format {STORE_FORMAT}, so it "
                "was written in an older format; rebuild the store"
            )
        return commit

    def _commit(
        self,
        version: int,
        files: dict[int, list[str]],
        schema: StructType,
        meta: dict | None,
    ) -> None:
        """Commit version ``version``: write its one commit file (tmp +
        atomic replace), then swap the pointer. A crash between the two
        leaves an orphan commit file (or its ``.tmp``) above the
        pointer that ``versions()`` never lists, the next commit of
        that number overwrites, and vacuum/rollback remove.

        ``schema`` is the written DataFrame's schema (``_bucket``
        excluded), recorded as-nullable — the schema a parquet read of
        this version has — so reads PIN it instead of re-inferring it
        from parquet footers (one driver-side footer fetch per call
        otherwise). ``meta=None`` carries the current version's meta
        forward: a merge must not drop an index's sidecar state."""
        import time

        base = self.current_version()
        prev = self._read_commit(base) if base is not None else None
        fields = [
            _as_nullable(f.jsonValue()) for f in schema.fields if f.name != "_bucket"
        ]
        schema_js = {"type": "struct", "fields": fields}
        commit = {
            "format": STORE_FORMAT,
            "files": {str(b): sorted(rels) for b, rels in sorted(files.items())},
            "num_buckets": self.num_buckets,
            "schema": schema_js,
            "schema_version": (
                1 if prev is None
                else prev["schema_version"] + (prev["schema"] != schema_js)
            ),
            "committed_at": round(time.time(), 3),
            "identity": self._identity(),
        }
        if self._rebucket_base is not None:
            # Provenance tag: this version is a PURE REBUCKET of that
            # base — same rows, new physical layout. The change feed
            # uses it to contribute ZERO changed keys for this
            # transition instead of degrading to a full two-version
            # diff (bucket ids alone are incomparable across counts).
            commit["rebucket_from"] = self._rebucket_base
        if meta is None and prev is not None:
            meta = prev.get("meta")
        if meta is not None:
            commit["meta"] = meta
        path = self._manifest_path(version)
        with open(path + ".tmp", "w") as f:
            json.dump(commit, f, separators=(",", ":"))
        os.replace(path + ".tmp", path)
        self._count_cache = (version, commit["num_buckets"])
        self._swap_pointer(version)

    # -- per-version bucket count -------------------------------------------
    @property
    def num_buckets(self) -> int:
        """The bucket count of the CURRENT version — resolved from the
        version's commit file, so every probe, merge, and pruned read
        hashes against the layout the live data was actually written
        under, no matter what the constructor said. Empty store: the
        constructor's value."""
        if self._pinned_buckets is not None:
            return self._pinned_buckets
        v = self.current_version()
        if v is None:
            return self._default_buckets
        if self._count_cache[0] != v:
            self._count_cache = (v, self._bucket_count(v))
        return self._count_cache[1]

    def _bucket_count(self, version: int) -> int:
        """Bucket count a retained version was written under."""
        return self._read_commit(version)["num_buckets"]

    # -- per-version meta payload --------------------------------------------
    # A small JSON document committed WITH each version inside its
    # commit file, so readers never see a version without its meta and
    # a crash-orphan's meta above the pointer is never resolved. This
    # is what makes index sidecar state — e.g. the IVF centroid set
    # (operators/incremental_ann.py) — object-store safe: no
    # listdir-based resolution, no rmtree, no file beside the commit
    # protocol.

    def read_meta(self, version: int | None = None) -> dict | None:
        """Meta payload of the CURRENT version (or, time-travel, of an
        explicit retained ``version``); None when the store is empty or
        the version carries no meta. An explicit unretained version
        raises, exactly like ``read()`` — a crash-orphan's meta above
        the pointer (e.g. centroids whose data never committed) must
        not be servable through the side door."""
        v = self.current_version() if version is None else version
        if v is None:
            return None
        if version is not None and version not in self.versions():
            raise ValueError(
                f"version {version} is not retained (have {self.versions()}); "
                "vacuum(keep=...) controls time-travel depth"
            )
        return self._read_commit(v).get("meta")

    def _bucket_col(self, n: int | None = None) -> F.Column:
        return F.pmod(
            F.xxhash64(F.col(self.bucket_key)), F.lit(n or self.num_buckets)
        ).cast("int")

    def read_buckets(
        self, bucket_ids: list[int], version: int | None = None
    ) -> DataFrame | None:
        """Current snapshot (or, time-travel, an explicit retained
        ``version``) restricted to ``bucket_ids`` — a PRUNED read:
        untouched buckets' files are never opened, so the cost is
        proportional to the touched fraction of the table, not the
        table. This is the index-lookup read path (e.g. the MinHash
        band store probing only the buckets a batch's bands hash to)
        and the change-feed's per-version slice read: the manifest
        maps bucket -> files, so the file list itself is pruned before
        the reader ever runs."""
        v = self.current_version() if version is None else version
        if v is None:
            return None
        return self._scan(v, set(bucket_ids))

    def _buckets_for_keys(self, keys: list) -> list[int]:
        """Which physical buckets the given key VALUES live in — the
        same xxhash64-pmod the writers applied, computed on the keys
        cast to the STORED column type (xxhash64 is type-sensitive:
        hashing a probe int against a column written as bigint would
        silently probe the wrong buckets)."""
        stored = self._schema(self.current_version())[self.bucket_key]
        df = self.spark.createDataFrame([(k,) for k in keys], StructType([stored]))
        rows = df.select(self._bucket_col().alias("b")).distinct().collect()
        return sorted(r.b for r in rows)

    def read_keys(self, keys: list) -> DataFrame | None:
        """Point lookup: the rows whose key is in ``keys``, touching
        only the buckets those keys hash to. At 100 TB this is the
        difference between opening a handful of files and scanning the
        table: bucket pruning cuts the file list to O(len(keys))
        buckets, the IN-predicate is pushed into the parquet scan
        (PushedFilters), and because the writers cluster each file by
        the bucket key (sortWithinPartitions), row-group min/max stats
        skip inside the surviving files too.

        CONTRACT: ``keys`` is a SMALL driver-side list (an operational
        lookup — "show me these documents"), not a join side; bulk key
        sets belong in a join against ``read()``. Requires
        ``bucket_key == key`` for the same reason merge(removed=...)
        does: values of the merge key can't be routed to buckets
        hashed on a different column."""
        if self.bucket_key != self.key:
            raise ValueError(
                "read_keys needs bucket_key == key: key values can't be "
                f"hashed to buckets keyed on {self.bucket_key!r}."
            )
        if self.current_version() is None:
            return None
        if not keys:
            return self.read_buckets([])
        df = self.read_buckets(self._buckets_for_keys(keys))
        return df.filter(F.col(self.key).isin(list(keys)))

    # -- change data feed ----------------------------------------------------
    def changed_buckets(self, v_from: int, v_to: int) -> list[int] | None:
        """Buckets whose PHYSICAL file set differs between two retained
        versions — resolved from the two manifests only (merge carries
        an untouched bucket's file list forward unchanged, while a
        rewrite lists fresh files), no parquet opened. Returns None
        when the two versions were written under different bucket
        counts (a rebucket boundary) — bucket ids aren't comparable
        across layouts, so the change feed must diff every bucket."""
        cf, ct = self._read_commit(v_from), self._read_commit(v_to)
        if cf["num_buckets"] != ct["num_buckets"]:
            return None
        mf, mt = cf["files"], ct["files"]
        return sorted(
            int(b)
            for b in set(mf) | set(mt)
            if set(mf.get(b, ())) != set(mt.get(b, ()))
        )

    def _changed_bucket_groups(
        self, v_from: int, v_to: int
    ) -> dict[int, set[int]] | None:
        """Changed buckets between two retained versions, WALKED
        version-by-version so the feed survives rebucket boundaries:
        per adjacent retained pair, a same-count transition contributes
        its metadata-diffed buckets (under that count) and a pure
        rebucket — identified by its commit's ``rebucket_from`` provenance
        tag — contributes nothing (same rows, new layout). Returns
        ``{bucket_count: {bucket, ...}}`` (possibly several counts when
        the window spans an evolution), ``{}`` when nothing changed,
        or None when a count change can't be proven pure (its
        rebucket version was vacuumed) — the caller degrades to a full
        two-version diff, honestly."""
        path = [v for v in self.versions() if v_from <= v <= v_to]
        groups: dict[int, set[int]] = {}
        for a, b in zip(path, path[1:]):
            na, nb = self._bucket_count(a), self._bucket_count(b)
            if na == nb:
                ch = self.changed_buckets(a, b)
                if ch:
                    groups.setdefault(na, set()).update(ch)
            elif self._read_commit(b).get("rebucket_from") != a:
                return None
        return groups

    @staticmethod
    def _project_buckets(bs: set[int], n: int, n2: int) -> set[int] | None:
        """Map a bucket set under count ``n`` to the bucket set under
        count ``n2`` covering the SAME keys. Exact for divisible
        evolutions (pmod(h, n) determines pmod(h, n2) up to the listed
        expansions); None for incommensurable counts."""
        if n == n2:
            return set(bs)
        if n2 % n == 0:  # grow: each bucket splits into n2/n
            return {b + i * n for b in bs for i in range(n2 // n)}
        if n % n2 == 0:  # shrink: buckets collapse
            return {b % n2 for b in bs}
        return None

    def read_changes(
        self,
        v_from: int,
        v_to: int | None = None,
        *,
        update_images: str = "post",
    ) -> DataFrame:
        """Change data feed between two retained versions: one row per
        key whose state differs, labeled ``_change`` = 'insert' /
        'update' / 'delete' (post-image values for insert/update,
        pre-image for delete). This is what an incremental DOWNSTREAM
        consumer reads — "what did tonight's merge actually do" —
        without diffing two full snapshots.

        Cost is O(changed buckets), not O(table): the retained-version
        path is walked pair-by-pair (``_changed_bucket_groups``), each
        same-count transition resolves its touched buckets from commit
        metadata, a PURE REBUCKET transition (provenance-tagged by
        ``rebucket``) contributes zero, and the union — projected onto
        each endpoint's own bucket count for divisible evolutions —
        prunes the reads FROM EITHER VERSION, so the feed stays
        delta-bound even when the window spans a bucket-count
        evolution. When the projection crosses counts, both slices are
        additionally filtered to the exact candidate key set (the same
        xxhash64-pmod the writers applied) so a key sharing a
        coarse-count bucket with a changed key can never surface as a
        phantom insert/delete. A nightly merge that rewrites 1% of a
        100 TB store yields a change feed that reads ~2 TB (both
        versions' slices), never 200 TB. Only an UNPROVABLE count
        change (vacuumed intermediate version, non-divisible counts)
        degrades — honestly — to a full two-version diff. Row-level
        classification is exact — null-safe column comparison, not a
        hash — so a rewritten-but-identical row never surfaces as a
        phantom update. Reference parity: the scanner's new/modified/removed
        detection between consecutive scans (scanner.py:414-463),
        served here from the store's own commit metadata instead of a
        rescan."""
        if update_images not in ("post", "both"):
            raise ValueError(
                f"update_images must be 'post' or 'both', got {update_images!r}"
            )
        v_to = self.current_version() if v_to is None else v_to
        retained = self.versions()
        for v in (v_from, v_to):
            if v not in retained:
                raise ValueError(
                    f"version {v} is not retained (have {retained}); "
                    "vacuum(keep=...) controls change-feed depth"
                )
        if v_from > v_to:
            raise ValueError(f"v_from {v_from} > v_to {v_to}")
        keys = [self.key] if isinstance(self.key, str) else list(self.key)
        if v_from == v_to:
            return (
                self._scan(v_to, set())
                .drop("_bucket")
                .withColumn("_change", F.lit("").cast("string"))
            )
        groups = self._changed_bucket_groups(v_from, v_to)
        nf, nt = self._bucket_count(v_from), self._bucket_count(v_to)
        old_b: set[int] | None = set()
        new_b: set[int] | None = set()
        if groups is not None:
            for n, bs in groups.items():
                po = self._project_buckets(bs, n, nf)
                pn = self._project_buckets(bs, n, nt)
                if po is None or pn is None:
                    groups = None  # incommensurable counts → full diff
                    break
                old_b |= po
                new_b |= pn
        if groups is not None and not groups:
            old, new = self._scan(v_from, set()), self._scan(v_to, set())
        elif groups is None:
            old, new = self.read(v_from), self.read(v_to)
        else:
            old = self.read_buckets(sorted(old_b), version=v_from)
            new = self.read_buckets(sorted(new_b), version=v_to)
            if set(groups) != {nf} or nf != nt:
                # The projection crossed bucket counts, so each slice
                # covers a SUPERSET of the candidate keys (a coarse
                # bucket holds several fine ones). Filter both sides to
                # the exact candidate set — the same hash the writers
                # bucketed by — or an untouched cohabitant key would
                # appear in one slice only and classify as a phantom
                # insert/delete.
                member = None
                for n, bs in groups.items():
                    clause = self._bucket_col(n).isin(sorted(bs))
                    member = clause if member is None else (member | clause)
                old = old.filter(member)
                new = new.filter(member)
        # Align on the union schema (a diff across a schema-evolution
        # boundary compares added columns as typed NULLs).
        old, new = self._migrate(
            old.drop("_bucket"), new.drop("_bucket")
        )
        return classify_changes(old, new, keys, update_images=update_images)

    # -- schema evolution ---------------------------------------------------
    # Reference parity: needs_schema_update / migrate_schema
    # (db_duckdb.py:369-419, 421-503) — detect drift between the stored
    # table and an incoming batch, then migrate by widening with typed
    # NULLs (added columns) or casting old data forward (retyped
    # columns) instead of raising. Migration recreates the table (the
    # reference copies into lucidlink_files_new) and bumps the schema
    # version its commit records.

    def _schema(self, version: int) -> StructType:
        """The schema version ``version`` was committed with."""
        return StructType.fromJson(self._read_commit(version)["schema"])

    def schema_version(self) -> int:
        v = self.current_version()
        return 0 if v is None else self._read_commit(v)["schema_version"]

    def needs_schema_update(self, batch: DataFrame) -> bool:
        """True when the incoming batch's column set or types differ
        from the current version's schema (db_duckdb.py:369-419)."""
        v = self.current_version()
        if v is None:
            return False

        def types(schema: StructType) -> dict:
            return {
                f.name: f.dataType.simpleString()
                for f in schema.fields
                if f.name != "_bucket"
            }

        return types(self._schema(v)) != types(batch.schema)

    def _migrate(self, current: DataFrame, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Align both sides on the union schema: columns only in the
        batch are added to current as typed NULLs; columns only in
        current are added to the batch as typed NULLs; a column present
        in both with a different type adopts the BATCH's type (the
        migration direction — old rows are cast forward, as the
        reference's copy-into-new-table does)."""
        cur_types = {f.name: f.dataType for f in current.schema.fields}
        new_types = {f.name: f.dataType for f in batch.schema.fields}
        names = list(cur_types) + [n for n in new_types if n not in cur_types]
        target = {n: new_types.get(n, cur_types.get(n)) for n in names}
        keys = [self.key] if isinstance(self.key, str) else list(self.key)
        if any(k not in new_types for k in keys) or self.version_col not in new_types:
            raise ValueError(
                f"batch must carry key '{self.key}' and version '{self.version_col}'"
            )

        def align(df: DataFrame, have: dict) -> DataFrame:
            cols = []
            for n in names:
                if n not in have:
                    cols.append(F.lit(None).cast(target[n]).alias(n))
                elif have[n] != target[n]:
                    cols.append(F.col(n).cast(target[n]).alias(n))
                else:
                    cols.append(F.col(n))
            return df.select(*cols)

        return align(current, cur_types), align(batch, new_types)

    # -- manifests and data files ------------------------------------------
    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"_MANIFEST_v{version}.json")

    def _read_manifest(self, version: int) -> dict[int, list[str]]:
        files = self._read_commit(version)["files"]
        return {int(b): rels for b, rels in files.items()}

    def _list_data_files(self) -> set[str]:
        """All parquet data files under data/
        (``<commit>/_bucket=N/file``), as manifest relpaths."""
        out: set[str] = set()
        data = self._data_dir()
        if not os.path.isdir(data):
            return out
        for root, _dirs, fnames in os.walk(data):
            if not os.path.basename(root).startswith("_bucket="):
                continue
            rel_root = os.path.relpath(root, data)
            for fname in fnames:
                if not fname.startswith((".", "_")):
                    out.add(f"{rel_root}/{fname}")
        return out

    def _write_data_files(self, df: DataFrame) -> dict[int, list[str]]:
        """Write ``df`` bucketed on the key into a FRESH UUID commit
        directory under data/; return the created files per bucket.

        Attribution is by path — the commit directory belongs
        exclusively to this write — so a concurrent writer's or a
        crashed write's stray part files can never be folded into this
        commit's manifest (the previous before/after listing diff
        claimed any file that appeared during the write). This is the
        same files-then-metadata commit shape Iceberg/Delta use."""
        import uuid

        commit = uuid.uuid4().hex[:16]
        out = os.path.join(self._data_dir(), commit)
        # sortWithinPartitions clusters each written file's row groups
        # by the bucket key: parquet min/max stats become tight, so a
        # later key-predicate read (read_keys) skips row groups inside
        # the pruned bucket too. In-partition sort — no extra shuffle.
        (
            df.withColumn("_bucket", self._bucket_col())
            .repartition(self.num_buckets, "_bucket")
            .sortWithinPartitions("_bucket", self.bucket_key)
            .write.mode("append")
            .partitionBy("_bucket")
            .parquet(out)
        )
        files: dict[int, list[str]] = {}
        for b in os.listdir(out):
            bd = os.path.join(out, b)
            if not b.startswith("_bucket=") or not os.path.isdir(bd):
                continue
            bucket = int(b.split("=", 1)[1])
            for fname in os.listdir(bd):
                if not fname.startswith((".", "_")):
                    files.setdefault(bucket, []).append(f"{commit}/{b}/{fname}")
        return files

    # -- read / write -------------------------------------------------------
    def _versions_on_disk(self) -> list[int]:
        """Raw version artifacts present (ascending), INCLUDING crash
        orphans above the pointer."""
        return sorted(
            int(m.group(1))
            for m in map(_COMMIT_FILE.fullmatch, os.listdir(self.path))
            if m and not m.group(2)
        )

    def versions(self) -> list[int]:
        """All RETAINED COMMITTED versions (ascending) — what
        read(version=...) can time-travel to; vacuum shrinks this
        list. Artifacts ABOVE the pointer are excluded: a crashed
        write leaves its manifest orphaned there,
        and exposing it as "retained" would serve a half-written
        snapshot (same rule as meta resolution)."""
        cur = self.current_version()
        if cur is None:
            return []
        return [v for v in self._versions_on_disk() if v <= cur]

    def read(self, version: int | None = None) -> DataFrame | None:
        """The current snapshot — or, time-travel, an explicit retained
        ``version`` (versions are immutable; ``versions()`` lists what
        vacuum has kept). Raises ValueError for a version vacuum has
        already dropped, instead of a deep-plan file-not-found."""
        v = self.current_version() if version is None else version
        if v is None:
            return None
        if version is not None and version not in self.versions():
            raise ValueError(
                f"version {version} is not retained (have {self.versions()}); "
                "vacuum(keep=...) controls time-travel depth"
            )
        return self._scan(v)

    def _scan(self, v: int, buckets: set[int] | None = None) -> DataFrame:
        """Version ``v``'s data files — all of them, or only those of
        ``buckets`` — as one DataFrame: the parquet read every read
        path shares (read, read_buckets, and through it the merge's
        touched slice and the change feed).

        recursiveFileLookup disables partition inference (commit dirs
        between data/ and _bucket= would otherwise trip
        CONFLICTING_DIRECTORY_STRUCTURES); _bucket is derivable from
        the key, so it is recomputed instead of inferred — under the
        count THIS version was written with (a time-travel read across
        a rebucket boundary must label rows by its own version's
        physical layout). The read pins the schema the version's commit
        recorded, which skips the per-call footer-inference round trip.
        A slice with no files (every row deleted, or empty buckets) is
        a typed empty frame under the same schema, ``_bucket``
        included."""
        commit = self._read_commit(v)
        schema = StructType.fromJson(commit["schema"])
        paths = [
            os.path.join(self._data_dir(), rel)
            for b, rels in commit["files"].items()
            if buckets is None or int(b) in buckets
            for rel in rels
        ]
        if not paths:
            return self.spark.createDataFrame([], schema.add("_bucket", IntegerType()))
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .schema(schema)
            .parquet(*paths)
            .withColumn("_bucket", self._bucket_col(commit["num_buckets"]))
        )

    def overwrite(
        self,
        df: DataFrame,
        *,
        meta: dict | None = None,
        expected_base: int | None | type(...) = ...,
    ) -> int:
        """Commit ``df`` as a full new version. ``expected_base`` is
        the optimistic-concurrency token: the version this write's
        DATA BASIS was read from. When the caller derived ``df`` from
        an earlier read (merge's schema-migration path, rebucket, an
        index re-seed), passing that version makes the transaction
        re-check verify the pointer against the true basis — a commit
        that landed in between raises ConcurrentWriteError instead of
        being silently folded over (lost update). Omitted, the base is
        the pointer read here, which is only sound when ``df`` does
        not depend on current store contents."""
        if expected_base is ...:
            expected_base = self.current_version()
        df = df.drop("_bucket")
        with self._txn(expected_base) as v:
            self._commit(v, self._write_data_files(df), df.schema, meta)
        return v

    def _version_data_files(self, v: int) -> list[str]:
        """ABSOLUTE paths of version ``v``'s data files — the single
        listing history() and duckdb_file.store_scan_sql share
        (bucket_stats keeps its own per-bucket-keyed shape)."""
        return sorted(
            os.path.abspath(os.path.join(self._data_dir(), rel))
            for rels in self._read_manifest(v).values()
            for rel in rels
        )

    def history(self) -> list[dict]:
        """Commit log of the retained versions (ascending) — the
        DESCRIBE HISTORY surface: per version, when it committed, the
        bucket count it was written under, its physical file count and
        bytes, and whether it carries a meta payload (index sidecar
        state). Metadata-only — commit files and file sizes, no parquet
        opened — so it is cheap enough for an operator
        dashboard to poll."""
        out: list[dict] = []
        cur = self.current_version()
        for v in self.versions():
            commit = self._read_commit(v)
            files, size = 0, 0
            for f in self._version_data_files(v):
                try:
                    size += os.path.getsize(f)
                    files += 1
                except OSError:
                    pass
            out.append(
                {
                    "version": v,
                    "committed_at": commit["committed_at"],
                    "num_buckets": commit["num_buckets"],
                    "n_files": files,
                    "bytes": size,
                    "has_meta": "meta" in commit,
                    "is_current": v == cur,
                }
            )
        return out

    def bucket_stats(self) -> dict | None:
        """Physical balance of the CURRENT version — per-bucket file
        count and bytes — from METADATA only (the manifest's file list;
        no parquet is read). Driver-side
        O(files), bounded by buckets x retained-files-per-bucket.
        None on an empty store.

        This is the measurement half of bucket evolution: a nightly
        pipeline reads these numbers to decide when ``rebucket`` (or
        the ``maybe_rebucket`` policy) should fire, and the max/avg
        ratio exposes hash skew on the bucket key."""
        v = self.current_version()
        if v is None:
            return None
        per: dict[int, dict] = {}
        for b, rels in self._read_manifest(v).items():
            files, size = 0, 0
            for rel in rels:
                try:
                    size += os.path.getsize(os.path.join(self._data_dir(), rel))
                    files += 1
                except OSError:
                    pass
            per[b] = {"files": files, "bytes": size}
        total = sum(d["bytes"] for d in per.values())
        n = self.num_buckets
        return {
            "version": v,
            "num_buckets": n,
            "buckets": per,
            "total_bytes": total,
            "avg_bucket_bytes": total / n if n else 0.0,
            "max_bucket_bytes": max((d["bytes"] for d in per.values()), default=0),
        }

    def maybe_rebucket(
        self,
        *,
        target_bucket_bytes: int,
        max_buckets: int = 1 << 20,
        meta: dict | None = None,
    ) -> int | None:
        """Evolution POLICY on top of the ``rebucket`` mechanism: when
        the current version's AVERAGE bucket exceeds
        ``target_bucket_bytes``, grow the count to the next power of
        two that brings the average back under target (capped at
        ``max_buckets``), in one committed rewrite. Returns the new
        version, or None when no evolution was needed.

        Sized for the nightly cycle: the check itself is metadata-only
        (``bucket_stats``), so calling this every cycle costs nothing
        until the corpus actually outgrows its layout — at which point
        one O(table) rewrite amortizes against every subsequent
        merge's smaller rewrite unit. Average (not max) drives the
        decision: a hot BUCKET with an average-sized table signals key
        skew, which more buckets dilute only by the skewed key's
        multiplicity — that is salting's job, not evolution's."""
        stats = self.bucket_stats()
        if stats is None or stats["avg_bucket_bytes"] <= target_bucket_bytes:
            return None
        need = -(-stats["total_bytes"] // target_bucket_bytes)  # ceil
        n = self.num_buckets
        while n < need and n < max_buckets:
            n *= 2
        n = min(n, max_buckets)
        if n <= self.num_buckets:
            return None
        return self.rebucket(n, meta=meta)

    def rebucket(self, num_buckets: int, *, meta: dict | None = None) -> int | None:
        """Evolve the physical bucket count — the partition-evolution
        operation a growing corpus needs: a store seeded at 32 buckets
        serves a 100 GB index fine, but at 100 TB each touched bucket
        is a ~3 TB rewrite per nightly merge; growing the count shrinks
        the per-delta rewrite unit without re-seeding the index.

        One O(table) rewrite committed as a NORMAL version: data files
        are written under the new hashing, the version's commit file
        records the new count and ``rebucket_from`` (before the pointer
        swap), and the pointer swap publishes both atomically. Crash
        before the swap leaves orphans the next commit overwrites and
        vacuum GCs; ``rollback`` across a rebucket boundary restores
        the OLD count automatically because the count is resolved from
        the version the pointer names. Meta (index sidecar state, e.g. IVF
        centroids) is carried forward unless ``meta`` overrides it.

        On an EMPTY store this just re-seeds the default for the first
        commit and returns None."""
        if num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
        cur_v = self.current_version()
        if cur_v is None:
            self._default_buckets = num_buckets
            return None
        if num_buckets == self.num_buckets:
            return cur_v
        cur = self.read().drop("_bucket")
        self._pinned_buckets = num_buckets
        self._rebucket_base = cur_v
        try:
            # The rewrite is derived from cur_v: a racing commit since
            # that read raises instead of being rebucketed away.
            v = self.overwrite(cur, meta=meta, expected_base=cur_v)
        finally:
            self._pinned_buckets = None
            self._rebucket_base = None
        return v

    def merge(
        self,
        batch: DataFrame,
        removed: DataFrame | None = None,
        *,
        meta: dict | None = None,
        expected_base: int | None | type(...) = ...,
    ) -> int:
        """Newer-wins upsert of a batch into the current snapshot
        (the reference's ON CONFLICT ... WHERE excluded newer), plus
        optional key deletions (the reference's DELETE ... NOT IN,
        scanner.py:447-454), joining and rewriting ONLY the buckets the
        batch or the removals touch; the new manifest lists untouched
        buckets' existing files unchanged.

        ``removed`` is a one-column DataFrame of keys to delete.
        Removals land in the same buckets their keys hash to, so the
        incremental pipeline's steady-state cycle (upserts + deletes)
        stays O(delta) instead of O(table).

        CONTRACT: the batch is expected to be DELTA-sized (the join
        builds an in-memory hash map on it per partition — see
        upsert_newer_wins' delta_batch precondition). A table-sized
        rewrite belongs in overwrite(), not merge().

        ``removed`` requires ``bucket_key == key`` (the default): a
        one-column key list can't be routed to buckets hashed on a
        DIFFERENT column, so for an index store (e.g. the MinHash band
        store, bucketed on the band hash) keyed deletion has no pruned
        path — use the store's own full-pass removal
        (MinHashBandStore.remove_docs) instead. Raising here beats the
        AnalysisException the bucket derivation would otherwise throw
        from deep inside the plan (r7 review finding)."""
        if removed is not None and self.bucket_key != self.key:
            raise ValueError(
                "merge(removed=...) needs bucket_key == key: removal keys "
                f"can't be hashed to buckets keyed on {self.bucket_key!r}. "
                "Use an explicit full-pass removal for index stores."
            )
        cur_v = self.current_version()
        # ``expected_base``: same optimistic-concurrency token as
        # overwrite's — a caller whose BATCH depends on state it
        # validated at a specific version (e.g. IVF assignment against
        # that version's centroid meta) pins the commit to it; the
        # _txn pointer re-check below then makes the validation exact
        # (no window between validate and claim). merge's own data
        # basis is always the pointer read here, so a mismatch aborts
        # before any work.
        if expected_base is not ... and cur_v != expected_base:
            raise ConcurrentWriteError(
                f"pointer of {self.path} is at {cur_v}, but this merge's "
                f"batch was validated against {expected_base}; re-derive "
                "and retry"
            )
        batch = batch.drop("_bucket")
        if cur_v is None:
            if removed is not None:
                batch = batch.join(
                    removed.select(F.col(removed.columns[0]).alias(self.key)),
                    on=self.key,
                    how="left_anti",
                )
            # expected_base pins the txn to the emptiness this path
            # relied on: a seed that raced in raises instead of being
            # overwritten.
            return self.overwrite(batch, meta=meta, expected_base=None)

        if self.needs_schema_update(batch):
            # Schema drift → migrate: one O(table) rewrite under the
            # union schema (rare; mirrors the reference's
            # copy-into-new-table), then normal pruned merges resume.
            current, batch = self._migrate(self.read().drop("_bucket"), batch)
            merged = upsert_newer_wins(
                current,
                batch,
                self.key,
                self.version_col,
                dedup_current=self.dedup_current,
            )
            if removed is not None:
                merged = merged.join(
                    removed.select(F.col(removed.columns[0]).alias(self.key)),
                    on=self.key,
                    how="left_anti",
                )
            # The rewrite was derived from the cur_v read above —
            # expected_base makes a commit that slipped in since then
            # a ConcurrentWriteError, not a silent fold-over.
            return self.overwrite(merged, meta=meta, expected_base=cur_v)

        # Claim the commit BEFORE the merge compute (via _txn, which
        # also re-verifies the pointer under the claim): a racing
        # writer fails fast here, not after minutes of shuffle.
        with self._txn(cur_v) as v:
            return self._merge_committed(batch, removed, cur_v, v, meta)

    def _merge_committed(
        self,
        batch: DataFrame,
        removed: DataFrame | None,
        cur_v: int,
        v: int,
        meta: dict | None,
    ) -> int:
        batch = batch.withColumn("_bucket", self._bucket_col()).cache()
        touched = {r._bucket for r in batch.select("_bucket").distinct().collect()}
        if removed is not None:
            removed = (
                removed.select(F.col(removed.columns[0]).alias(self.key))
                .withColumn("_bucket", self._bucket_col())
                .cache()
            )
            touched |= {r._bucket for r in removed.select("_bucket").distinct().collect()}

        # Write the merged touched buckets as NEW data files, then
        # commit a manifest that points untouched buckets at their
        # EXISTING files — no link/rename/copy, object-store safe.
        new_files: dict[int, list[str]] = {}
        if touched:
            # The pruned read pins cur_v's commit-time schema: a bare
            # parquet read here would cost one footer-inference job
            # per merge.
            cur_touched = self.read_buckets(
                sorted(touched), version=cur_v
            ).drop("_bucket")
            merged = upsert_newer_wins(
                cur_touched,
                batch.drop("_bucket"),
                self.key,
                self.version_col,
                dedup_current=self.dedup_current,
            )
            if removed is not None:
                merged = merged.join(
                    removed.select(self.key), on=self.key, how="left_anti"
                )
            new_files = self._write_data_files(merged)
        batch.unpersist()
        if removed is not None:
            removed.unpersist()
        manifest = {
            b: rels
            for b, rels in self._read_manifest(cur_v).items()
            if b not in touched
        }
        manifest.update(new_files)
        # Touched buckets were rewritten under the batch's schema;
        # untouched files carry the same one (drift took the
        # migrate/overwrite path above), so the batch schema IS the
        # version's schema.
        self._commit(v, manifest, batch.schema, meta)
        return v

    def merge_with_retry(
        self,
        batch: DataFrame,
        removed: DataFrame | None = None,
        *,
        meta: dict | None = None,
        max_retries: int = 5,
        backoff_s: float = 0.05,
    ) -> int:
        """``merge`` with a bounded optimistic rebase-and-retry loop —
        the multi-writer path for COMMUTABLE commits.

        The fail-fast single-writer contract stays the store's default
        (and the only safe mode for overwrite/rebucket, whose result
        depends on the exact base state). A newer-wins merge, though,
        COMMUTES with other merges: whichever writer lands first, the
        final state per key is the row with the greatest version_col
        (ties keep the incumbent — the one order-dependent edge, same
        as the reference's strictly-newer upsert predicate). So when
        two legitimate jobs collide (nightly merge vs ad-hoc
        backfill), the loser can simply REBASE: re-read the pointer —
        ``merge`` re-reads it on entry — and re-apply its delta on top
        of the winner's commit.

        DELETIONS are the caveat: ``removed`` applies as an
        unconditional anti-join, so a rebased retry re-applies a
        possibly-STALE delete over a row a concurrent winner just
        upserted newer — delete does not commute with a newer upsert
        of the same key. Pass ``removed`` here only when the racing
        writers' key sets are disjoint (e.g. each job owns a key
        range) or delete-wins is the intended semantics; otherwise
        keep removal-carrying commits on the fail-fast ``merge`` so
        the loser re-derives its removal set against the fresh state
        (what ``pipeline.run_pipeline`` does).

        Each attempt is all-or-nothing (the claim + pointer re-check
        happen before any data is written), so a retry can never
        double-apply. Exponential backoff with deterministic
        per-attempt jitter (hash of pid+attempt — no wall-clock
        randomness) de-synchronizes herds. Raises the last
        ConcurrentWriteError after ``max_retries`` rebases — a
        persistent collision means the deployment needs a queue, not
        more retries."""
        return retry_concurrent(
            lambda: self.merge(batch, removed, meta=meta),
            max_retries=max_retries,
            backoff_s=backoff_s,
        )

    def rollback(self, version: int) -> int:
        """Point the store back at a retained ``version`` and drop the
        newer versions — the bad-ingest-night recovery: one pointer
        swap, no data movement (versions are immutable), and the dead
        branch above the rollback point is garbage-collected so a
        subsequent commit reuses its numbers cleanly.

        The pointer swap IS the rollback (atomic, crash-safe); the
        branch cleanup after it is idempotent housekeeping — a crash
        mid-cleanup leaves stale higher versions that the next
        rollback/vacuum removes, while readers already see the rolled
        -back state."""
        if version not in self.versions():
            raise ValueError(
                f"version {version} is not retained (have {self.versions()})"
            )
        self._swap_pointer(version)
        self._remove_above(version)
        self._gc_unreferenced_data()
        return version

    def _remove_above(self, version: int) -> None:
        """Remove every commit file above ``version``, ``.tmp`` ones
        included: a rolled-back branch, or a crashed writer's orphan
        (complete, or killed between its tmp write and the rename).
        They sit above the pointer, so this lists raw disk artifacts —
        ``versions()`` deliberately filters them out."""
        for name in os.listdir(self.path):
            m = _COMMIT_FILE.fullmatch(name)
            if m and int(m.group(1)) > version:
                try:
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass

    def _gc_unreferenced_data(self) -> None:
        """Delete data files no surviving manifest references, then
        prune emptied commit/bucket dirs (shared by vacuum and
        rollback)."""
        referenced: set[str] = set()
        for v in self.versions():
            for rels in self._read_manifest(v).values():
                referenced.update(rels)
        for rel in self._list_data_files() - referenced:
            try:
                os.remove(os.path.join(self._data_dir(), rel))
            except OSError:
                pass
        # rmdir is attempted UNCONDITIONALLY (bottom-up): os.walk's
        # `dirs` list is a pre-deletion snapshot, so a commit dir
        # whose bucket children were rmdir'd earlier in this same
        # walk still shows them and a `not dirs` guard would skip
        # it forever (empty commit dirs then accumulate across
        # vacuums). rmdir itself refuses non-empty dirs, so this
        # can never remove live data.
        for root, _dirs, _fnames in os.walk(self._data_dir(), topdown=False):
            if root != self._data_dir():
                try:
                    os.rmdir(root)
                except OSError:
                    pass

    def vacuum(
        self,
        keep: int = 2,
        *,
        max_age_s: float | None = None,
        now: float | None = None,
    ) -> list[int]:
        """Drop all but the newest ``keep`` versions (never the
        current one), then delete the data files no surviving manifest
        references.

        ``max_age_s`` adds AGE-based retention on top of the count
        bound: any non-current version whose recorded ``committed_at``
        is older than ``now - max_age_s`` is dropped even if it is
        inside the newest ``keep`` — the "retain 7 days of time
        travel" policy a nightly pipeline states in hours, not
        version counts. ``now`` defaults to the wall clock; tests
        inject it."""
        import time as _time

        cur = self.current_version()
        # Crash orphans above the pointer (a failed write's partial
        # version) are unconditionally GC-ed — they are unreadable by
        # contract (versions() excludes them) and a later commit would
        # overwrite their numbers anyway.
        self._remove_above(cur or 0)
        versions = self.versions()
        doomed = {
            v for v in (versions[:-keep] if keep > 0 else versions) if v != cur
        }
        if max_age_s is not None:
            cutoff = (now if now is not None else _time.time()) - max_age_s
            for v in versions:
                if v == cur:
                    continue
                if self._read_commit(v)["committed_at"] < cutoff:
                    doomed.add(v)
        victims = sorted(doomed)
        for v in victims:
            os.remove(self._manifest_path(v))
        self._gc_unreferenced_data()
        return victims
