"""Structured Streaming layer: incremental merge pipeline + windowed
aggregations, driven synchronously with processAllAvailable."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F
import pyspark.sql.types as T

from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore
from fs_indexer_elasticsearch_spark.streaming.pipeline import (
    run_incremental_pipeline,
    windowed_event_counts,
)

ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.IntegerType()),
        T.StructField("payload", T.StringType()),
    ]
)


def test_incremental_pipeline_merges_batches(spark, tmp_path):
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )

    def drop(name, rows):
        spark.createDataFrame(rows, ENTRY_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    drop("b1", [("a", 1, "p1"), ("b", 1, "p1")])
    q = run_incremental_pipeline(
        spark,
        str(inp) + "/*",
        ENTRY_SCHEMA,
        store,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        out = {r.k: r.payload for r in store.read().collect()}
        assert out == {"a": "p1", "b": "p1"}

        # Second drop: newer a wins, stale b ignored, c inserted;
        # intra-batch dup of c keeps the newest.
        drop("b2", [("a", 2, "p2"), ("b", 0, "stale"), ("c", 1, "c1"), ("c", 3, "c3")])
        q.processAllAvailable()
        out = {r.k: (r.v, r.payload) for r in store.read().collect()}
        assert out == {"a": (2, "p2"), "b": (1, "p1"), "c": (3, "c3")}
    finally:
        q.stop()


def test_windowed_event_counts_stream(spark, tmp_path):
    from fs_indexer_elasticsearch_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").limit(200).cache()
    src = str(tmp_path / "events-stream")
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = windowed_event_counts(stream, window="10 minutes", watermark="30 minutes")
    assert agg.isStreaming
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT sum(n) AS total FROM win_out"
        ).collect()[0].total
        # Append mode only emits windows finalized by the watermark —
        # everything except the trailing 30 minutes of the stream.
        batch = (
            ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        full_total = batch.agg(F.sum("n")).collect()[0][0]
        assert got is not None and 0 < got <= full_total
    finally:
        q.stop()


def test_sessionized_event_stats_stream(spark, tmp_path):
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        sessionized_event_stats,
    )
    from fs_indexer_elasticsearch_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").limit(300).cache()
    src = str(tmp_path / "sess-stream")
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = sessionized_event_stats(stream, gap="30 minutes", watermark="60 minutes")
    assert agg.isStreaming
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT sum(n_events) AS n FROM sess_out").collect()[0].n
        # Append mode emits sessions closed by the watermark — a
        # subset of all events, but non-trivial.
        assert got is not None and 0 < got <= 300
        # Session starts must be unique per user (no split sessions).
        dup = spark.sql(
            """SELECT user_id, session_start, count(*) c FROM sess_out
               GROUP BY 1, 2 HAVING count(*) > 1"""
        ).count()
        assert dup == 0
    finally:
        q.stop()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join must emit EXACTLY
    the batch range-join's pairs once the whole source is processed —
    inner-join matches are emitted as found; the watermark only bounds
    state for late data, it never drops on-time matches."""
    from fs_indexer_elasticsearch_spark.plans import QUERIES
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        stream_stream_error_after_purchase,
    )
    from fs_indexer_elasticsearch_spark.tables import load

    # sf0.001 has no error-within-600s-of-purchase pairs at all;
    # sf0.01 has 6 — small enough to stream, non-trivial to match.
    sf_dir = "/root/testdata/sf0.01"
    ev = load(spark, sf_dir, "events")
    src = str(tmp_path / "ssj-stream")
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    joined = stream_stream_error_after_purchase(stream)
    assert joined.isStreaming
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.p_event, r.e_event, r.user_id, r.gap_us)
            for r in spark.sql("SELECT * FROM ssj_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r.p_event, r.e_event, r.user_id, r.gap_us)
        for r in QUERIES["range_join_error_after_purchase"](spark, sf_dir).collect()
    }
    assert got == want and want  # exact parity, non-trivial


def test_streaming_dedup_suppresses_replays(spark, tmp_path):
    from fs_indexer_elasticsearch_spark.streaming.pipeline import streaming_dedup
    from fs_indexer_elasticsearch_spark.tables import load

    # 200 events, content keyed to 40 distinct hashes -> heavy replay.
    ev = (
        load(spark, "/root/testdata/sf0.001", "events")
        .limit(200)
        .withColumn("content_hash", F.md5((F.col("event_id") % 40).cast("string")))
        .cache()
    )
    src = str(tmp_path / "dedup-stream")
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = streaming_dedup(stream, ["content_hash"], watermark="60 minutes")
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT content_hash FROM dedup_out").collect()
        hashes = [r.content_hash for r in rows]
        n_distinct = ev.select("content_hash").distinct().count()
        assert len(hashes) == len(set(hashes)) == n_distinct == 40
    finally:
        q.stop()


def test_streaming_neardup_detects_against_band_store(spark, tmp_path):
    """Per-micro-batch near-dup detection over the persisted band
    index: drops stream in, matches append out, the store grows
    O(batch) per epoch — the streaming cadence of the incremental
    dedup operator."""
    from fs_indexer_elasticsearch_spark.operators.incremental_dedup import (
        MinHashBandStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_neardup_pipeline,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    corpus_rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(12)))
        for i in range(20)
    ]
    store = MinHashBandStore(spark, str(tmp_path / "bands"), num_buckets=8)
    store.seed(spark.createDataFrame(corpus_rows, doc_schema), "doc_id", "text")
    n0 = store.store.read().count()

    inp = tmp_path / "docs-in"
    inp.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    drop("b1", [(100, corpus_rows[3][1]), (101, "totally unrelated text here")])
    q = streaming_neardup_pipeline(
        spark,
        str(inp) + "/*",
        doc_schema,
        store,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        m1 = spark.read.parquet(str(tmp_path / "matches")).collect()
        # The exact copy of corpus doc 3 is found at estimate 1.0.
        assert any(
            r.batch_id == 100 and r.corpus_id == 3 and r.est_jaccard == 1.0
            for r in m1
        )
        assert not any(r.batch_id == 101 for r in m1)
        assert store.store.read().count() == n0 + 2 * 4  # bands per doc

        # Epoch 2: a dup of a DOC MERGED IN EPOCH 1 — the index the
        # second batch probes includes the first batch's documents.
        drop("b2", [(200, corpus_rows[3][1])])
        q.processAllAvailable()
        m2 = spark.read.parquet(str(tmp_path / "matches")).collect()
        assert any(
            r.batch_id == 200 and r.corpus_id == 100 and r.est_jaccard == 1.0
            for r in m2
        )
        assert store.store.read().count() == n0 + 3 * 4
    finally:
        q.stop()


def test_streaming_neardup_exactly_once_matches_store(spark, tmp_path):
    """With a SnapshotStore matches sink keyed on the match pair, a
    REPLAYED epoch collapses onto the same keys — effectively-once
    match rows, vs the documented at-least-once parquet append."""
    from fs_indexer_elasticsearch_spark.operators.incremental_dedup import (
        MinHashBandStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_neardup_pipeline,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    corpus_rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(12)))
        for i in range(12)
    ]
    band_store = MinHashBandStore(spark, str(tmp_path / "bands"), num_buckets=8)
    band_store.seed(
        spark.createDataFrame(corpus_rows, doc_schema), "doc_id", "text"
    )
    matches_store = SnapshotStore(
        spark, str(tmp_path / "matches"), key="pair", version_col="epoch",
        num_buckets=4,
    )

    inp = tmp_path / "docs-in"
    inp.mkdir()
    spark.createDataFrame(
        [(100, corpus_rows[2][1])], doc_schema
    ).coalesce(1).write.parquet(str(inp / "b1"))

    def run_once(ckpt):
        q = streaming_neardup_pipeline(
            spark,
            str(inp) + "/*",
            doc_schema,
            band_store,
            str(tmp_path / "unused-parquet"),
            ckpt,
            matches_store=matches_store,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(str(tmp_path / "ckpt1"))
    n1 = matches_store.read().count()
    assert n1 >= 1
    rows = {r.pair for r in matches_store.read().collect()}
    assert "100:2" in rows

    # Replay the SAME input from a fresh checkpoint (the worst-case
    # reprocessing): pair keys collapse, no duplicates.
    run_once(str(tmp_path / "ckpt2"))
    assert matches_store.read().count() == n1


def test_streaming_substring_detects_against_shingle_store(spark, tmp_path):
    """Per-micro-batch exact-substring span detection over the
    persisted positional shingle index — the streaming cadence of
    operators/incremental_substring.py. Epoch 2 must match spans
    merged by epoch 1, and the index grows O(batch) per epoch."""
    from fs_indexer_elasticsearch_spark.operators.incremental_substring import (
        ShingleSpanStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_substring_pipeline,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 words
    store = ShingleSpanStore(spark, str(tmp_path / "shingles"), k=5, num_buckets=8)
    store.seed(
        spark.createDataFrame(
            [(1, f"c1a c1b {shared} c1c"), (2, "d1 d2 d3 d4 d5 d6")], doc_schema
        ),
        "doc_id",
        "text",
    )
    n0 = store.store.read().count()

    inp = tmp_path / "docs-in"
    inp.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    # epoch 1: one doc sharing the corpus run + one fresh doc with a
    # NEW 6-word run (x1..x6) no earlier batch has
    drop(
        "b1",
        [(100, f"u1 u2 {shared} u3"), (101, "x1 x2 x3 x4 x5 x6 y7 y8")],
    )
    q = streaming_substring_pipeline(
        spark,
        str(inp) + "/*",
        doc_schema,
        store,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        m1 = spark.read.parquet(str(tmp_path / "matches")).collect()
        by_id = {r.batch_id: r for r in m1}
        assert set(by_id) == {100}
        assert by_id[100].max_span_words == 7 and by_id[100].n_spans == 1
        # store grew by the batch's shingle rows: doc 100 has 10 words
        # -> 6 shingles, doc 101 has 8 words -> 4 shingles
        assert store.store.read().count() == n0 + 6 + 4

        # epoch 2: duplicates the 6-word run MERGED IN EPOCH 1 — the
        # index the second batch probes includes the first batch.
        drop("b2", [(200, "z1 x1 x2 x3 x4 x5 x6 z2")])
        q.processAllAvailable()
        m2 = [
            r
            for r in spark.read.parquet(str(tmp_path / "matches")).collect()
            if r.batch_id == 200
        ]
        assert len(m2) == 1 and m2[0].max_span_words == 6
    finally:
        q.stop()


def test_streaming_ivf_search_then_add(spark, tmp_path):
    """IVF streaming cadence (r7 verdict #5): each micro-batch is
    searched against the corpus-so-far, then added; a later epoch
    retrieves vectors the earlier epoch added; effectively-once via a
    keyed matches store across a forced epoch replay."""
    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        IvfIndexStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_ivf_pipeline,
    )

    def vec(i):
        return [float(((i * 31 + d * 7) % 13) - 6) for d in range(16)]

    vec_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=8)
    store.seed(
        spark.createDataFrame([(i, vec(i)) for i in range(20)], vec_schema),
        spark.createDataFrame([(i, vec(i)) for i in range(4)], vec_schema),
        "vec_id",
        "emb",
    )

    # effectively-once sink: matches keyed on the (query, neighbor) pair
    matches_store = SnapshotStore(
        spark,
        str(tmp_path / "matches-store"),
        key="pair",
        version_col="epoch",
        num_buckets=8,
    )

    inp = tmp_path / "vecs-in"
    inp.mkdir()

    def drop(name, ids):
        spark.createDataFrame(
            [(i, vec(i)) for i in ids], vec_schema
        ).coalesce(1).write.mode("overwrite").parquet(str(inp / name))

    drop("b1", range(100, 104))
    q = streaming_ivf_pipeline(
        spark,
        str(inp) + "/*",
        vec_schema,
        store,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
        k=2,
        nprobe=2,
        matches_store=matches_store,
    )
    try:
        q.processAllAvailable()
        m1 = matches_store.read().collect()
        assert {r.query_id for r in m1} == {100, 101, 102, 103}
        # searched BEFORE added: no intra-batch neighbors
        assert all(r.neighbor_id < 100 for r in m1)
        assert store.store.read().count() == 24  # 20 seed + 4 added

        # epoch 2's queries search an index that now CONTAINS epoch
        # 1's vectors (neighbors may span seed and epoch-1 rows)
        drop("b2", [200, 201])
        q.processAllAvailable()
        m2 = [r for r in matches_store.read().collect() if r.query_id in (200, 201)]
        assert len(m2) == 4  # k=2 per query
        assert store.store.read().count() == 26
    finally:
        q.stop()

    # forced replay of the LAST epoch: wipe the checkpoint's commit so
    # foreachBatch re-runs it. Index add is idempotent (LWW on vec_id),
    # search excludes ivf_seq >= its own seq (max_seq), and the keyed
    # matches upsert collapses — byte-identical state.
    import os
    import shutil

    before_rows = sorted(map(tuple, matches_store.read().drop("_bucket").collect()))
    commits = sorted(
        c for c in os.listdir(tmp_path / "ckpt" / "commits") if not c.startswith(".")
    )
    os.remove(tmp_path / "ckpt" / "commits" / commits[-1])
    crc = tmp_path / "ckpt" / "commits" / f".{commits[-1]}.crc"
    if crc.exists():
        os.remove(crc)
    q2 = streaming_ivf_pipeline(
        spark,
        str(inp) + "/*",
        vec_schema,
        store,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
        k=2,
        nprobe=2,
        matches_store=matches_store,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    after_rows = sorted(map(tuple, matches_store.read().drop("_bucket").collect()))
    assert after_rows == before_rows
    assert store.store.read().count() == 26  # replayed add did not grow


def test_streaming_curation_quality_gate_then_probe(spark, tmp_path):
    """Composed curation at streaming cadence: per micro-batch, the
    quality gate runs first, only survivors probe AND merge into the
    band index, and each survivor carries a kept/near-dup verdict."""
    from fs_indexer_elasticsearch_spark.operators.incremental_dedup import (
        MinHashBandStore,
    )
    from fs_indexer_elasticsearch_spark.plans.llm_pipeline5 import (
        quality_score_expr,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_curation_pipeline,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    corpus_text = "the quick brown fox jumps over the lazy dog again and again"
    store = MinHashBandStore(spark, str(tmp_path / "bands"), num_buckets=8)
    store.seed(
        spark.createDataFrame([(1, corpus_text)], doc_schema), "doc_id", "text"
    )
    n0 = store.store.read().count()

    # Split candidate words into quality-pass / quality-fail under the
    # deterministic score so the test doesn't depend on magic strings.
    from fs_indexer_elasticsearch_spark.functions.text import tokens

    words = [f"w{i}a b{i}c d{i}e f{i}g" for i in range(40)]
    cand = spark.createDataFrame(
        [(100 + i, w) for i, w in enumerate(words)], doc_schema
    ).select(
        "doc_id", "text", tokens("text").alias("toks")
    ).withColumn("score", quality_score_expr())
    passing = [(r.doc_id, r.text) for r in cand.filter("score >= 0.5").collect()]
    failing = [(r.doc_id, r.text) for r in cand.filter("score < 0.5").collect()]
    assert passing and failing  # both classes must exist for the test

    inp = tmp_path / "docs-in"
    inp.mkdir()
    rows = [(900, corpus_text)] + passing[:3] + failing[:3]
    spark.createDataFrame(rows, doc_schema).coalesce(1).write.parquet(
        str(inp / "b1")
    )
    q = streaming_curation_pipeline(
        spark,
        str(inp) + "/*",
        doc_schema,
        store,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r.batch_id: r for r in spark.read.parquet(str(tmp_path / "matches")).collect()}
    # doc 900 repeats the corpus text: quality-pass (same as corpus
    # doc), probed, flagged as near-dup.
    assert 900 in out and out[900].kept is False
    for did, _ in passing[:3]:
        assert did in out and out[did].kept is True
    for did, _ in failing[:3]:
        assert did not in out  # rejected before the probe
    # Only quality survivors merged: 900 + the passing subset.
    grew = store.store.read().count() - n0
    assert grew == (1 + len(passing[:3])) * store.bands


def test_streaming_changefeed_effectively_once(spark, tmp_path):
    """Change feed at streaming cadence: each micro-batch's merge
    publishes exactly what it changed (no-op re-sends emit nothing),
    and a replayed epoch — the feed is derived pre-commit against the
    live store — emits zero new rows, so the keyed feed store is
    effectively-once."""
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_changefeed_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    feed_store = SnapshotStore(
        spark, str(tmp_path / "feed"), key="fk", version_col="epoch",
        num_buckets=4,
    )
    inp = tmp_path / "in"
    inp.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(inp / name)
        )

    def run_once(ckpt):
        q = streaming_changefeed_pipeline(
            spark,
            str(inp) + "/*",
            schema,
            store,
            str(tmp_path / "feed-parquet"),
            ckpt,
            feed_store=feed_store,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drop("b1", [(f"k{i}", 1, f"p{i}") for i in range(5)])
    run_once(str(tmp_path / "ckpt1"))
    feed = {r.fk: r for r in feed_store.read().collect()}
    assert len(feed) == 5 and all(
        r._change == "insert" for r in feed.values()
    )

    # b2: one real update, one insert, one identical re-send (no-op).
    drop("b2", [("k2", 2, "updated"), ("k5", 1, "p5"), ("k3", 1, "p3")])
    run_once(str(tmp_path / "ckpt2"))
    feed = {(r.k, r._change): r for r in feed_store.read().collect()}
    assert len(feed) == 7  # 5 inserts + 1 update + 1 insert; no k3 row
    assert feed[("k2", "update")].payload == "updated"  # post-image
    assert ("k5", "insert") in feed
    assert not any(k == "k3" and c == "update" for k, c in feed)

    # Replay EVERYTHING from a fresh checkpoint (worst-case
    # reprocessing): the feed re-derives against the post-merge store,
    # classifies all rows identical, and emits nothing new.
    n_store_versions = store.current_version()
    n_feed_versions = feed_store.current_version()
    run_once(str(tmp_path / "ckpt3"))
    assert feed_store.read().count() == 7
    # ...and the no-change epochs were SKIPPED outright: neither the
    # feed store nor the snapshot store committed a version for them
    # (the empty-feed guard — replayed epochs used to link-forward
    # every bucket into a fresh no-op version per epoch).
    assert {r.payload for r in store.read().collect()} == {
        "p0", "p1", "updated", "p3", "p4", "p5"
    }
    assert store.current_version() == n_store_versions
    assert feed_store.current_version() == n_feed_versions


@pytest.mark.slow
def test_streaming_maintained_view_zero_base_rescans(spark, tmp_path):
    """r10 verdict #6: the declared (n, min_v, max_v, s) view is
    maintained INSIDE the streaming loop from each cycle's feed with
    old_view feedback — N cycles equal a from-scratch recompute every
    cycle, and after the first derivation the base is read again ONLY
    for an extremum-departure recompute. Scan accounting: versioned
    ``store.read(version=...)`` calls are exactly the base-aggregate
    reads (merge's needs_schema_update reads the current commit's
    schema, not the data), so the
    counter must stay at 1 across the insert-only steady cycles and
    reach exactly 2 after the max-retiring update."""
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_view_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.IntegerType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="grp", version_col="n", num_buckets=2
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {
            r.grp: (r.n, r.min_v, r.max_v, r.s)
            for r in view_store.read().collect()
        }

    def scratch():
        return {
            r.grp: (r.n, r.min_v, r.max_v, r.s)
            for r in orig_read()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("val").alias("min_v"),
                F.max("val").alias("max_v"),
                F.sum("val").alias("s"),
            )
            .collect()
        }

    drop("b1", [("a1", 1, "A", 5), ("b1", 1, "B", 10)])
    q = streaming_maintained_view_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        group_cols=["grp"],
        value_col="val",
    )
    try:
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "A": (1, 5, 5, 5),
            "B": (1, 10, 10, 10),
        }
        assert versioned_reads == [1]  # the one first derivation

        # Insert-only cycles: adds can only improve extrema — the
        # delta path alone carries them, zero base reads.
        drop("b2", [("a2", 1, "A", 3), ("c1", 1, "C", 7)])
        q.processAllAvailable()
        assert view_now() == scratch()
        drop("b3", [("d1", 1, "A", 6)])
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "A": (3, 3, 6, 14),
            "B": (1, 10, 10, 10),
            "C": (1, 7, 7, 7),
        }
        assert versioned_reads == [1]  # still only the derivation

        # Interior update (a1: 5 -> 4 sits strictly inside A's
        # (3, 6) extrema): still pure delta, still no base read.
        drop("b4", [("a1", 2, "A", 4)])
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "A": (3, 3, 6, 13),
            "B": (1, 10, 10, 10),
            "C": (1, 7, 7, 7),
        }
        assert versioned_reads == [1]

        # Update that RETIRES A's max (d1's 6 departs): the
        # affected-group recompute is the one legitimate base read.
        drop("b4x", [("d1", 2, "A", 5)])
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "A": (3, 3, 5, 12),
            "B": (1, 10, 10, 10),
            "C": (1, 7, 7, 7),
        }
        assert len(versioned_reads) == 2  # + exactly one recompute

        # Replayed-content cycle (same rows again): the empty feed
        # guard skips the view commit — version chain does not grow.
        vv = view_store.current_version()
        drop("b5", [("d1", 2, "A", 5)])
        q.processAllAvailable()
        assert view_store.current_version() == vv
        assert view_now() == scratch()
        assert len(versioned_reads) == 2
    finally:
        q.stop()


def test_incremental_pipeline_equal_version_tiebreak_deterministic(
    spark, tmp_path
):
    """r11 advice: two rows in ONE micro-batch with the same key and
    EQUAL version values got an arbitrary row_number winner — the
    merged base (and any view maintained from it) then differed
    across replays of identical input. The dedup window now breaks
    ties on every remaining column (name order, descending), so the
    elected row is a pure function of the batch's content."""
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )

    # Equal (k, v); payload is the only tiebreak column — descending,
    # so "zz" must win over "aa" no matter the partition order the
    # rows arrive in (the 8-way repartition scrambles it on purpose).
    rows = [("k1", 1, "aa"), ("k1", 1, "zz"), ("k2", 1, "mm")]
    spark.createDataFrame(rows, ENTRY_SCHEMA).repartition(8).write.mode(
        "overwrite"
    ).parquet(str(inp / "b1"))

    q = run_incremental_pipeline(
        spark, str(inp) + "/*", ENTRY_SCHEMA, store, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r.k: r.payload for r in store.read().collect()}
    assert out == {"k1": "zz", "k2": "mm"}


def test_streaming_maintained_view_self_heals_after_deep_vacuum(
    spark, tmp_path
):
    """r11 advice: the maintained view's catch-up window (reflected ->
    current base) needs the base store to retain versions back to the
    view's reflected one — a vacuum DEEPER than the view's lag made
    read_changes raise 'version not retained' inside foreachBatch on
    every subsequent micro-batch, permanently failing the query. The
    not-retained error now degrades — once — to a from-scratch
    derivation that re-stamps the reflected version, and the next cycle
    is incremental again (no extra versioned base reads)."""
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_view_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.IntegerType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="grp", version_col="n", num_buckets=2
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {
            r.grp: (r.n, r.min_v, r.max_v, r.s)
            for r in view_store.read().collect()
        }

    def scratch():
        return {
            r.grp: (r.n, r.min_v, r.max_v, r.s)
            for r in orig_read()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("val").alias("min_v"),
                F.max("val").alias("max_v"),
                F.sum("val").alias("s"),
            )
            .collect()
        }

    drop("b1", [("a1", 1, "A", 5), ("b1", 1, "B", 10)])
    q = streaming_maintained_view_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        group_cols=["grp"],
        value_col="val",
    )
    try:
        q.processAllAvailable()
        assert view_now() == scratch()
        assert versioned_reads == [1]  # the first derivation

        # Widen the view's lag WITHOUT the stream seeing it: two
        # direct base commits (an out-of-band writer), then a vacuum
        # that drops the view's reflected version 1.
        store.merge(
            spark.createDataFrame([("c1", 1, "C", 7)], schema)
        )  # v2
        store.merge(
            spark.createDataFrame([("a1", 2, "A", 4)], schema)
        )  # v3
        store.vacuum(keep=2)  # retains {2, 3}; reflected 1 is GONE
        assert 1 not in store.versions()

        # Next micro-batch: read_changes(1, 4) must raise internally;
        # the pipeline self-heals with one full derivation at v4 and
        # keeps serving (pre-fix: this processAllAvailable raises a
        # StreamingQueryException wrapping the not-retained error).
        drop("b2", [("d1", 1, "B", 2)])
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "A": (1, 4, 4, 4),
            "B": (2, 2, 10, 12),
            "C": (1, 7, 7, 7),
        }
        assert versioned_reads == [1, 4]  # exactly one heal, at v4

        # Steady state restored: an insert-only cycle is pure delta.
        drop("b3", [("e1", 1, "C", 9)])
        q.processAllAvailable()
        assert view_now() == scratch()
        assert versioned_reads == [1, 4]
    finally:
        q.stop()


def test_streaming_maintained_histogram_zero_base_rescans(spark, tmp_path):
    """The streaming histogram maintainer: N cycles of stream ->
    maintained bins equal a from-scratch groupBy(group, value).count()
    every cycle, the served holistic stats (distinct/median/mode)
    match, and — the histogram algebra being closed under deletes —
    the base is read at exactly ONE version ever (the first
    derivation), even on the delete cycle that retires bins and
    shifts the median (min/max would recompute here; the histogram
    must not)."""
    from fs_indexer_elasticsearch_spark.operators.ivm import histogram_stats
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_histogram_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.IntegerType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    hist_store = SnapshotStore(
        spark, str(tmp_path / "hist"), key="grp", version_col="c", num_buckets=2
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def bins_now():
        return {
            (r.grp, r.val): r.c for r in hist_store.read().collect()
        }

    def bins_scratch():
        return {
            (r.grp, r.val): r.c
            for r in orig_read()
            .groupBy("grp", "val")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    drop("b1", [("a1", 1, "A", 1), ("a2", 1, "A", 1), ("b1", 1, "B", 10)])
    q = streaming_maintained_histogram_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        hist_store,
        str(tmp_path / "ckpt"),
        group_cols=["grp"],
        value_col="val",
    )
    try:
        q.processAllAvailable()
        assert bins_now() == bins_scratch() == {
            ("A", 1): 2,
            ("B", 10): 1,
        }
        assert versioned_reads == [1]

        # Insert cycle: new bins open, an existing bin bumps.
        drop("b2", [("a3", 1, "A", 5), ("b2", 1, "B", 10), ("c1", 1, "C", 7)])
        q.processAllAvailable()
        assert bins_now() == bins_scratch()
        assert versioned_reads == [1]

        # Delete + update cycle: a2's departure decrements (A,1); the
        # a3 update MOVES a multiplicity 5 -> 9 (bin retire + open);
        # min/max IVM would hit its recompute branch on this shape —
        # the histogram must stay pure-delta.
        store.merge(
            spark.createDataFrame([("a3", 2, "A", 9)], schema),
            removed=spark.createDataFrame([("a2",)], "k string"),
        )
        drop("b3", [("d1", 1, "C", 7)])
        q.processAllAvailable()
        assert bins_now() == bins_scratch() == {
            ("A", 1): 1,
            ("A", 9): 1,
            ("B", 10): 2,
            ("C", 7): 2,
        }
        assert versioned_reads == [1]  # STILL only the derivation

        # The published bins serve the exact holistic stats.
        got = {
            r.grp: (r.n, r.n_distinct, r.mode_v, r.median_v)
            for r in histogram_stats(
                hist_store.read().drop("_bucket"), ["grp"], "val"
            ).collect()
        }
        assert got == {
            "A": (2, 2, 1, 5.0),
            "B": (2, 1, 10, 10.0),
            "C": (2, 1, 7, 7.0),
        }
    finally:
        q.stop()


def test_streaming_maintained_pipeline_generic_topk(spark, tmp_path):
    """The generic maintained-view stream with the TOP-K algebra
    plugged in: N cycles of stream -> maintained top-2 arrays equal a
    from-scratch ranked top-k every cycle; the insert-only cycles are
    pure O(k) array merges (zero base reads after the derivation) and
    the horizon-retiring delete pays exactly one group-pruned read."""
    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_top_k
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.IntegerType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="grp", version_col="n", num_buckets=2
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read

    from pyspark.sql import Window

    def derive(v_after):
        w = Window.partitionBy("grp").orderBy(F.desc("val"))
        return (
            orig_read(version=v_after)
            .withColumn("_rk", F.row_number().over(w))
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.reverse(
                    F.array_sort(
                        F.collect_list(F.when(F.col("_rk") <= 2, F.col("val")))
                    )
                ).alias("topk"),
            )
        )

    def maintain(reflected, v_after, old_view):
        return maintain_top_k(
            store, reflected, v_after, ["grp"], "val", 2, old_view=old_view
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {
            r.grp: (r.n, tuple(r.topk)) for r in view_store.read().collect()
        }

    drop("b1", [("a1", 1, "A", 5), ("a2", 1, "A", 9), ("b1", 1, "B", 10)])
    q = streaming_maintained_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        derive=derive,
        maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert view_now() == {"A": (2, (9, 5)), "B": (1, (10,))}
        assert versioned_reads == []  # derive() uses orig_read

        # Insert-only: pure array merge, no base read.
        drop("b2", [("a3", 1, "A", 7), ("b2", 1, "B", 3)])
        q.processAllAvailable()
        assert view_now() == {"A": (3, (9, 7)), "B": (2, (10, 3))}
        assert versioned_reads == []

        # Horizon-retiring update: a2's 9 leaves A's top-2 (9 -> 1);
        # the recompute branch reads the base exactly once.
        drop("b3", [("a2", 2, "A", 1)])
        q.processAllAvailable()
        assert view_now() == {"A": (3, (7, 5)), "B": (2, (10, 3))}
        assert len(versioned_reads) == 1
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_joined_histogram_dim_out_of_band(spark, tmp_path):
    """The joined maintained view at streaming cadence: fact
    micro-batches flow through the stream while the dim store is
    committed OUT OF BAND between epochs; the published bins must
    equal a from-scratch rejoin after every cycle (per-store
    reflected windows compose), and the base fact table is fully
    re-derived only once."""
    from fs_indexer_elasticsearch_spark.operators.ivm import histogram_stats
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_joined_histogram_pipeline,
    )

    FSCH = T.StructType(
        [
            T.StructField("fk", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("cust", T.StringType()),
            T.StructField("val", T.IntegerType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=2,
    )
    hist = SnapshotStore(
        spark, str(tmp_path / "hist"), key="seg", version_col="c",
        num_buckets=2,
    )
    dim.overwrite(
        spark.createDataFrame(
            [("c1", 1, "A"), ("c2", 1, "B")], "dk string, v int, seg string"
        )
    )

    def drop(name, rows):
        spark.createDataFrame(rows, FSCH).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def scratch():
        return {
            (r.seg, r.val): r.c
            for r in fact.read()
            .join(dim.read(), F.col("cust") == F.col("dk"))
            .groupBy("seg", "val")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    def bins_now():
        return {(r.seg, r.val): r.c for r in hist.read().collect()}

    drop("b1", [("f1", 1, "c1", 5), ("f2", 1, "c1", 5), ("f3", 1, "c2", 7)])
    q = streaming_maintained_joined_histogram_pipeline(
        spark,
        str(inp) + "/*",
        FSCH,
        fact,
        dim,
        hist,
        str(tmp_path / "ckpt"),
        fact_key_col="cust",
        dim_key_col="dk",
        group_col="seg",
        value_col="val",
    )
    try:
        q.processAllAvailable()
        assert bins_now() == scratch() == {("A", 5): 2, ("B", 7): 1}
        assert hist.read_meta()["store_versions"] == [1, 1]

        # Out-of-band dim commit (c1 re-segments A -> B, c3 appears)
        # BETWEEN fact epochs; the next fact batch carries both
        # windows: c1's multiset {5,5} moves to B, f4 lands dark
        # until... c3 exists now, so f4's 9 surfaces immediately.
        dim.merge(
            spark.createDataFrame(
                [("c1", 2, "B"), ("c3", 2, "A")], "dk string, v int, seg string"
            )
        )
        drop("b2", [("f4", 1, "c3", 9)])
        q.processAllAvailable()
        assert bins_now() == scratch() == {
            ("B", 5): 2,
            ("B", 7): 1,
            ("A", 9): 1,
        }
        assert hist.read_meta()["store_versions"] == [2, 2]

        # Fact-only epoch with a removal: pure bin algebra.
        fact.merge(
            spark.createDataFrame([], FSCH),
            removed=spark.createDataFrame([("f2",)], "fk string"),
        )
        drop("b3", [("f5", 1, "c2", 7)])
        q.processAllAvailable()
        assert bins_now() == scratch() == {
            ("B", 5): 1,
            ("B", 7): 2,
            ("A", 9): 1,
        }

        # Served stats from the published bins.
        got = {
            r.seg: (r.n, r.n_distinct, r.mode_v, r.median_v)
            for r in histogram_stats(
                hist.read().drop("_bucket"), ["seg"], "val"
            ).collect()
        }
        assert got == {"A": (1, 1, 9, 9.0), "B": (3, 2, 7, 7.0)}
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_maintained_pipeline_cascade_zero_base_reads(
    spark, tmp_path
):
    """The generic maintained-view stream with the ROLLUP-CASCADE
    algebra plugged in: day and month (count, sum) views ride ONE
    published snapshot (level-tagged), the month level fed by the day
    level's delta. Unlike top-k/min-max there is NO recompute branch
    — count/sum are distributive — so the base must never be read
    again after the first derivation, even through deletes that empty
    a day and a month; every cycle's view must equal a from-scratch
    two-grain aggregate."""
    import datetime as dt

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_rollup_cascade,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("day", T.DateType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark,
        str(tmp_path / "view"),
        key=["level", "grain"],
        version_col="n",
        num_buckets=2,
        bucket_key="grain",
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read
    month_of = lambda c: F.trunc(c, "month")  # noqa: E731

    def two_grain(df):
        fine = df.groupBy(F.col("day").alias("grain")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").cast("long").alias("s")
        )
        coarse = fine.groupBy(month_of("grain").alias("grain")).agg(
            F.sum("n").alias("n"), F.sum("s").alias("s")
        )
        return fine.select(F.lit("day").alias("level"), "grain", "n", "s") \
            .unionByName(
                coarse.select(F.lit("month").alias("level"), "grain", "n", "s")
            )

    def derive(v_after):
        return two_grain(orig_read(version=v_after))

    def maintain(reflected, v_after, old_view):
        old_fine = old_view.filter(F.col("level") == "day").select(
            F.col("grain").alias("day"), "n", "s"
        )
        old_coarse = old_view.filter(F.col("level") == "month").select(
            F.col("grain").alias("month"), "n", "s"
        )
        fine, coarse = maintain_rollup_cascade(
            store, reflected, v_after,
            fine_col="day", coarse_col="month",
            coarse_of=month_of, value_col="cents",
            old_fine=old_fine, old_coarse=old_coarse,
        )
        return fine.select(
            F.lit("day").alias("level"), F.col("day").alias("grain"), "n", "s"
        ).unionByName(
            coarse.select(
                F.lit("month").alias("level"),
                F.col("month").alias("grain"), "n", "s",
            )
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {
            (r.level, r.grain): (r.n, r.s)
            for r in view_store.read().collect()
        }

    def scratch():
        return {
            (r.level, r.grain): (r.n, r.s)
            for r in two_grain(orig_read()).collect()
        }

    d = dt.date.fromisoformat
    drop("b1", [(1, 1, d("2024-01-05"), 100), (2, 1, d("2024-01-20"), 7),
                (3, 1, d("2024-02-10"), 55)])
    q = streaming_maintained_pipeline(
        spark, str(inp) + "/*", schema, store, view_store,
        str(tmp_path / "ckpt"), derive=derive, maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert view_now() == scratch()
        assert versioned_reads == []  # derive() used orig_read

        # new day + new month + intra-day update
        drop("b2", [(4, 1, d("2024-01-09"), 11), (5, 1, d("2024-03-01"), 13),
                    (1, 2, d("2024-01-05"), 90)])
        q.processAllAvailable()
        assert view_now() == scratch()

        # delete-bearing cycle: k2 leaves (day 01-20 empties). The
        # store's merge takes removals out of band of the stream;
        # drive it through a tombstone batch instead: merge directly,
        # then tick the stream with an unrelated row so the window
        # (reflected -> current) spans the out-of-band delete too.
        store.merge(
            spark.createDataFrame([], schema),
            removed=spark.createDataFrame([(2,)], "k long"),
        )
        drop("b3", [(6, 1, d("2024-02-28"), 2)])
        q.processAllAvailable()
        got = view_now()
        assert got == scratch()
        assert ("day", d("2024-01-20")) not in got
        # Distributive algebra: NO base reads ever, deletes included.
        assert versioned_reads == []
    finally:
        q.stop()


def test_streaming_partition_delta_publication(spark, tmp_path):
    """Join-membership partition at streaming cadence: the view store
    is advanced by MERGING only the delta (adds + actual flips,
    removals by key) — the fact store is never rescanned after the
    first derivation (asserted by counting versioned fact reads), the
    dim evolves out of band between epochs, and after every epoch the
    published view equals a from-scratch classification of the two
    post states. The view meta records ``store_versions`` = [fact,
    dim] like every maintained view, and an epoch whose fact merge
    changes nothing (both feeds empty) publishes nothing."""
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_partition_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("cust", T.LongType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="k", version_col="v", num_buckets=4
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v", num_buckets=2
    )
    view = SnapshotStore(
        spark, str(tmp_path / "view"), key="k", version_col="_vm",
        num_buckets=4,
    )
    dim.overwrite(spark.createDataFrame([(1, 1), (2, 1)], "dk long, v int"))

    fact_reads = []
    orig_read = fact.read

    def counting_read(version=None):
        if version is not None:
            fact_reads.append(version)
        return orig_read(version=version)

    fact.read = counting_read

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {
            r.k: (r.cust, r.matched)
            for r in view.read().select("k", "cust", "matched").collect()
        }

    def reflected():
        return view.read_meta()["store_versions"] == [
            fact.current_version(), dim.current_version()
        ]

    def scratch():
        dk = dim.read().select(F.col("dk"), F.lit(True).alias("m"))
        return {
            r.k: (r.cust, r.matched)
            for r in orig_read()
            .join(dk, F.col("cust") == F.col("dk"), "left")
            .withColumn("matched", F.coalesce("m", F.lit(False)))
            .collect()
        }

    drop("b1", [(10, 1, 1), (11, 1, 2), (12, 1, 9), (13, 1, None)])
    q = streaming_maintained_partition_pipeline(
        spark, str(inp) + "/*", schema, fact, dim, view,
        str(tmp_path / "ckpt"), fact_key_col="cust", dim_key_col="dk",
    )
    try:
        q.processAllAvailable()
        assert view_now() == scratch()
        assert reflected()
        derivation_reads = len(fact_reads)
        assert derivation_reads >= 1  # the first derivation

        # Out-of-band dim churn: retire key 2 (11 orphans), add key 9
        # (12 un-orphans); stream a new fact row and an update.
        dim.merge(
            spark.createDataFrame([(9, 2)], "dk long, v int"),
            removed=spark.createDataFrame([(2,)], "dk long"),
        )
        drop("b2", [(14, 1, 2), (10, 2, 9)])
        q.processAllAvailable()
        got = view_now()
        assert got == scratch()
        assert got[11] == (2, False) and got[12] == (9, True)
        assert got[14] == (2, False) and got[10] == (9, True)
        assert reflected()
        assert len(fact_reads) == derivation_reads  # no fact rescan

        # Out-of-band fact delete spans into the next epoch's window.
        fact.merge(
            spark.createDataFrame([], schema),
            removed=spark.createDataFrame([(13,)], "k long"),
        )
        drop("b3", [(15, 1, 1)])
        q.processAllAvailable()
        got = view_now()
        assert got == scratch()
        assert 13 not in got and got[15] == (1, True)
        assert reflected()
        assert len(fact_reads) == derivation_reads

        # A re-drop of b3's row: the fact merge commits a version, but
        # both feeds are empty, so the view store does not move.
        fact_before, view_before = fact.current_version(), view.current_version()
        drop("b4", [(15, 1, 1)])
        q.processAllAvailable()
        assert fact.current_version() > fact_before
        assert view.current_version() == view_before
        assert view_now() == scratch()
        assert len(fact_reads) == derivation_reads
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_maintained_pipeline_cms_zero_base_reads(spark, tmp_path):
    """The generic maintained-view stream with the COUNT-MIN SKETCH
    algebra plugged in: the maintained cells must bit-equal a
    from-scratch sketch of the base after every epoch (including an
    out-of-band delete window — CMS is a turnstile sketch, removals
    subtract), and because the algebra is fully distributive the base
    store is NEVER read after the first derivation."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        cms_bucket,
        maintain_cms,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    W, D = 16, 3
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("cust", T.LongType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key=["d", "bucket"],
        version_col="cnt", num_buckets=2, bucket_key="bucket",
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read

    def sketch_of(df):
        depths = F.array(*[F.lit(d).cast("long") for d in range(D)])
        return (
            df.select(F.col("cust").alias("_k"), F.explode(depths).alias("d"))
            .select(
                "d", cms_bucket(F.col("d"), F.col("_k"), W).alias("bucket")
            )
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def derive(v_after):
        return sketch_of(orig_read(version=v_after))

    def maintain(reflected, v_after, old_view):
        return maintain_cms(
            store, reflected, v_after, "cust",
            depth=D, width=W, old_cells=old_view,
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    as_d = lambda df: {  # noqa: E731
        (r.d, r.bucket): r.cnt for r in df.collect()
    }

    drop("b1", [(1, 1, 100), (2, 1, 100), (3, 1, 200)])
    q = streaming_maintained_pipeline(
        spark, str(inp) + "/*", schema, store, view_store,
        str(tmp_path / "ckpt"), derive=derive, maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))
        assert versioned_reads == []  # derive() used orig_read

        drop("b2", [(4, 1, 300), (1, 2, 200)])  # add + key move
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))

        # out-of-band delete window spans into the next epoch
        store.merge(
            spark.createDataFrame([], schema),
            removed=spark.createDataFrame([(2,)], "k long"),
        )
        drop("b3", [(5, 1, 100)])
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))
        assert versioned_reads == []  # turnstile: no recompute branch
    finally:
        q.stop()


def test_changefeed_equal_version_tiebreak_replay_stable(spark, tmp_path):
    """r12 verdict: the changefeed pipeline's inline dedup had NO
    equal-version tiebreak — the ONE pipeline whose contract is
    replay-deterministic delta publication could elect a different
    winner on replay and publish divergent deltas. It now routes
    through _dedup_newest: two equal-(k, v) rows in one micro-batch
    elect the content-determined winner (descending full-column
    tiebreak), and a worst-case full replay from a fresh checkpoint
    re-derives the identical classification and publishes NOTHING."""
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_changefeed_pipeline,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    feed_store = SnapshotStore(
        spark, str(tmp_path / "feed"), key="fk", version_col="epoch",
        num_buckets=4,
    )
    inp = tmp_path / "in"
    inp.mkdir()
    # Equal (k1, v=1) duplicates; the 8-way repartition scrambles the
    # arrival order so only the tiebreak can make the winner stable.
    rows = [("k1", 1, "aa"), ("k1", 1, "zz"), ("k2", 1, "mm")]
    spark.createDataFrame(rows, ENTRY_SCHEMA).repartition(8).write.parquet(
        str(inp / "b1")
    )

    def run_once(ckpt):
        q = streaming_changefeed_pipeline(
            spark,
            str(inp) + "/*",
            ENTRY_SCHEMA,
            store,
            str(tmp_path / "feed-parquet"),
            ckpt,
            feed_store=feed_store,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(str(tmp_path / "ckpt1"))
    feed = sorted(
        (r.k, r._change, r.payload) for r in feed_store.read().collect()
    )
    # Deterministic winner: descending tiebreak elects "zz", never "aa".
    assert feed == [("k1", "insert", "zz"), ("k2", "insert", "mm")]
    assert {r.k: r.payload for r in store.read().collect()} == {
        "k1": "zz", "k2": "mm"
    }

    # Forced replay of the SAME batch (fresh checkpoint): the dedup
    # must elect "zz" again, classify everything identical against
    # the post-merge store, and publish zero new deltas — with the
    # old version-only dedup, electing "aa" here published a spurious
    # update delta AND rewrote the base.
    v_store, v_feed = store.current_version(), feed_store.current_version()
    run_once(str(tmp_path / "ckpt2"))
    replayed = sorted(
        (r.k, r._change, r.payload) for r in feed_store.read().collect()
    )
    assert replayed == feed  # byte-stable published feed
    assert store.current_version() == v_store
    assert feed_store.current_version() == v_feed
    assert {r.k: r.payload for r in store.read().collect()} == {
        "k1": "zz", "k2": "mm"
    }


def test_streaming_module_has_single_dedup_implementation():
    """Guard against the r12 regression class: NO foreachBatch path
    may build its own per-key dedup window again — _dedup_newest is
    the module's one and only row_number dedup."""
    import inspect

    import fs_indexer_elasticsearch_spark.streaming.pipeline as pl

    src = inspect.getsource(pl)
    # The dedup idiom is the row_number-over-version-window filter
    # materialized as "_rn"; ranking windows (e.g. a top-k derive's
    # "_rk") are fine — it is per-key DEDUP that must be single-homed.
    assert src.count('withColumn("_rn"') == 1, (
        "streaming/pipeline.py must contain exactly one row_number "
        "dedup (inside _dedup_newest); route new paths through it"
    )
    dedup_src = inspect.getsource(pl._dedup_newest)
    assert 'withColumn("_rn"' in dedup_src


def test_streaming_module_has_single_micro_batch_driver():
    """Every file-driven stream starts through _micro_batch_stream:
    the module holds exactly one readStream source and one
    foreachBatch sink, so the empty-batch skip, the trigger throttle
    and the checkpoint wiring cannot drift between streams."""
    import inspect

    import fs_indexer_elasticsearch_spark.streaming.pipeline as pl

    src = inspect.getsource(pl)
    assert src.count("readStream") == 1
    assert src.count("foreachBatch(") == 1
    driver_src = inspect.getsource(pl._micro_batch_stream)
    assert "readStream" in driver_src and "foreachBatch(" in driver_src


@pytest.mark.slow
def test_streaming_ivf_maintenance_keeps_hot_cell_bounded(spark, tmp_path):
    """r12 verdict #2: the streaming IVF feed never invoked the cell
    maintenance policy — a skewed stream degraded probe cost
    monotonically until someone ran batch maintenance by hand. With
    ``split_threshold`` set the epoch loop now invokes
    ``maintain_cells`` every ``maintain_every``-th epoch: 50% of adds
    landing in one region keeps every live cell at or below the split
    threshold after each maintenance pass (the structural proxy for
    flat probe latency — probe cost is O(probed cell rows)), recall
    stays >= 0.8 against brute force, and a forced replay of a
    maintenance epoch is idempotent (no maintenance commits, identical
    index content, identical published matches)."""
    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        IvfIndexStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_ivf_pipeline,
    )

    DIM = 8

    def hot_vec(i):
        # One hot region (50% of the stream) with genuine
        # substructure: 4 subclusters around axis-0, plus continuous
        # per-vector noise so a 2-means split never degenerates.
        v = [10.0] + [0.0] * (DIM - 1)
        v[1 + (i % 4)] = 2.0
        for d in range(DIM):
            v[d] += ((i * 13 + d * 5) % 11) * 0.02
        return v

    def cold_vec(i):
        v = [0.0] * DIM
        v[2 + (i % 6)] = 10.0
        v[0] = ((i * 3 + 1) % 7) * 0.1
        for d in range(DIM):
            v[d] += ((i * 17 + d * 3) % 11) * 0.02
        return v

    def vec(i):
        return hot_vec(i) if i % 2 == 0 else cold_vec(i)

    vec_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=8)
    seed_ids = list(range(10))
    cents = [(0, hot_vec(0)), (1, cold_vec(1))]
    store.seed(
        spark.createDataFrame([(i, vec(i)) for i in seed_ids], vec_schema),
        spark.createDataFrame(cents, vec_schema),
        "vec_id",
        "emb",
    )
    matches_store = SnapshotStore(
        spark,
        str(tmp_path / "matches-store"),
        key="pair",
        version_col="epoch",
        num_buckets=8,
    )
    inp = tmp_path / "vecs-in"
    inp.mkdir()
    # merge_threshold=0 keeps the policy pure-split so the bound below
    # is exact: a cold-merge may transiently deposit a survivor one or
    # two rows above the split threshold until the NEXT pass splits it
    # (the enforced hysteresis makes that bounded, not oscillating) —
    # the batch-cadence gate queries cover the merge arm.
    SPLIT, MERGE = 8, 0

    def run(ckpt):
        return streaming_ivf_pipeline(
            spark,
            str(inp) + "/*",
            vec_schema,
            store,
            str(tmp_path / "matches"),
            ckpt,
            k=3,
            nprobe=3,
            max_files_per_trigger=1,
            matches_store=matches_store,
            split_threshold=SPLIT,
            merge_threshold=MERGE,
            maintain_every=1,
        )

    def live_cell_sizes():
        meta = store.store.read_meta()
        live = [i for i, _e in meta["centroids"]]
        rows = (
            store.store.read()
            .filter(F.col("cid").isin(live))
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {r.cid: r.n for r in rows}

    q = run(str(tmp_path / "ckpt"))
    max_per_epoch = []
    try:
        for e in range(6):
            ids = range(100 + e * 10, 110 + e * 10)
            spark.createDataFrame(
                [(i, vec(i)) for i in ids], vec_schema
            ).coalesce(1).write.parquet(str(inp / f"b{e}"))
            q.processAllAvailable()
            max_per_epoch.append(max(live_cell_sizes().values()))
    finally:
        q.stop()

    # Flat probe cost: after EVERY maintenance pass no live cell
    # exceeds the split threshold, across 6 epochs of 50%-skewed adds
    # (unmaintained, the hot cell alone would hold 35 of 70 rows).
    assert all(m <= SPLIT for m in max_per_epoch), max_per_epoch
    meta = store.store.read_meta()
    assert len(meta["centroids"]) > 2  # splits actually happened

    # Recall against brute force over the full indexed corpus.
    import math

    corpus = {i: vec(i) for i in list(seed_ids) + list(range(100, 160))}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    queries = [(900 + j, vec(2 * j + 100)) for j in range(8)]
    got = store.search(
        spark.createDataFrame(queries, vec_schema),
        "vec_id",
        "emb",
        k=3,
        nprobe=3,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for qid, qv in queries:
        truth = sorted(
            corpus, key=lambda i: (-cos(corpus[i], qv), i)
        )[:3]
        total += 3
        hits += len(by_q.get(qid, set()) & set(truth))
    assert hits / total >= 0.8, f"recall {hits}/{total}"

    # Forced replay of the LAST epoch (which ran maintenance):
    # maintenance finds every cell within bands and commits nothing,
    # the add LWW-collapses, and the published matches are unchanged.
    import os

    gen_before = store.store.read_meta()["centroid_gen"]

    def logical_index():
        # Newest row per vec_id — the store's LOGICAL content (raw
        # rows may differ: a replayed merge legitimately sheds
        # superseded dead-weight copies from the buckets it touches,
        # the dedup_current self-heal).
        rows = store.store.read().collect()
        newest = {}
        for r in rows:
            cur = newest.get(r.vec_id)
            if cur is None or r.ivf_seq > cur[1]:
                newest[r.vec_id] = (r.cid, r.ivf_seq, r.ivf_vis)
        return sorted((k, *v) for k, v in newest.items())

    idx_before = logical_index()
    m_before = sorted(map(tuple, matches_store.read().drop("_bucket").collect()))
    commits = sorted(
        c
        for c in os.listdir(tmp_path / "ckpt" / "commits")
        if not c.startswith(".")
    )
    os.remove(tmp_path / "ckpt" / "commits" / commits[-1])
    crc = tmp_path / "ckpt" / "commits" / f".{commits[-1]}.crc"
    if crc.exists():
        os.remove(crc)
    q2 = run(str(tmp_path / "ckpt"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # No maintenance re-commits on replay: every cell already within
    # bands, so the policy was a no-op and the generation is stable.
    assert store.store.read_meta()["centroid_gen"] == gen_before
    m_after = sorted(map(tuple, matches_store.read().drop("_bucket").collect()))
    assert m_after == m_before
    # The replayed add LWW-collapses onto the same keys: the logical
    # index (newest row per vec) is identical.
    assert logical_index() == idx_before


def test_streaming_pcm_window_features_maintained(spark, tmp_path):
    """r12 verdict #8, streaming arm: per-window PCM features (sample
    count + energy per 8-sample window index) maintained over a
    stream of WAV assets on the GENERIC crash-safe skeleton — each
    micro-batch's changed assets are decoded (real RIFF parse ->
    per-sample explode), their window contributions added for post
    images and SUBTRACTED for pre images/deletes, and every cycle the
    maintained view equals a from-scratch decode-and-aggregate of the
    whole store."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        audio_samples,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    # 24-sample 8 kHz mono 8-bit clips; sample i = (seed*29+i*13)%256
    # (the multimodal_wav_stats fixture form, bytes built in Python).
    HDR = bytes.fromhex(
        "524946463C00000057415645666D7420100000000100010040"
        "1F0000401F0000010008006461746118000000"
    )

    def wav(seed):
        return HDR + bytes((seed * 29 + i * 13) % 256 for i in range(24))

    schema = T.StructType(
        [
            T.StructField("asset_id", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    inp = tmp_path / "in"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "assets"), key="asset_id", version_col="v",
        num_buckets=4,
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="win", version_col="n",
        num_buckets=2,
    )

    def win_agg(samples):
        dev = F.col("value") - 128
        return samples.groupBy(
            F.floor(F.col("i") / 8).alias("win")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dev * dev).cast("long").alias("energy_sum"),
        )

    def derive(v_after):
        return win_agg(
            audio_samples(
                store.read(version=v_after).select("asset_id", "payload")
            )
        )

    def maintain(reflected, v_after, old_view):
        feed = store.read_changes(reflected, v_after, update_images="both")
        is_post = F.col("_change").isin("insert", "update_postimage")
        signed = lambda df, sgn: win_agg(  # noqa: E731
            audio_samples(df.select("asset_id", "payload"))
        ).select(
            "win",
            (F.col("n") * sgn).alias("n"),
            (F.col("energy_sum") * sgn).alias("energy_sum"),
        )
        delta = (
            signed(feed.filter(is_post), 1)
            .unionByName(signed(feed.filter(~is_post), -1))
            .groupBy("win")
            .agg(
                F.sum("n").alias("_dn"),
                F.sum("energy_sum").alias("_de"),
            )
        )
        return (
            old_view.join(delta, "win", "full_outer")
            .select(
                "win",
                (F.coalesce("n", F.lit(0)) + F.coalesce("_dn", F.lit(0)))
                .alias("n"),
                (
                    F.coalesce("energy_sum", F.lit(0))
                    + F.coalesce("_de", F.lit(0))
                ).alias("energy_sum"),
            )
            .filter(F.col("n") > 0)
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(inp / name)
        )

    def as_d(df):
        return {r.win: (r.n, r.energy_sum) for r in df.collect()}

    q = streaming_maintained_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        derive=derive,
        maintain=maintain,
        max_files_per_trigger=1,
    )
    try:
        drop("b1", [("a1", 1, wav(1)), ("a2", 1, wav(2))])
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(derive(store.current_version()))
        # Insert + a payload UPDATE (a2's clip re-recorded) — the pre
        # image's windows subtract, the post image's add.
        drop("b2", [("a3", 1, wav(7)), ("a2", 2, wav(9))])
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(derive(store.current_version()))
        # Every window has 8 samples per live asset: 3 assets -> 24.
        assert {n for n, _e in as_d(view_store.read()).values()} == {24}
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_joined3_dims_out_of_band(spark, tmp_path):
    """r12 verdict #6: the THREE-table joined view at streaming
    cadence on the N-store skeleton — fact micro-batches stream in
    while BOTH dims commit out of band on their own version counters;
    the published per-group (n, s) must equal a from-scratch three-way
    rejoin after every cycle, the view meta reflects one version per
    store, and a vacuum deeper than the view's lag self-heals with one
    from-scratch derivation (inherited from the skeleton)."""
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_joined3_pipeline,
    )

    FSCH = T.StructType(
        [
            T.StructField("fk", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("cust", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim1 = SnapshotStore(
        spark, str(tmp_path / "cust"), key="ck", version_col="v",
        num_buckets=2,
    )
    dim2 = SnapshotStore(
        spark, str(tmp_path / "nat"), key="nk", version_col="v",
        num_buckets=2,
    )
    view = SnapshotStore(
        spark, str(tmp_path / "view"), key="region", version_col="n",
        num_buckets=2,
    )
    dim1.overwrite(
        spark.createDataFrame(
            [("c1", 1, "n1"), ("c2", 1, "n2")],
            "ck string, v int, nat string",
        )
    )
    dim2.overwrite(
        spark.createDataFrame(
            [("n1", 1, "EU"), ("n2", 1, "US")],
            "nk string, v int, region string",
        )
    )

    def drop(name, rows):
        spark.createDataFrame(rows, FSCH).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def scratch():
        return {
            r.region: (r.n, r.s)
            for r in fact.read()
            .join(dim1.read(), F.col("cust") == F.col("ck"))
            .join(dim2.read(), F.col("nat") == F.col("nk"))
            .groupBy("region")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.round(F.col("price") * 100).cast("long"))
                .cast("long")
                .alias("s"),
            )
            .collect()
        }

    def view_now():
        return {r.region: (r.n, r.s) for r in view.read().collect()}

    drop("b1", [("f1", 1, "c1", 1.0), ("f2", 1, "c1", 2.0), ("f3", 1, "c2", 5.0)])
    q = streaming_maintained_joined3_pipeline(
        spark,
        str(inp) + "/*",
        FSCH,
        fact,
        dim1,
        dim2,
        view,
        str(tmp_path / "ckpt"),
        fact_key_col="cust",
        dim1_key_col="ck",
        dim1_attr_col="nat",
        dim2_key_col="nk",
        group_col="region",
    )
    try:
        q.processAllAvailable()
        assert view_now() == scratch() == {"EU": (2, 300), "US": (1, 500)}
        assert view.read_meta()["store_versions"] == [1, 1, 1]

        # Out-of-band commits on BOTH dims between fact epochs: c1
        # migrates to n2 (dim1 feed), n2 re-regions US -> APAC (dim2
        # feed), and a new customer c3 in a new nation n3 appears.
        dim1.merge(
            spark.createDataFrame(
                [("c1", 2, "n2"), ("c3", 2, "n3")],
                "ck string, v int, nat string",
            )
        )
        dim2.merge(
            spark.createDataFrame(
                [("n2", 2, "APAC"), ("n3", 2, "EU")],
                "nk string, v int, region string",
            )
        )
        drop("b2", [("f4", 1, "c3", 10.0)])
        q.processAllAvailable()
        assert view_now() == scratch() == {"APAC": (3, 800), "EU": (1, 1000)}
        assert view.read_meta()["store_versions"] == [2, 2, 2]

        # Fact removal + insert in one epoch: pure delta algebra.
        fact.merge(
            spark.createDataFrame([], FSCH),
            removed=spark.createDataFrame([("f3",)], "fk string"),
        )
        drop("b3", [("f5", 1, "c1", 0.5)])
        q.processAllAvailable()
        assert view_now() == scratch() == {"APAC": (3, 350), "EU": (1, 1000)}

        # Deep vacuum: two OUT-OF-BAND fact commits push the store two
        # versions past the view's reflected one, then vacuum drops
        # everything but the current version — the next epoch's
        # spanning window starts at a vacuumed version, read_changes
        # raises "not retained", and the skeleton must degrade to
        # derive() (self-heal), then resume incrementally.
        reflected = view.read_meta()["store_versions"][0]
        fact.merge(
            spark.createDataFrame([("x1", 1, "c2", 2.0)], FSCH)
        )
        fact.merge(
            spark.createDataFrame([("x2", 1, "c2", 3.0)], FSCH)
        )
        fact.vacuum(keep=1)
        assert reflected not in fact.versions()  # window IS unreadable
        drop("b4", [("f6", 1, "c2", 1.0)])
        q.processAllAvailable()
        assert view_now() == scratch()
        # ...and the steady state resumes: the next cycle maintains
        # incrementally off the re-stamped reflected versions.
        drop("b5", [("f7", 1, "c2", 1.0)])
        q.processAllAvailable()
        assert view_now() == scratch()
    finally:
        q.stop()


def test_streaming_joined_topk_dim_out_of_band(spark, tmp_path):
    """r12 verdict #6, second twin: per-group joined TOP-K at
    streaming cadence — insert-only cycles are pure O(feed) array
    merges (no recompute, and with the dim unchanged the post-state
    fact store is never read), a dim departure threatens its old group
    and pays exactly one group-pruned rejoin, and every cycle equals
    the from-scratch ranked top-k."""
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_joined_topk_pipeline,
    )
    from pyspark.sql import Window

    FSCH = T.StructType(
        [
            T.StructField("fk", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("cust", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=2,
    )
    view = SnapshotStore(
        spark, str(tmp_path / "view"), key="seg", version_col="n",
        num_buckets=2,
    )
    dim.overwrite(
        spark.createDataFrame(
            [("c1", 1, "A"), ("c2", 1, "B")], "dk string, v int, seg string"
        )
    )
    fact_reads = []
    orig_read = fact.read

    def counting_read(version=None):
        if version is not None:
            fact_reads.append(version)
        return orig_read(version=version)

    fact.read = counting_read

    def drop(name, rows):
        spark.createDataFrame(rows, FSCH).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def scratch():
        cents = F.round(F.col("price") * 100).cast("long")
        w = Window.partitionBy("seg").orderBy(F.desc("_c"))
        return {
            r.seg: (r.n, r.s, tuple(r.topk))
            for r in orig_read()
            .join(dim.read(), F.col("cust") == F.col("dk"))
            .select("seg", cents.alias("_c"))
            .withColumn("_rk", F.row_number().over(w))
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("_c").cast("long").alias("s"),
                F.reverse(
                    F.array_sort(
                        F.collect_list(F.when(F.col("_rk") <= 2, F.col("_c")))
                    )
                ).alias("topk"),
            )
            .collect()
        }

    def view_now():
        return {r.seg: (r.n, r.s, tuple(r.topk)) for r in view.read().collect()}

    drop("b1", [("f1", 1, "c1", 9.0), ("f2", 1, "c1", 5.0), ("f3", 1, "c2", 7.0)])
    q = streaming_maintained_joined_topk_pipeline(
        spark,
        str(inp) + "/*",
        FSCH,
        fact,
        dim,
        view,
        str(tmp_path / "ckpt"),
        fact_key_col="cust",
        dim_key_col="dk",
        group_col="seg",
        k=2,
    )
    try:
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "A": (2, 1400, (900, 500)),
            "B": (1, 700, (700,)),
        }
        assert view.read_meta()["store_versions"] == [1, 1]

        # Insert-only epoch: candidates merge into the stored arrays,
        # the empty dim window adds no term (so the post-state fact is
        # never read) and the recompute rejoin never fires.
        n_reads = len(fact_reads)
        drop("b2", [("f4", 1, "c1", 7.0), ("f5", 1, "c2", 8.0)])
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "A": (3, 2100, (900, 700)),
            "B": (2, 1500, (800, 700)),
        }
        assert len(fact_reads) == n_reads  # no dim term, no rebase

        # Out-of-band dim departure: c1 leaves A for B — A's whole
        # contribution (incl. its stored top-2) withdraws, the horizon
        # rule forces A's (and target B's values enter as candidates)
        # group-pruned recompute; equality proves both directions.
        dim.merge(
            spark.createDataFrame(
                [("c1", 2, "B")], "dk string, v int, seg string"
            )
        )
        drop("b3", [("f6", 1, "c2", 1.0)])
        q.processAllAvailable()
        assert view_now() == scratch() == {
            "B": (6, 3700, (900, 800)),
        }
    finally:
        q.stop()


def test_streaming_maintained_pipeline_dyadic_rank_sketch(spark, tmp_path):
    """The generic maintained-view stream with the DYADIC rank-sketch
    algebra plugged in (r13): maintained per-level cells bit-equal a
    from-scratch dyadic sketch after every epoch — including an
    out-of-band delete window (turnstile) — and the base store is
    never read after the first derivation (fully distributive, like
    the flat CMS twin)."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_bucket,
        maintain_dyadic_cms,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    L, D, W = 4, 2, 8
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("val", T.LongType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key=["lvl", "d", "bucket"],
        version_col="cnt", num_buckets=2, bucket_key="bucket",
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read

    def sketch_of(df):
        lvls = F.array(*[F.lit(x).cast("long") for x in range(L)])
        ds = F.array(*[F.lit(d).cast("long") for d in range(D)])
        return (
            df.select("val", F.explode(lvls).alias("lvl"))
            .select(
                "lvl",
                F.floor(F.col("val") / F.pow(F.lit(2), F.col("lvl")))
                .cast("long")
                .alias("_node"),
            )
            .select("lvl", "_node", F.explode(ds).alias("d"))
            .select(
                "lvl",
                "d",
                dyadic_bucket(
                    F.col("lvl"), F.col("d"), F.col("_node"), W
                ).alias("bucket"),
            )
            .groupBy("lvl", "d", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def derive(v_after):
        return sketch_of(orig_read(version=v_after))

    def maintain(reflected, v_after, old_view):
        return maintain_dyadic_cms(
            store, reflected, v_after, F.col("val"),
            levels=L, depth=D, width=W, old_cells=old_view,
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    as_d = lambda df: {  # noqa: E731
        (r.lvl, r.d, r.bucket): r.cnt for r in df.collect()
    }

    drop("b1", [(1, 1, 3), (2, 1, 5), (3, 1, 9)])
    q = streaming_maintained_pipeline(
        spark, str(inp) + "/*", schema, store, view_store,
        str(tmp_path / "ckpt"), derive=derive, maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))
        assert versioned_reads == []  # derive() used orig_read

        drop("b2", [(4, 1, 15), (1, 2, 8)])  # add + node-crossing move
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))

        # out-of-band delete window spans into the next epoch
        store.merge(
            spark.createDataFrame([], schema),
            removed=spark.createDataFrame([(2,)], "k long"),
        )
        drop("b3", [(5, 1, 0)])
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))
        assert versioned_reads == []  # turnstile: no recompute branch
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_ivf_growth_hint_triggers_early_maintenance(
    spark, tmp_path
):
    """The O(delta) maintenance trigger: with the cadence fallback
    effectively disabled (maintain_every=1000), fast-building skew
    must still be repaired — the add path's per-cell growth hint
    fires maintain_cells as soon as some cell's accumulated adds
    reach split_threshold // 2, keeping every live cell below ~1.5x
    the split threshold with NO per-epoch O(live cells) count pass on
    cold epochs."""
    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        IvfIndexStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_ivf_pipeline,
    )

    DIM = 8

    def hot_vec(i):
        v = [10.0] + [0.0] * (DIM - 1)
        v[1 + (i % 4)] = 2.0
        for d in range(DIM):
            v[d] += ((i * 13 + d * 5) % 11) * 0.02
        return v

    def cold_vec(i):
        v = [0.0] * DIM
        v[2 + (i % 6)] = 10.0
        for d in range(DIM):
            v[d] += ((i * 17 + d * 3) % 11) * 0.02
        return v

    def vec(i):
        return hot_vec(i) if i % 2 == 0 else cold_vec(i)

    vec_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=8)
    store.seed(
        spark.createDataFrame([(i, vec(i)) for i in range(6)], vec_schema),
        spark.createDataFrame(
            [(0, hot_vec(0)), (1, cold_vec(1))], vec_schema
        ),
        "vec_id",
        "emb",
    )
    inp = tmp_path / "in"
    inp.mkdir()
    SPLIT = 8
    q = streaming_ivf_pipeline(
        spark,
        str(inp) + "/*",
        vec_schema,
        store,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
        k=2,
        nprobe=2,
        max_files_per_trigger=1,
        split_threshold=SPLIT,
        merge_threshold=0,
        maintain_every=1000,  # cadence effectively OFF: only the hint
    )
    try:
        for e in range(5):
            ids = range(100 + e * 10, 110 + e * 10)
            spark.createDataFrame(
                [(i, vec(i)) for i in ids], vec_schema
            ).coalesce(1).write.parquet(str(inp / f"b{e}"))
            q.processAllAvailable()
            meta = store.store.read_meta()
            live = [i for i, _e2 in meta["centroids"]]
            sizes = (
                store.store.read()
                .filter(F.col("cid").isin(live))
                .groupBy("cid")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            # The hint keeps cells bounded by ~1.5x the split band
            # even though the cadence never fires.
            assert max(r.n for r in sizes) <= SPLIT + SPLIT // 2, (
                e,
                sorted(r.n for r in sizes),
            )
    finally:
        q.stop()
    # Maintenance genuinely ran (the hint fired): the centroid set
    # grew past the 2 seeds.
    assert len(store.store.read_meta()["centroids"]) > 2


@pytest.mark.slow
def test_streaming_nstore_replay_is_idempotent(spark, tmp_path):
    """Forced replay of the N-store skeleton's last epoch (checkpoint
    commit deleted): the re-merged batch LWW-collapses, every store's
    spanning window reads empty, and the epoch SKIPS the publish — the
    view content, its reflected store_versions meta, and the view
    version count are all byte-stable."""
    import os

    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_joined_topk_pipeline,
    )

    FSCH = T.StructType(
        [
            T.StructField("fk", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("cust", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    inp = tmp_path / "in"
    inp.mkdir()
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=2,
    )
    view = SnapshotStore(
        spark, str(tmp_path / "view"), key="seg", version_col="n",
        num_buckets=2,
    )
    dim.overwrite(
        spark.createDataFrame(
            [("c1", 1, "A"), ("c2", 1, "B")], "dk string, v int, seg string"
        )
    )

    def run(ckpt):
        q = streaming_maintained_joined_topk_pipeline(
            spark, str(inp) + "/*", FSCH, fact, dim, view, ckpt,
            fact_key_col="cust", dim_key_col="dk", group_col="seg", k=2,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    spark.createDataFrame(
        [("f1", 1, "c1", 9.0), ("f2", 1, "c2", 7.0)], FSCH
    ).coalesce(1).write.parquet(str(inp / "b1"))
    run(str(tmp_path / "ckpt"))
    spark.createDataFrame(
        [("f3", 1, "c1", 4.0)], FSCH
    ).coalesce(1).write.parquet(str(inp / "b2"))
    run(str(tmp_path / "ckpt"))

    before = sorted(
        (r.seg, r.n, r.s, tuple(r.topk)) for r in view.read().collect()
    )
    meta_before = view.read_meta()["store_versions"]
    vview = view.current_version()

    commits = sorted(
        c
        for c in os.listdir(tmp_path / "ckpt" / "commits")
        if not c.startswith(".")
    )
    os.remove(tmp_path / "ckpt" / "commits" / commits[-1])
    crc = tmp_path / "ckpt" / "commits" / f".{commits[-1]}.crc"
    if crc.exists():
        os.remove(crc)
    run(str(tmp_path / "ckpt"))

    after = sorted(
        (r.seg, r.n, r.s, tuple(r.topk)) for r in view.read().collect()
    )
    assert after == before
    assert view.current_version() == vview  # publish skipped
    assert view.read_meta()["store_versions"] == meta_before


@pytest.mark.slow
def test_streaming_maintained_pipeline_grouped_rank_sketch(spark, tmp_path):
    """The generic maintained-view stream with the GROUPED dyadic
    rank-sketch algebra plugged in: per-stratum cells (including a
    NULL stratum) bit-equal a from-scratch grouped sketch after every
    epoch, deletes subtract, and the base store is never read after
    the first derivation."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_bucket,
        maintain_dyadic_cms,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    L, D, W = 4, 2, 16
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.LongType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="k", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key=["grp", "lvl", "d", "bucket"],
        version_col="cnt", num_buckets=2, bucket_key="bucket",
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read

    def sketch_of(df):
        lvls = F.array(*[F.lit(x).cast("long") for x in range(L)])
        ds = F.array(*[F.lit(d).cast("long") for d in range(D)])
        return (
            df.select("grp", "val", F.explode(lvls).alias("lvl"))
            .select(
                "grp",
                "lvl",
                F.floor(F.col("val") / F.pow(F.lit(2), F.col("lvl")))
                .cast("long")
                .alias("_node"),
            )
            .select("grp", "lvl", "_node", F.explode(ds).alias("d"))
            .select(
                "grp",
                "lvl",
                "d",
                dyadic_bucket(
                    F.col("lvl"), F.col("d"), F.col("_node"), W
                ).alias("bucket"),
            )
            .groupBy("grp", "lvl", "d", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def derive(v_after):
        return sketch_of(orig_read(version=v_after))

    def maintain(reflected, v_after, old_view):
        return maintain_dyadic_cms(
            store, reflected, v_after, F.col("val"),
            levels=L, depth=D, width=W, old_cells=old_view,
            group_cols=["grp"],
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    as_d = lambda df: {  # noqa: E731
        (r.grp, r.lvl, r.d, r.bucket): r.cnt for r in df.collect()
    }

    drop("b1", [(1, 1, "en", 3), (2, 1, None, 5), (3, 1, "fr", 9)])
    q = streaming_maintained_pipeline(
        spark, str(inp) + "/*", schema, store, view_store,
        str(tmp_path / "ckpt"), derive=derive, maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))
        assert versioned_reads == []

        # add + a value move inside the NULL stratum
        drop("b2", [(4, 1, "en", 15), (2, 2, None, 8)])
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))

        # out-of-band delete of a whole stratum member
        store.merge(
            spark.createDataFrame([], schema),
            removed=spark.createDataFrame([(3,)], "k long"),
        )
        drop("b3", [(5, 1, "fr", 1)])
        q.processAllAvailable()
        assert as_d(view_store.read()) == as_d(sketch_of(orig_read()))
        assert versioned_reads == []  # turnstile: no recompute branch
    finally:
        q.stop()


def test_no_inline_dedup_window_outside_dedup_newest():
    """The one-dedup-implementation invariant (r13 verdict #7): every
    foreachBatch path must dedup a micro-batch through _dedup_newest —
    the r12 bug class was an INLINE version-only window (arbitrary
    equal-version winner -> nondeterministic replays), and this pins
    it out structurally: any function in streaming/pipeline.py other
    than _dedup_newest that builds a Window.partitionBy in the same
    statement chain as a reference to a store's ``version_col`` is a
    re-introduced inline dedup and fails here."""
    import ast
    import inspect

    import fs_indexer_elasticsearch_spark.streaming.pipeline as mod

    tree = ast.parse(inspect.getsource(mod))

    def has_partition_by(node) -> bool:
        for n in ast.walk(node):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "partitionBy"
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id == "Window"
            ):
                return True
        return False

    def references_version_col(node) -> bool:
        return any(
            isinstance(n, ast.Attribute) and n.attr == "version_col"
            for n in ast.walk(node)
        )

    offenders = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if fn.name == "_dedup_newest":
            continue
        # Statement grain: a window built and ordered in one statement
        # that also touches version_col is the inline-dedup shape.
        for stmt in ast.walk(fn):
            if not isinstance(stmt, (ast.Assign, ast.Expr, ast.Return)):
                continue
            if has_partition_by(stmt) and references_version_col(stmt):
                offenders.append((fn.name, stmt.lineno))
    assert not offenders, (
        "inline version-ordered dedup window(s) outside _dedup_newest "
        f"in streaming/pipeline.py: {offenders} — route micro-batch "
        "dedup through _dedup_newest (deterministic full-column "
        "tiebreak) instead"
    )


def test_streaming_ivf_refuses_mismatched_seq_stride(spark, tmp_path):
    """Seq-scheme guard (r13 advice): a store seeded under a different
    per-epoch seq stride must be refused up front — replaying its
    checkpoints under the current stamping would admit rows from old
    epochs into bounded searches. A store with no stamp at all is
    refused the same way: seed() always stamps it. Also pins that
    seed() stamps the stride into the meta at all."""
    import pytest as _pytest

    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        IVF_SEQ_STRIDE,
        IvfIndexStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_ivf_pipeline,
    )

    def vec(i):
        return [float(((i * 31 + d * 7) % 13) - 6) for d in range(8)]

    vec_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=4)
    store.seed(
        spark.createDataFrame([(i, vec(i)) for i in range(8)], vec_schema),
        spark.createDataFrame([(i, vec(i)) for i in range(2)], vec_schema),
        "vec_id",
        "emb",
    )
    assert (store.store.read_meta() or {})["ivf_seq_stride"] == IVF_SEQ_STRIDE

    # Doctor the stamped stride to simulate an index built by a code
    # version with a different scheme, then drop the stamp entirely.
    orig = store.store.read_meta
    doctored = [
        lambda *a, **kw: {**orig(*a, **kw), "ivf_seq_stride": IVF_SEQ_STRIDE * 2},
        lambda *a, **kw: {
            k: v for k, v in orig(*a, **kw).items() if k != "ivf_seq_stride"
        },
    ]
    for read_meta in doctored:
        store.store.read_meta = read_meta
        with _pytest.raises(ValueError, match="seq stride"):
            streaming_ivf_pipeline(
                spark,
                str(tmp_path / "vecs-in") + "/*",
                vec_schema,
                store,
                str(tmp_path / "matches"),
                str(tmp_path / "ckpt"),
            )


def test_streaming_maintained_bm25(spark, tmp_path):
    """Incremental BM25 at streaming cadence (r13 verdict #5): the
    serving state — query-term postings + the turnstile (n_docs,
    sum_dl) normalizer — rides the generic maintained-view skeleton,
    encoded as ONE tagged view frame (stats under the sentinel
    doc_id=-1). Every epoch's served top-k equals a from-scratch BM25
    over the post-state corpus, including through an out-of-band
    DELETE merged directly into the base store (the turnstile
    subtraction the batch recompute can't fake)."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        bm25_postings_of,
        bm25_topk,
        maintain_bm25,
    )
    from fs_indexer_elasticsearch_spark.functions.text import tokens
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    TERMS = ["spark", "join", "window"]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="doc_id", version_col="v",
        num_buckets=4,
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="doc_id", version_col="tf",
        num_buckets=2,
    )

    def encode(postings, stats):
        p = postings.select("doc_id", "dl", "term", "tf")
        s = stats.select(
            F.lit(-1).cast("long").alias("doc_id"),
            F.col("n_docs").cast("long").alias("dl"),
            F.lit(None).cast("string").alias("term"),
            F.col("sum_dl").cast("long").alias("tf"),
        )
        return p.unionByName(s)

    def decode(view):
        postings = view.filter(F.col("doc_id") >= 0)
        stats = view.filter(F.col("doc_id") == -1).select(
            F.col("dl").alias("n_docs"), F.col("tf").alias("sum_dl")
        )
        return postings, stats

    def derive(v_after):
        base = store.read(version=v_after)
        postings = bm25_postings_of(base, "doc_id", "text", TERMS)
        stats = base.select(tokens(F.col("text")).alias("tk")).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size("tk")), F.lit(0))
            .cast("long")
            .alias("sum_dl"),
        )
        return encode(postings, stats)

    def maintain(reflected, v_after, old_view):
        old_postings, old_stats = decode(old_view)
        postings, stats = maintain_bm25(
            store, reflected, v_after,
            id_col="doc_id", text_col="text", terms=TERMS,
            old_postings=old_postings, old_stats=old_stats,
        )
        return encode(postings, stats)

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def served():
        return [
            (r.doc_id, r.bm25)
            for r in bm25_topk(*decode(view_store.read()), k=5).collect()
        ]

    def scratch():
        base = store.read()
        postings = bm25_postings_of(base, "doc_id", "text", TERMS)
        stats = base.select(tokens(F.col("text")).alias("tk")).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size("tk")), F.lit(0))
            .cast("long")
            .alias("sum_dl"),
        )
        return [
            (r.doc_id, r.bm25)
            for r in bm25_topk(postings, stats, k=5).collect()
        ]

    drop(
        "b1",
        [
            (1, 1, "spark join spark window fast"),
            (2, 1, "window shuffle"),
            (3, 1, "no relevant terms here at all"),
            (4, 1, "join join join spark"),
        ],
    )
    q = streaming_maintained_pipeline(
        spark, str(inp) + "/*", schema, store, view_store,
        str(tmp_path / "ckpt"), derive=derive, maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert served() == scratch()

        # update doc 1 (drops a query term), insert doc 5
        drop(
            "b2",
            [
                (1, 2, "plain text now"),
                (5, 1, "spark window join window"),
            ],
        )
        q.processAllAvailable()
        assert served() == scratch()

        # out-of-band DELETE of doc 4 (merged straight into the base
        # store) + another insert: the next epoch's spanning window
        # must subtract doc 4's postings AND its length from the
        # turnstile stats.
        store.merge(
            spark.createDataFrame([], schema),
            removed=spark.createDataFrame([(4,)], "doc_id long"),
        )
        drop("b3", [(6, 1, "window window spark")])
        q.processAllAvailable()
        assert served() == scratch()
    finally:
        q.stop()


def test_streaming_bm25_standing_queries(spark, tmp_path):
    """Streaming cadence of the open-vocabulary BM25 index (r14):
    each micro-batch is ADDED to the term-bucketed postings store,
    then every standing query is re-served top-k from the post-epoch
    index — per epoch the served scores equal a from-scratch BM25
    over the corpus-so-far, and the keyed matches sink holds exactly
    one row per (query, doc, epoch)."""
    from fs_indexer_elasticsearch_spark.functions.text import tokens
    from fs_indexer_elasticsearch_spark.operators.incremental_bm25 import (
        Bm25IndexStore,
    )
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        bm25_postings_of,
        bm25_topk,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_bm25_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    st = Bm25IndexStore(spark, str(tmp_path / "bm25"), num_buckets=8)
    st.seed(
        spark.createDataFrame(
            [(1, "spark join spark window"), (2, "window shuffle")], schema
        ),
        "doc_id",
        "text",
    )
    matches_store = SnapshotStore(
        spark,
        str(tmp_path / "matches"),
        key="pair",
        version_col="epoch",
        num_buckets=4,
    )
    QUERIES = [("q_sj", ["spark", "join"]), ("q_w", ["window"])]
    seen: list[tuple] = []

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def scratch(corpus_rows, terms):
        cur = spark.createDataFrame(corpus_rows, schema)
        postings = bm25_postings_of(cur, "doc_id", "text", terms)
        stats = cur.select(tokens(F.col("text")).alias("tk")).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size("tk")), F.lit(0))
            .cast("long")
            .alias("sum_dl"),
        )
        return {
            (r.doc_id, r.bm25)
            for r in bm25_topk(postings, stats, k=3).collect()
        }

    corpus = [(1, "spark join spark window"), (2, "window shuffle")]
    drop("b1", [(3, "join join spark")])
    q = streaming_bm25_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        st,
        str(tmp_path / "m-parquet"),
        str(tmp_path / "ckpt"),
        standing_queries=QUERIES,
        k=3,
        matches_store=matches_store,
    )
    try:
        q.processAllAvailable()
        corpus += [(3, "join join spark")]
        rows = matches_store.read().collect()
        latest = max(r.epoch for r in rows)
        for qid, terms in QUERIES:
            got = {
                (r.doc_id, r.bm25)
                for r in rows
                if r.query_id == qid and r.epoch == latest
            }
            assert got == scratch(corpus, terms), (qid, latest)

        drop("b2", [(4, "window window window"), (5, "spark")])
        q.processAllAvailable()
        corpus += [(4, "window window window"), (5, "spark")]
        rows = matches_store.read().collect()
        latest = max(r.epoch for r in rows)
        for qid, terms in QUERIES:
            got = {
                (r.doc_id, r.bm25)
                for r in rows
                if r.query_id == qid and r.epoch == latest
            }
            assert got == scratch(corpus, terms), (qid, latest)
        # effectively-once: the keyed sink holds exactly one row per
        # (query, doc, epoch)
        keys = [(r.query_id, r.doc_id, r.epoch) for r in rows]
        assert len(keys) == len(set(keys))
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_ivf_maintenance_large_regime_sidecar(spark, tmp_path):
    """The streaming growth-hint maintenance against a LARGE-REGIME
    (sidecar-backed) IVF store (r14): k > CENTROID_META_MAX tips the
    index into the parquet-sidecar representation, and the streaming
    feeder's hint-triggered maintain_cells must commit the split
    through the DataFrame centroid-set path — sidecar + O(1) meta
    updated under the same pinned merge, no vector lost, hot cell
    bounded — with the cadence effectively off."""
    import json

    from fs_indexer_elasticsearch_spark.operators.incremental_ann import (
        CENTROID_META_MAX,
        IvfIndexStore,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_ivf_pipeline,
    )

    DIM = 4
    k = CENTROID_META_MAX + 1
    vec_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    # centroid 0 owns the +first-axis direction; all others negative.
    cents = spark.createDataFrame(
        [(0, [1000.0, 0.0, 0.0, 0.0])]
        + [
            (
                i,
                [
                    -1000.0 - (i % 50),
                    float((i * 7) % 23),
                    float((i * 11) % 29),
                    float((i * 13) % 31),
                ],
            )
            for i in range(1, k)
        ],
        vec_schema,
    )

    def hot_vec(i):
        return [
            1000.0,
            float((i * 3) % 17),
            float((i * 5) % 19),
            float((i * 7) % 13),
        ]

    store = IvfIndexStore(spark, str(tmp_path / "ivf"), num_buckets=8)
    store.seed(
        spark.createDataFrame([(i, hot_vec(i)) for i in range(4)], vec_schema),
        cents,
        "vec_id",
        "emb",
    )
    assert "centroids_ref" in store.store.read_meta()

    inp = tmp_path / "in"
    inp.mkdir()
    SPLIT = 8
    q = streaming_ivf_pipeline(
        spark,
        str(inp) + "/*",
        vec_schema,
        store,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
        k=2,
        nprobe=2,
        max_files_per_trigger=1,
        split_threshold=SPLIT,
        merge_threshold=0,
        maintain_every=1000,  # cadence off: only the growth hint
    )
    fed = {i for i in range(4)}
    try:
        for e in range(3):
            ids = list(range(100 + e * 10, 108 + e * 10))
            spark.createDataFrame(
                [(i, hot_vec(i)) for i in ids], vec_schema
            ).coalesce(1).write.parquet(str(inp / f"b{e}"))
            fed |= set(ids)
            q.processAllAvailable()
            meta = store.store.read_meta()
            assert "centroids" not in meta  # regime sticky
            # live-cell sizes via the sidecar frame (no meta rows)
            live = F.broadcast(
                store.centroids().select(F.col("vec_id").alias("cid"))
            )
            sizes = (
                store.store.read()
                .join(live, "cid", "semi")
                .groupBy("cid")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            assert max(r.n for r in sizes) <= SPLIT + SPLIT // 2, (
                e,
                sorted(r.n for r in sizes)[-5:],
            )
        # splits actually happened, sidecar followed, meta stayed O(1)
        meta = store.store.read_meta()
        assert meta["centroid_count"] > k
        assert len(json.dumps(meta)) < 2048
        # no vector lost across hint-triggered maintenance commits
        live_ids = {
            r.vec_id
            for r in store.store.read()
            .join(
                F.broadcast(
                    store.centroids().select(F.col("vec_id").alias("cid"))
                ),
                "cid",
                "semi",
            )
            .select("vec_id")
            .collect()
        }
        assert live_ids == fed
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_maintained_pipeline_asof_view(spark, tmp_path):
    """The AS-OF algebra on the generic maintained-view skeleton — the
    streaming twin of incremental_view_asof: each micro-batch merges
    into the base events store, then the materialized as-of view
    (purchase -> most recent same-user click at-or-before) advances
    via maintain_asof_view's touched-key slice recompute. Every cycle
    must equal a from-scratch as-of over the post state, including the
    re-match cycle where an UPDATE moves the matched click earlier in
    time (pre- and post-image users both count as touched)."""
    from fs_indexer_elasticsearch_spark.operators.timejoin import (
        asof_join,
        maintain_asof_view,
    )
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("u", T.LongType()),
            T.StructField("t", T.LongType()),
            T.StructField("typ", T.StringType()),
            T.StructField("px", T.DoubleType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="id", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="id", version_col="t", num_buckets=2
    )

    def sides(state):
        left = state.filter(F.col("typ") == "p").select("id", "u", "t")
        right = (
            state.filter(F.col("typ") == "c")
            .groupBy("u", "t")
            .agg(F.max("px").alias("px"))
        )
        return left, right

    def derive(v_after):
        left, right = sides(store.read(version=v_after))
        return asof_join(left, right, on="t", by="u", value_cols=["px"])

    def maintain(reflected, v_after, old_view):
        feed = store.read_changes(reflected, v_after, update_images="both")
        touched = feed.select("u").distinct()
        left, right = sides(store.read(version=v_after))
        return maintain_asof_view(
            old_view, left, right, touched, on="t", by="u", value_cols=["px"]
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {r.id: r.right_px for r in view_store.read().collect()}

    def scratch():
        left, right = sides(store.read())
        return {
            r.id: r.right_px
            for r in asof_join(
                left, right, on="t", by="u", value_cols=["px"]
            ).collect()
        }

    drop(
        "b1",
        [
            ("p1", 1, 1, 25, "p", None),
            ("c1", 1, 1, 10, "c", 100.0),
            ("c2", 1, 1, 20, "c", 200.0),
            ("p2", 1, 2, 25, "p", None),
            ("c3", 1, 2, 10, "c", 900.0),
        ],
    )
    q = streaming_maintained_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        derive=derive,
        maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert view_now() == {"p1": 200.0, "p2": 900.0}
        assert view_now() == scratch()

        # insert-only: a later click for u1 re-matches p1; p2 (user 2,
        # untouched) carries forward through the anti-join verbatim
        drop("b2", [("c4", 1, 1, 22, "c", 150.0)])
        q.processAllAvailable()
        assert view_now() == {"p1": 150.0, "p2": 900.0}
        assert view_now() == scratch()

        # re-match via UPDATE: c4 moves to t=5 (before c2), so p1 must
        # fall BACK to c2's 200 — the delete/move re-match case slice
        # recomputation handles and per-row algebra can't
        drop("b3", [("c4", 2, 1, 5, "c", 150.0)])
        q.processAllAvailable()
        assert view_now() == {"p1": 200.0, "p2": 900.0}
        assert view_now() == scratch()

        # new purchase for a brand-new user with no clicks: NULL match
        drop("b4", [("p3", 1, 3, 30, "p", None)])
        q.processAllAvailable()
        assert view_now() == {"p1": 200.0, "p2": 900.0, "p3": None}
        assert view_now() == scratch()
    finally:
        q.stop()


def test_streaming_maintained_pipeline_sessions_view(spark, tmp_path):
    """The KEYED-SLICE algebra on the generic maintained-view skeleton
    — the streaming twin of incremental_view_sessions: micro-batches
    merge into the base store, then the materialized session view
    advances via maintain_keyed_slices' touched-user slice recompute.
    Exercises the two hard session mutations at streaming cadence: an
    insert that MERGES two sessions, and an UPDATE that moves the
    bridging event away, SPLITTING them back. Every cycle must equal
    from-scratch sessionization over the post state."""
    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_keyed_slices
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("u", T.LongType()),
            T.StructField("t", T.LongType()),  # minutes
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="id", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="sid", version_col="start",
        num_buckets=2,
    )

    def sess(df):
        ev = df.select("u", F.timestamp_seconds(F.col("t") * 60).alias("ts"))
        return (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "u")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "u",
                F.col("w.start").cast("long").alias("start"),
                "n",
            )
            .withColumn("sid", F.concat_ws("#", "u", "start"))
        )

    def derive(v_after):
        return sess(store.read(version=v_after))

    def maintain(reflected, v_after, old_view):
        feed = store.read_changes(reflected, v_after, update_images="both")
        touched = feed.select("u").distinct()
        post = store.read(version=v_after)
        return maintain_keyed_slices(
            old_view,
            touched,
            "u",
            lambda tk: sess(post.join(tk, ["u"], "left_semi")),
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {(r.u, r.start, r.n) for r in view_store.read().collect()}

    def scratch():
        return {(r.u, r.start, r.n) for r in sess(store.read()).collect()}

    # u1: events at minute 0 and 60 -> two sessions; u2: one session
    drop("b1", [("e1", 1, 1, 0), ("e2", 1, 1, 60), ("e3", 1, 2, 0)])
    q = streaming_maintained_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        derive=derive,
        maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert view_now() == {(1, 0, 1), (1, 3600, 1), (2, 0, 1)}
        assert view_now() == scratch()

        # MERGE: a bridge at minute 30 folds u1's two sessions into one
        drop("b2", [("e4", 1, 1, 30)])
        q.processAllAvailable()
        assert view_now() == {(1, 0, 3), (2, 0, 1)}
        assert view_now() == scratch()

        # SPLIT: the bridge MOVES to minute 120 (same id, higher v) —
        # u1 splits back into three sessions; u2 untouched carries
        # forward verbatim
        drop("b3", [("e4", 2, 1, 120)])
        q.processAllAvailable()
        assert view_now() == {
            (1, 0, 1),
            (1, 3600, 1),
            (1, 7200, 1),
            (2, 0, 1),
        }
        assert view_now() == scratch()
    finally:
        q.stop()


def test_streaming_maintained_pipeline_retention_view(spark, tmp_path):
    """The retention-triangle decomposition at streaming cadence: the
    maintained object is the per-user contribution frame (distinct
    active weeks + cohort tag) on the keyed-slice algebra; each cycle
    the frame must equal a from-scratch recompute over the post state
    — including the cohort-RETAG cycle where an update moves a user's
    first activity later (their whole cohort column changes)."""
    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_keyed_slices
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("u", T.LongType()),
            T.StructField("wk", T.LongType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="id", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="cid", version_col="wk",
        num_buckets=2,
    )

    def contrib(df):
        w = df.select("u", "wk").distinct()
        c = w.groupBy("u").agg(F.min("wk").alias("cohort"))
        return (
            w.join(c, "u")
            .select("u", "wk", "cohort")
            .withColumn("cid", F.concat_ws("#", "u", "wk"))
        )

    def derive(v_after):
        return contrib(store.read(version=v_after))

    def maintain(reflected, v_after, old_view):
        feed = store.read_changes(reflected, v_after, update_images="both")
        touched = feed.select("u").distinct()
        post = store.read(version=v_after)
        return maintain_keyed_slices(
            old_view,
            touched,
            "u",
            lambda tk: contrib(post.join(tk, ["u"], "left_semi")),
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {(r.u, r.wk, r.cohort) for r in view_store.read().collect()}

    def scratch():
        return {(r.u, r.wk, r.cohort) for r in contrib(store.read()).collect()}

    # u1 active weeks {0, 2}; u2 active {1}
    drop("b1", [("a", 1, 1, 0), ("b", 1, 1, 2), ("c", 1, 2, 1)])
    q = streaming_maintained_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        derive=derive,
        maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert view_now() == {(1, 0, 0), (1, 2, 0), (2, 1, 1)}
        assert view_now() == scratch()

        # RETAG: u1's first activity MOVES from week 0 to week 5 (same
        # id, higher v) — the cohort of u1's remaining week-2 row must
        # flip 0 -> 2; u2 carries forward untouched
        drop("b2", [("a", 2, 1, 5)])
        q.processAllAvailable()
        assert view_now() == {(1, 2, 2), (1, 5, 2), (2, 1, 1)}
        assert view_now() == scratch()

        # growth: a new week for u2 keeps its cohort stable
        drop("b3", [("d", 1, 2, 4)])
        q.processAllAvailable()
        assert view_now() == {(1, 2, 2), (1, 5, 2), (2, 1, 1), (2, 4, 1)}
        assert view_now() == scratch()
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_maintained_pipeline_funnel_view(spark, tmp_path):
    """The ordered-funnel algebra at streaming cadence on the generic
    maintained-view skeleton: the maintained object is the per-user
    (t1, t2, t3) step table on the keyed-slice algebra. Exercises the
    step-CASCADE cycle per-row patching cannot express: an update that
    moves the first view LATER resurrects nothing — the click that was
    'after t1' may now precede it, so t2/t3 must recompute downstream.
    Every cycle must equal a from-scratch funnel over the post state."""
    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_keyed_slices
    from fs_indexer_elasticsearch_spark.streaming.pipeline import (
        streaming_maintained_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("u", T.LongType()),
            T.StructField("t", T.LongType()),
            T.StructField("typ", T.StringType()),
        ]
    )
    inp = tmp_path / "incoming"
    inp.mkdir()
    store = SnapshotStore(
        spark, str(tmp_path / "base"), key="id", version_col="v", num_buckets=4
    )
    view_store = SnapshotStore(
        spark, str(tmp_path / "view"), key="u", version_col="t1", num_buckets=2
    )

    def funnel(df):
        ev = df.select(
            "u",
            F.timestamp_seconds(F.col("t")).alias("ts"),
            F.col("typ"),
        )
        v = (
            ev.filter(F.col("typ") == "view")
            .groupBy("u")
            .agg(F.min("ts").alias("t1"))
        )
        c = (
            ev.filter(F.col("typ") == "click")
            .join(v, "u")
            .filter(F.col("ts") > F.col("t1"))
            .groupBy("u")
            .agg(F.min("ts").alias("t2"))
        )
        p = (
            ev.filter(F.col("typ") == "purchase")
            .join(c, "u")
            .filter(F.col("ts") > F.col("t2"))
            .groupBy("u")
            .agg(F.min("ts").alias("t3"))
        )
        return (
            v.join(c, "u", "left")
            .join(p, "u", "left")
            .select("u", F.col("t1").cast("long").alias("t1"),
                    F.col("t2").cast("long").alias("t2"),
                    F.col("t3").cast("long").alias("t3"))
        )

    def derive(v_after):
        return funnel(store.read(version=v_after))

    def maintain(reflected, v_after, old_view):
        feed = store.read_changes(reflected, v_after, update_images="both")
        touched = feed.select("u").distinct()
        post = store.read(version=v_after)
        return maintain_keyed_slices(
            old_view,
            touched,
            "u",
            lambda tk: funnel(post.join(tk, ["u"], "left_semi")),
        )

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / name))

    def view_now():
        return {(r.u, r.t1, r.t2, r.t3) for r in view_store.read().collect()}

    def scratch():
        return {(r.u, r.t1, r.t2, r.t3) for r in funnel(store.read()).collect()}

    # u1 completes the funnel: view@10, click@20, purchase@30
    drop(
        "b1",
        [
            ("e1", 1, 1, 10, "view"),
            ("e2", 1, 1, 20, "click"),
            ("e3", 1, 1, 30, "purchase"),
        ],
    )
    q = streaming_maintained_pipeline(
        spark,
        str(inp) + "/*",
        schema,
        store,
        view_store,
        str(tmp_path / "ckpt"),
        derive=derive,
        maintain=maintain,
    )
    try:
        q.processAllAvailable()
        assert view_now() == {(1, 10, 20, 30)}
        assert view_now() == scratch()

        # CASCADE: the first view MOVES past the click (t=25) — the
        # click at 20 no longer follows t1, so t2 must fall to NULL
        # and t3 cascades to NULL with it
        drop("b2", [("e1", 2, 1, 25, "view")])
        q.processAllAvailable()
        assert view_now() == {(1, 25, None, None)}
        assert view_now() == scratch()

        # a later click re-arms the funnel; purchase@30 now precedes
        # the new click, so t3 stays NULL
        drop("b3", [("e4", 1, 1, 40, "click")])
        q.processAllAvailable()
        assert view_now() == {(1, 25, 40, None)}
        assert view_now() == scratch()
    finally:
        q.stop()
