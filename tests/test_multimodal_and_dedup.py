"""Multimodal binary plumbing + dedup/similarity operator invariants."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fs_indexer_elasticsearch_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
)
from fs_indexer_elasticsearch_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    sample_frames,
)
from fs_indexer_elasticsearch_spark.operators.similarity import (
    brute_force_topk,
    lsh_ann_topk,
)


def test_multimodal_feature_plumbing(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    assets = attach_payload(docs, "text", "doc_id")
    feats = extract_features(assets, dim=16, fake=True).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-5  # normalized histogram
        assert r.n_bytes > 0


def test_multimodal_real_decode_contract(spark):
    """fake=False demands the real decoder. Environment-aware contract:
    without PIL it raises NotImplementedError (deployment bug); with
    PIL, the text-bytes payloads are not images, so every row falls
    back per-payload with feature_kind='fallback' (data bug must not
    kill the job)."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import _pil_available

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(1)
    assets = attach_payload(docs, "text", "doc_id")
    if _pil_available():
        rows = extract_features(assets, fake=False).collect()
        assert [r.feature_kind for r in rows] == ["fallback"]
    else:
        with pytest.raises(Exception, match="NotImplementedError|not in this image"):
            extract_features(assets, fake=False).collect()


def test_decode_pnm_roundtrip_and_errors():
    """The hermetic NetPBM decoder: P5 roundtrip through the encoder,
    P6 integer luma, header comments, and the malformed-payload
    errors the poison-fallback contract relies on."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        decode_pnm,
        encode_pgm,
        nn_resize,
    )

    gray = bytes(range(24))
    assert decode_pnm(encode_pgm(6, 4, gray)) == (6, 4, gray)

    # Comments and arbitrary whitespace in the header are spec-legal.
    with_comment = b"P5\n# a comment\n 6 # mid\n4\n255\n" + gray
    assert decode_pnm(with_comment) == (6, 4, gray)

    # P6 RGB -> ITU-R 601 integer luma.
    rgb = b"".join(bytes((r, 2 * r % 256, 3 * r % 256)) for r in range(8))
    w, h, g = decode_pnm(b"P6\n4 2\n255\n" + rgb)
    assert (w, h) == (4, 2)
    assert g == bytes(
        (r * 299 + (2 * r % 256) * 587 + (3 * r % 256) * 114) // 1000
        for r in range(8)
    )

    for bad in (
        b"P4\n6 4\n255\n" + gray,  # unsupported variant
        b"P5\n6 4\n65535\n" + gray * 2,  # 2-byte samples
        b"P5\n6 4\n255\n" + gray[:-1],  # truncated raster
        b"P5\n6",  # truncated header
        b"P5\n0 4\n255\n",  # degenerate dims
        b"P5\n6 4\n255\r\n" + gray,  # CRLF header: off-by-one raster
        b"P5\n6 4\n255\n" + gray + b"x",  # trailing junk
        b"P5\n6 4\n255x" + gray,  # non-whitespace terminator
    ):
        with pytest.raises(ValueError):
            decode_pnm(bad)

    # Nearest-neighbor resample: exact integer source mapping.
    assert nn_resize(gray, 6, 4, 3, 2) == bytes(
        gray[(y * 2) * 6 + x * 2] for y in range(2) for x in range(3)
    )


def test_real_ppm_decode_in_spark_without_pil(spark):
    """A GENUINE decode in a real Spark worker, no PIL, no
    monkeypatch: P5 payloads through BOTH real kernels (fake=False)
    must come back kind='real' with the exactly-predicted bytes."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        encode_pgm,
        extract_features,
        resize_images,
    )

    payloads = {
        f"a{i}": bytes((i * 31 + j * 7) % 256 for j in range(24))
        for i in range(5)
    }
    assets = spark.createDataFrame(
        [
            (aid, "image", encode_pgm(6, 4, g), "image/x-portable-graymap")
            for aid, g in payloads.items()
        ],
        "asset_id string, media_type string, payload binary, mime string",
    )

    resized = {r.asset_id: r for r in resize_images(assets, 3, 2, fake=False).collect()}
    for aid, g in payloads.items():
        r = resized[aid]
        assert r.resize_kind == "real"
        assert (r.width, r.height) == (3, 2)
        assert bytes(r.resized) == bytes(
            g[(y * 2) * 6 + x * 2] for y in range(2) for x in range(3)
        )

    feats = {r.asset_id: r for r in extract_features(assets, dim=4, fake=False).collect()}
    for aid, g in payloads.items():
        r = feats[aid]
        assert r.feature_kind == "real"
        # dim=4 strip over a 6x4 raster: row 0, columns floor(i*6/4).
        expect = [g[i * 6 // 4] / 255.0 for i in range(4)]
        assert r.features == pytest.approx(expect)

    # A corrupt PNM payload (truncated raster) falls back per-payload.
    poison = spark.createDataFrame(
        [("bad", "image", b"P5\n6 4\n255\nxx", "image/x-portable-graymap")],
        "asset_id string, media_type string, payload binary, mime string",
    )
    out = resize_images(poison, 3, 2, fake=False).collect()
    assert [r.resize_kind for r in out] == ["fallback"]


def test_multimodal_real_decode_branch_with_fake_pil(monkeypatch):
    """Import-guarded real-decode branch: with a PIL lookalike in
    sys.modules, the kernel (called in-process — mapInPandas closures
    run in worker processes a driver monkeypatch can't reach) takes
    the real path and yields the feature columns from the decoder."""
    import sys
    import types

    import pandas as pd

    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        _feature_batches,
    )

    class _FakeImg:
        def __init__(self, b):
            self._b = b

        def convert(self, mode):
            return self

        def resize(self, wh):
            self._wh = wh
            return self

        def getdata(self):
            w, h = self._wh
            pad = (self._b + b"\x00" * (w * h))[: w * h]
            return list(pad)

    pil = types.ModuleType("PIL")
    pil.Image = types.SimpleNamespace(
        open=lambda buf: _FakeImg(buf.getvalue())
    )
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil.Image)

    pdf = pd.DataFrame(
        {
            "asset_id": ["a1", "a2"],
            "media_type": ["image", "image"],
            "payload": [b"\xff\x00\x80\x40", b"hello world"],
        }
    )
    out = list(_feature_batches(iter([pdf]), dim=4, fake=None))
    assert len(out) == 1
    res = out[0]
    assert list(res.columns) == [
        "asset_id", "media_type", "n_bytes", "features", "feature_kind",
    ]
    # auto mode picked the REAL branch: first asset's strip is the
    # first 4 payload bytes / 255, not a histogram (histogram of 4
    # bytes over dim=4 would sum to 1.0; this sums to >1).
    assert res["features"][0] == pytest.approx(
        [255 / 255, 0 / 255, 128 / 255, 64 / 255]
    )
    assert list(res["n_bytes"]) == [4, 11]
    assert list(res["feature_kind"]) == ["real", "real"]
    # forced-fake still produces the histogram on the same input
    fake_out = list(_feature_batches(iter([pdf]), dim=4, fake=True))[0]
    assert abs(sum(fake_out["features"][0]) - 1.0) < 1e-6
    assert list(fake_out["feature_kind"]) == ["fake", "fake"]


def test_poison_payload_falls_back_not_fails(monkeypatch):
    """One payload the decoder rejects must yield a per-row histogram
    fallback (feature_kind='fallback'), never a task failure."""
    import sys
    import types

    import pandas as pd

    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        _feature_batches,
    )

    def _open(buf):
        if buf.getvalue() == b"poison":
            raise ValueError("cannot identify image file")
        return types.SimpleNamespace(
            convert=lambda m: types.SimpleNamespace(
                resize=lambda wh: types.SimpleNamespace(
                    getdata=lambda: [0] * (wh[0] * wh[1])
                )
            )
        )

    pil = types.ModuleType("PIL")
    pil.Image = types.SimpleNamespace(open=_open)
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil.Image)

    pdf = pd.DataFrame(
        {
            "asset_id": ["good", "bad"],
            "media_type": ["image", "image"],
            "payload": [b"\x01\x02\x03\x04", b"poison"],
        }
    )
    res = list(_feature_batches(iter([pdf]), dim=4, fake=False))[0]
    assert list(res["feature_kind"]) == ["real", "fallback"]
    # the fallback row still carries a usable normalized histogram
    assert abs(sum(res["features"][1]) - 1.0) < 1e-6


def test_frame_sampling_shape(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
    frames = sample_frames(attach_payload(docs, "text", "doc_id"), every_n_bytes=32).collect()
    assert all(len(bytes(r.frame_payload)) <= 32 for r in frames)
    assert all(r.frame_kind == "bytes" and r.width is None for r in frames)
    per_asset = {}
    for r in frames:
        per_asset.setdefault(r.asset_id, []).append(r.frame_index)
    for idxs in per_asset.values():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frame index


def test_frame_sampling_real_demux(spark):
    """A concatenated-PGM container demuxes REAL frames: boundaries
    from each frame's own header (variable sizes — byte-slicing could
    not find them), decoded dims per frame, stride sampling by
    container index, and each emitted frame round-trips decode_pnm."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        decode_pnm,
        demux_pgm_video,
        encode_pgm,
    )

    dims = [(3, 2), (5, 1), (2, 4), (1, 1), (4, 3)]
    video = b"".join(
        encode_pgm(w, h, bytes((i * 37 + j) % 256 for j in range(w * h)))
        for i, (w, h) in enumerate(dims)
    )
    assert [(w, h) for w, h, _ in demux_pgm_video(video)] == dims
    assets = spark.createDataFrame(
        [("a", "video", bytearray(video), "v/p")],
        "asset_id string, media_type string, payload binary, mime string",
    )
    rows = sorted(
        sample_frames(assets, frame_stride=2, max_frames=3).collect(),
        key=lambda r: r.frame_index,
    )
    assert [(r.frame_index, r.width, r.height, r.frame_kind) for r in rows] == [
        (0, 3, 2, "real"), (2, 2, 4, "real"), (4, 4, 3, "real"),
    ]
    for r in rows:
        w, h, gray = decode_pnm(bytes(r.frame_payload))
        assert (w, h) == (r.width, r.height)
        assert len(gray) == w * h


def test_sample_frames_rejects_bad_stride(spark):
    """r10 advice: stride 0 used to surface as an opaque 'slice step
    cannot be zero' executor task failure and a negative stride
    silently reversed frame order — both now fail at declaration."""
    assets = spark.createDataFrame(
        [("a", "blob", bytearray(b"xyz" * 40), "b/p")],
        "asset_id string, media_type string, payload binary, mime string",
    )
    for bad in (0, -1):
        with pytest.raises(ValueError, match="frame_stride must be >= 1"):
            sample_frames(assets, frame_stride=bad)


def test_frame_sampling_truncated_container_falls_back(spark):
    """A container whose demux fails mid-stream (truncated second
    frame) is poison-isolated: sliced with frame_kind='fallback'
    instead of failing the task."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import encode_pgm

    video = encode_pgm(4, 2, bytes(range(8))) + b"P5\n9 9\n255\nshort"
    assets = spark.createDataFrame(
        [("a", "video", bytearray(video), "v/p")],
        "asset_id string, media_type string, payload binary, mime string",
    )
    rows = sample_frames(assets, every_n_bytes=16).collect()
    assert rows and all(r.frame_kind == "fallback" for r in rows)
    assert b"".join(bytes(r.frame_payload) for r in rows) == video[: 16 * len(rows)]


def test_exact_duplicates_operator(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        "doc_id long, text string",
    )
    out = exact_duplicates(df, "doc_id", "text").collect()
    assert len(out) == 1
    assert (out[0].keeper_id, out[0].n_dups) == (1, 3)


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again"
    far = "completely different words in this one with no overlap whatsoever present"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    assert pairs[0].jaccard > 0.7


def test_simhash64_separates_32bit_collision(spark):
    """md5('tok94533') and md5('tok129055') share their first 8 hex
    chars (found by birthday search), so the old 32-bit SimHash gave
    these single-token docs IDENTICAL fingerprints; the 64-bit word
    pair separates them."""
    from fs_indexer_elasticsearch_spark.functions.text import (
        simhash32,
        simhash64_words,
        tokens,
    )
    from fs_indexer_elasticsearch_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(1, "tok94533"), (2, "tok129055")], "doc_id long, text string"
    )
    lo, hi = simhash64_words(tokens(F.col("text")))
    r = {
        x.doc_id: x
        for x in df.select(
            "doc_id",
            simhash32(tokens(F.col("text"))).alias("sh32"),
            lo.alias("lo"),
            hi.alias("hi"),
        ).collect()
    }
    assert r[1].sh32 == r[2].sh32  # 32-bit: full collision
    assert r[1].lo == r[2].lo  # lo word == the old 32 bits
    assert r[1].hi != r[2].hi  # hi word separates the pair
    # Operator agrees: at hamming 0 (exact-dup hunt) no pair fires,
    # and the hamming it reports is exactly the hi-word distance.
    assert simhash_pairs(df, "doc_id", "text", max_hamming=0).count() == 0
    got = simhash_pairs(
        df, "doc_id", "text", max_hamming=64, allow_partial_recall=True
    ).collect()
    assert len(got) == 1
    assert got[0].hamming == bin(r[1].hi ^ r[2].hi).count("1")
    # Budgets past the exact-recall bound must be an explicit opt-in,
    # never silent (r6 advice).
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exact only to"):
        simhash_pairs(df, "doc_id", "text", max_hamming=8)


def test_simhash_banding_exact_recall_to_h7(spark):
    """8 bands x 8 bits: a pair at Hamming distance <= 7 must share a
    band (pigeonhole), so blocking loses nothing below max_hamming=7."""
    base = [f"w{i}" for i in range(40)]
    a = " ".join(base)
    b = " ".join(base[:-2] + ["zq1", "zq2"])  # flip a few fingerprint bits
    from fs_indexer_elasticsearch_spark.functions.text import (
        simhash64_words,
        tokens,
    )
    from fs_indexer_elasticsearch_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    lo, hi = simhash64_words(tokens(F.col("text")))
    r = {x.doc_id: x for x in df.select("doc_id", lo.alias("lo"), hi.alias("hi")).collect()}
    d = bin(r[1].lo ^ r[2].lo).count("1") + bin(r[1].hi ^ r[2].hi).count("1")
    pairs = simhash_pairs(df, "doc_id", "text", max_hamming=max(d, 1)).collect()
    if d <= 7:
        assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
        assert pairs[0].hamming == d


def test_simhash_pair_combo_blocking_matches_single_band(spark):
    """The Manku-style byte-PAIR blocking (max_hamming<=6) and the
    single-byte blocking (max_hamming>=7) must emit the identical pair
    set once both are filtered to the same Hamming budget — blocking
    is a recall-preserving candidate generator, never a semantics
    change. Run over a corpus dense in low-Hamming collisions."""
    from fs_indexer_elasticsearch_spark.operators.dedup import simhash_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    combo = {
        (p.id_a, p.id_b, p.hamming)
        for p in simhash_pairs(df, "doc_id", "text", max_hamming=6).collect()
    }
    single = {
        (p.id_a, p.id_b, p.hamming)
        for p in simhash_pairs(df, "doc_id", "text", max_hamming=7).collect()
        if p.hamming <= 6
    }
    assert combo == single
    assert combo  # the synthetic corpus does collide below Hamming 7


def test_bruteforce_topk_self_similarity(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    out = brute_force_topk(emb, q, "vec_id", "embedding", k=5).collect()
    assert len(out) == 15
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    for rows in per_q.values():
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)  # ranked
        assert all(-1.0001 <= s <= 1.0001 for s in sims)
        assert all(r.neighbor_id != r.query_id for r in rows)  # self excluded


def test_lsh_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, "vec_id", "embedding", k=1).collect()
    approx = lsh_ann_topk(
        emb, q, "vec_id", "embedding", k=1, num_planes=4, num_tables=6
    ).collect()
    exact_best = {r.query_id: r.neighbor_id for r in exact}
    approx_best = {r.query_id: r.neighbor_id for r in approx}
    # Multi-table OR-construction (6 tables × 4 planes): at least half
    # the queries should recover their true nearest neighbor.
    hits = sum(1 for k, v in approx_best.items() if exact_best.get(k) == v)
    assert hits >= len(exact_best) // 2
    assert len(approx_best) >= 8  # nearly all queries found candidates


def test_ivf_ann_recall_vs_bruteforce(spark):
    import pyspark.sql.functions as F
    from fs_indexer_elasticsearch_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, "vec_id", "emb", k=1).collect()
    approx = ivf_ann_topk(
        emb, q, emb.filter(F.col("vec_id") < 16), "vec_id", "emb", k=1, nprobe=4
    ).collect()
    exact_best = {r.query_id: r.neighbor_id for r in exact}
    approx_best = {r.query_id: r.neighbor_id for r in approx}
    hits = sum(1 for k, v in approx_best.items() if exact_best.get(k) == v)
    # 16 cells, probe 4 → a quarter of the corpus scanned; expect at
    # least a third of true NNs recovered on clustered embeddings.
    assert len(approx_best) == 10
    assert hits >= 3


# ---------------------------------------------------------------------------
# Connected components (alternating large-star / small-star)
# ---------------------------------------------------------------------------


def _union_find_components(edges):
    """Reference labeling: plain union-find, label = min member."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    return comp


def _cc_spark(spark, edges):
    from fs_indexer_elasticsearch_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "a long, b long")
    got = connected_components(df, "a", "b").collect()
    return {r.node: r.cluster for r in got}


def test_connected_components_matches_union_find(spark):
    import random

    rng = random.Random(7)
    # Several shapes in one graph: a long path (worst-case diameter),
    # a star super-node, triangles, isolated pairs, random noise.
    edges = [(i, i + 1) for i in range(100, 164)]  # 64-node path
    edges += [(500, 500 + i) for i in range(1, 40)]  # star
    edges += [(900, 901), (901, 902), (902, 900)]  # triangle
    edges += [(2000, 2001), (3000, 3001)]
    edges += [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    edges = [e for e in edges if e[0] != e[1]]
    assert _cc_spark(spark, edges) == _union_find_components(edges)


def test_connected_components_duplicate_and_reversed_edges(spark):
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (10, 11), (11, 10)]
    got = _cc_spark(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_exact_duplicates_ignores_null_text(spark):
    """md5(NULL) is NULL; groupBy would cluster all NULL-text docs into
    one bogus 'duplicate' group and a downstream dedup would drop
    documents whose content was never compared."""
    from fs_indexer_elasticsearch_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same"), (5, "uniq")],
        "doc_id long, text string",
    )
    got = exact_duplicates(df, "doc_id", "text").collect()
    assert len(got) == 1
    assert got[0].keeper_id == 3 and got[0].n_dups == 2


def test_minhash_lsh_rejects_invalid_hash_band_config(spark):
    """num_hashes beyond the permutation table was an IndexError at
    plan build; bands not dividing num_hashes silently dropped trailing
    signature values (a different S-curve than requested)."""
    import pytest

    from fs_indexer_elasticsearch_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="permutation table"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=32)
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=16, bands=5)


def test_resize_plumbing_and_contract(spark):
    """resize_images: fixed w*h raster out for every payload (fake
    kernel deterministic), and the fake/strict contract matches
    extract_features — NotImplementedError without PIL under
    fake=False, per-payload fallback with it."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        _pil_available,
        resize_images,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(8)
    assets = attach_payload(docs, "text", "doc_id")
    rows = resize_images(assets, width=4, height=3, fake=True).collect()
    assert len(rows) == 8
    for r in rows:
        assert (r.width, r.height) == (4, 3)
        assert len(bytes(r.resized)) == 12  # exactly w*h bytes, padded
        assert r.resize_kind == "fake"
    # Deterministic: same payloads, same bytes.
    again = resize_images(assets, width=4, height=3, fake=True).collect()
    assert {(r.asset_id, bytes(r.resized)) for r in rows} == {
        (r.asset_id, bytes(r.resized)) for r in again
    }

    one = assets.limit(1)
    if _pil_available():
        out = resize_images(one, fake=False).collect()
        assert [r.resize_kind for r in out] == ["fallback"]  # not an image
    else:
        with pytest.raises(Exception, match="NotImplementedError|not in this image"):
            resize_images(one, fake=False).collect()


def test_resize_real_branch_with_fake_pil():
    """The real-resize branch via a PIL lookalike, kernel called
    in-process (worker closures are beyond a driver monkeypatch)."""
    import sys
    import types

    import pandas as pd

    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        _resize_batches,
    )

    class _Img:
        def convert(self, _mode):
            return self

        def resize(self, size):
            self._size = size
            return self

        def tobytes(self):
            w, h = self._size
            return bytes(range(w * h))

    class _Image:
        @staticmethod
        def open(_buf):
            return _Img()

    pil = types.ModuleType("PIL")
    pil.Image = _Image
    saved = {k: sys.modules.get(k) for k in ("PIL", "PIL.Image")}
    sys.modules["PIL"] = pil
    sys.modules["PIL.Image"] = _Image
    try:
        pdf = pd.DataFrame({"asset_id": ["a"], "payload": [b"whatever"]})
        res = list(_resize_batches(iter([pdf]), 3, 2, fake=False))[0]
        assert list(res["resize_kind"]) == ["real"]
        assert bytes(res["resized"][0]) == bytes(range(6))
    finally:
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v


def test_p5_prefixed_text_is_bytes_not_fallback(spark):
    """Arbitrary bytes that merely START with 'P5' are not containers:
    they must slice under the honest 'bytes' tag — 'fallback' is
    reserved for a real container gone bad mid-stream, so corruption
    monitors never alarm on ordinary text payloads."""
    assets = spark.createDataFrame(
        [("t", "video", bytearray(b"P5 hello world, just text " * 4), "v/p")],
        "asset_id string, media_type string, payload binary, mime string",
    )
    rows = sample_frames(assets, every_n_bytes=16).collect()
    assert rows and all(r.frame_kind == "bytes" for r in rows)


def test_container_truncated_inside_first_frame_is_fallback(spark):
    """A container cut off INSIDE frame 0 (well-formed header, short
    raster) is container evidence, not arbitrary bytes: it must carry
    the 'fallback' corruption tag."""
    assets = spark.createDataFrame(
        [("c", "video", bytearray(b"P5\n64 48\n255\n" + bytes(100)), "v/p")],
        "asset_id string, media_type string, payload binary, mime string",
    )
    rows = sample_frames(assets, every_n_bytes=64).collect()
    assert rows and all(r.frame_kind == "fallback" for r in rows)


def test_maintain_cc_merge_split_chained_equals_scratch(spark, tmp_path):
    """Incremental connected components: two chained windows with
    old_labels feedback, each mixing MERGES (edge adds, resolved at
    cluster grain) with SPLITS (edge deletes, affected-component
    recompute) — including the interacting case where a window first
    merges two clusters and then cuts the merged result elsewhere.
    Every window must equal a from-scratch CC over the post-state
    edges; isolated nodes must survive as singletons throughout."""
    from fs_indexer_elasticsearch_spark.operators.dedup import (
        connected_components,
        maintain_connected_components,
    )
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "edges"), key="eid", version_col="v",
        num_buckets=4,
    )
    sch = "eid long, v int, u long, vtx long"
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "node long"
    ).localCheckpoint()
    # v1: {1,2,3}, {5,6}, {7,8}; 4, 9, 10 isolated.
    store.overwrite(spark.createDataFrame(
        [(1, 1, 1, 2), (2, 1, 2, 3), (5, 1, 5, 6), (7, 1, 7, 8)], sch))
    # w1: add 3-5 (merges {1,2,3}+{5,6}) and 9-10; delete 2-3 —
    # cutting the JUST-MERGED cluster into {1,2} and {3,5,6}.
    store.merge(
        spark.createDataFrame([(3, 2, 3, 5), (9, 2, 9, 10)], sch),
        removed=spark.createDataFrame([(2,)], "eid long"),
    )
    # w2: delete 7-8 (both endpoints become singletons); add 4-1.
    store.merge(
        spark.createDataFrame([(4, 3, 4, 1)], sch),
        removed=spark.createDataFrame([(7,)], "eid long"),
    )

    def scratch(v):
        cc = connected_components(
            store.read(version=v).select(
                F.col("u"), F.col("vtx").alias("v")
            ),
            "u",
            "v",
        )
        return {
            r.node: r.cluster
            for r in nodes.join(cc, "node", "left")
            .select(
                "node", F.coalesce("cluster", "node").alias("cluster")
            )
            .collect()
        }

    as_d = lambda df: {r.node: r.cluster for r in df.collect()}  # noqa: E731

    w1 = maintain_connected_components(
        store, 1, 2, src="u", dst="vtx", nodes=nodes
    ).localCheckpoint()
    got1 = as_d(w1)
    assert got1 == scratch(2)
    assert got1[6] == 3 and got1[2] == 1  # split of the merged cluster
    assert got1[4] == 4  # isolated singleton survives

    w2 = maintain_connected_components(
        store, 2, 3, src="u", dst="vtx", nodes=nodes, old_labels=w1
    )
    got2 = as_d(w2)
    assert got2 == scratch(3)
    assert got2[7] == 7 and got2[8] == 8  # delete made two singletons
    assert got2[4] == 1  # add pulled the singleton into {1,2}


def test_maintain_cc_rewiring_update_and_universe_growth(spark, tmp_path):
    """The two review findings, pinned: (a) an edge UPDATE that
    rewires endpoints must act as delete(pre-pair) + add(post-pair) —
    the stale merge must split and the new link must form; (b) a
    fed-back view must re-base onto the CURRENT universe, so nodes
    that joined since last cycle appear (as singletons or via their
    new edges) even though the old view never saw them — including a
    new node with the smallest id becoming the merged cluster's
    root. Also: an endpoint-preserving update is structurally a
    no-op."""
    from fs_indexer_elasticsearch_spark.operators.dedup import (
        connected_components,
        maintain_connected_components,
    )
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "edges"), key="eid", version_col="v",
        num_buckets=4,
    )
    sch = "eid long, v int, u long, vtx long, w long"
    nodes_v2 = spark.createDataFrame(
        [(i,) for i in range(1, 6)], "node long"
    )
    # universe grows at w2: node 0 (smaller than every existing id)
    nodes_v3 = spark.createDataFrame(
        [(i,) for i in range(0, 6)], "node long"
    )
    # v1: edges 1-2 (eid 1), 4-5 (eid 4); node 3 isolated.
    store.overwrite(spark.createDataFrame(
        [(1, 1, 1, 2, 10), (4, 1, 4, 5, 10)], sch))
    # w1: REWIRE eid 1 from (1,2) to (2,3) — 1 must split away, 3 must
    # join 2 — and touch eid 4's payload without moving its endpoints.
    store.merge(
        spark.createDataFrame([(1, 2, 2, 3, 10), (4, 2, 4, 5, 99)], sch),
        removed=spark.createDataFrame([], "eid long"),
    )
    # w2: universe gains node 0; new edge 0-5 (eid 7) — the NEW node
    # is the smallest id, so it must become cluster root of {0,4,5}.
    store.merge(
        spark.createDataFrame([(7, 3, 0, 5, 10)], sch),
        removed=spark.createDataFrame([], "eid long"),
    )

    def scratch(v, universe):
        cc = connected_components(
            store.read(version=v).select("u", F.col("vtx").alias("v")),
            "u", "v",
        )
        return {
            r.node: r.cluster
            for r in universe.join(cc, "node", "left")
            .select("node", F.coalesce("cluster", "node").alias("cluster"))
            .collect()
        }

    as_d = lambda df: {r.node: r.cluster for r in df.collect()}  # noqa: E731

    w1 = maintain_connected_components(
        store, 1, 2, src="u", dst="vtx", nodes=nodes_v2
    ).localCheckpoint()
    got1 = as_d(w1)
    assert got1 == scratch(2, nodes_v2)
    assert got1[1] == 1          # split away from the rewired edge
    assert got1[2] == got1[3] == 2  # the post-pair merged
    assert got1[4] == got1[5] == 4  # payload-only update: untouched

    w2 = maintain_connected_components(
        store, 2, 3, src="u", dst="vtx", nodes=nodes_v3, old_labels=w1
    )
    got2 = as_d(w2)
    assert got2 == scratch(3, nodes_v3)
    assert got2[0] == got2[4] == got2[5] == 0  # new smallest-id root


def test_decode_wav_roundtrip_and_errors():
    """The hermetic RIFF/PCM parser: 8-bit and 16-bit roundtrips
    (including an extra chunk before data and odd-size word
    alignment), and loud ValueErrors on truncation, non-PCM format
    tags, and missing chunks."""
    import struct

    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        decode_wav,
    )

    def wav(rate, ch, bits, pcm, *, fmt_tag=1, extra=b""):
        fmt = struct.pack(
            "<HHIIHH", fmt_tag, ch, rate,
            rate * ch * bits // 8, ch * bits // 8, bits,
        )
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        if extra:
            chunks += b"LIST" + struct.pack("<I", len(extra)) + extra
            if len(extra) & 1:
                chunks += b"\0"  # word alignment pad
        chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    rate, ch, bits, pcm = decode_wav(wav(8000, 1, 8, bytes(range(24))))
    assert (rate, ch, bits) == (8000, 1, 8) and pcm == bytes(range(24))
    # extra chunk with odd size exercises the alignment pad
    rate, ch, bits, pcm = decode_wav(
        wav(16000, 2, 16, struct.pack("<4h", -5, 5, -300, 300), extra=b"xyz")
    )
    assert (rate, ch, bits) == (16000, 2, 16) and len(pcm) == 8

    import pytest as _pytest

    for bad in (
        b"",  # empty
        b"RIFX" + bytes(40),  # wrong magic
        wav(8000, 1, 8, bytes(4))[:-2],  # truncated data chunk
        wav(8000, 1, 8, bytes(4), fmt_tag=3),  # IEEE float, not PCM
        b"RIFF" + struct.pack("<I", 4) + b"WAVE",  # no chunks at all
    ):
        with _pytest.raises(ValueError):
            decode_wav(bad)


def test_audio_stats_poison_payload_isolated(spark):
    """A corrupt WAV costs its own row (decode_kind='invalid', NULL
    stats) — never the batch; valid rows in the same batch decode
    for real with byte-exact stats."""
    import struct

    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        audio_stats,
    )

    pcm = bytes([128, 138, 118, 128])  # dev 0, +10, -10, 0
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 1000, 1, 8)
    good = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    df = spark.createDataFrame(
        [("ok", bytearray(good)), ("bad", bytearray(b"not audio"))],
        "asset_id string, payload binary",
    )
    rows = {r.asset_id: r for r in audio_stats(df).collect()}
    ok = rows["ok"]
    assert ok.decode_kind == "real"
    assert (ok.sample_rate, ok.n_samples, ok.duration_ms) == (1000, 4, 4)
    assert ok.peak_dev == 10 and ok.sample_sum == 512
    bad = rows["bad"]
    assert bad.decode_kind == "invalid" and bad.n_samples is None


def test_maintain_cc_debug_raises_on_universe_violation(spark, tmp_path):
    """r12 advice: the universe contracts (added-edge endpoints within
    `nodes`; departed nodes' edges deleted in the same window) were
    trusted silently — a violation produced dangling cluster ids, not
    an error. debug=True anti-joins the post-state endpoints against
    the universe and raises loudly, naming offenders; a compliant
    window under debug=True is unchanged."""
    import pytest

    from fs_indexer_elasticsearch_spark.operators.dedup import (
        maintain_connected_components,
    )
    from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

    store = SnapshotStore(
        spark, str(tmp_path / "edges"), key="eid", version_col="v",
        num_buckets=4,
    )
    sch = "eid long, v int, u long, vtx long"
    store.overwrite(spark.createDataFrame([(1, 1, 1, 2)], sch))
    # v2 adds an edge to node 99 — OUTSIDE the universe below.
    store.merge(spark.createDataFrame([(2, 2, 2, 99)], sch))
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3)], "node long")

    with pytest.raises(ValueError, match="outside the node universe"):
        maintain_connected_components(
            store, 1, 2, src="u", dst="vtx", nodes=nodes, debug=True
        )
    # Compliant universe: debug on == debug off, byte-identical.
    nodes_ok = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 99)], "node long"
    )
    as_d = lambda df: {r.node: r.cluster for r in df.collect()}  # noqa: E731
    assert as_d(
        maintain_connected_components(
            store, 1, 2, src="u", dst="vtx", nodes=nodes_ok, debug=True
        )
    ) == as_d(
        maintain_connected_components(
            store, 1, 2, src="u", dst="vtx", nodes=nodes_ok
        )
    ) == {1: 1, 2: 1, 3: 3, 99: 1}


def test_audio_samples_explode_and_poison_isolation(spark):
    """audio_samples bridges binary WAV payloads to one row per
    interleaved sample (16-bit: signed little-endian; 8-bit:
    unsigned), and a poison payload emits ZERO rows instead of
    killing the batch."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        audio_samples,
    )

    # 2 frames x 2ch 16-bit: samples 100, -3, 32767, -32768.
    hdr16 = bytes.fromhex(
        "524946462C00000057415645666D7420100000000100020040"
        "1F0000007D0000040010006461746108000000"
    )
    pcm16 = (
        (100).to_bytes(2, "little")
        + (-3 % 65536).to_bytes(2, "little")
        + (32767).to_bytes(2, "little")
        + (32768).to_bytes(2, "little")  # -32768 two's complement
    )
    rows = [("s16", hdr16 + pcm16), ("bad", b"not a wav at all")]
    out = audio_samples(
        spark.createDataFrame(rows, "asset_id string, payload binary")
    ).collect()
    got = sorted((r.asset_id, r.i, r.value) for r in out)
    assert got == [
        ("s16", 0, 100),
        ("s16", 1, -3),
        ("s16", 2, 32767),
        ("s16", 3, -32768),
    ]


def test_audio_samples_poison_only_partition_yields_empty(spark):
    """A partition whose every payload is poison exercises the empty
    pandas-frame branch of audio_samples — it must Arrow-convert
    cleanly to zero rows, not crash the task."""
    from fs_indexer_elasticsearch_spark.operators.multimodal import (
        audio_samples,
    )

    rows = [("bad1", b"nope"), ("bad2", b""), ("bad3", None)]
    out = audio_samples(
        spark.createDataFrame(
            rows, "asset_id string, payload binary"
        ).repartition(2)
    )
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["asset_id", "i", "value"]


def test_connected_components_raises_on_iteration_exhaustion(spark):
    """r13 advice: exhausting max_iter before the signature fixpoint
    must RAISE, not silently return partially-propagated labels — an
    under-merged clustering is a wrong answer that nothing downstream
    can detect."""
    import pytest as _pytest

    from fs_indexer_elasticsearch_spark.operators.dedup import (
        connected_components,
    )

    # A 24-node chain needs ~log2(24) ≈ 5 doubling rounds (+1 confirm);
    # max_iter=1 cannot reach the fixpoint signature.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(23)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, "a", "b", max_iter=1)
