"""Dedup / similarity / text-analysis / multimodal operators on the driver's
synthetic tables (TESTDATA.md)."""

import pytest
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text_analysis,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_partitions_docs(docs):
    d = dedup.exact_dedup(docs, "doc_id", "text")
    total = d.agg(F.sum("n_dups")).first()[0]
    assert total == docs.count()
    assert d.filter(F.col("n_dups") > 1).count() >= 0


def test_jaccard_pairs_symmetric_bounds(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    rows = pairs.collect()
    for r in rows:
        assert r["a"] < r["b"]
        assert 0.8 <= r["jaccard"] <= 1.0


def test_minhash_lsh_recalls_exact_dups(spark, docs):
    """Exact duplicate texts must always share every band."""
    exact = dedup.exact_dedup(docs, "doc_id", "text").filter(F.col("n_dups") > 1)
    if exact.count() == 0:
        pytest.skip("no exact dups at this sf")
    lsh = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    # reconstruct one exact-dup pair and assert LSH caught it
    h = docs.withColumn("h", F.sha2("text", 256))
    dup_groups = (
        h.groupBy("h").agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    for g in dup_groups:
        ids = sorted(g["ids"])
        assert (ids[0], ids[1]) in lsh


def test_simhash_zero_distance_for_identical(docs):
    sig = dedup.simhash(docs, "doc_id", "text")
    pairs = dedup.simhash_pairs(sig, max_hamming=0).collect()
    for r in pairs:
        assert r["hamming"] == 0


def test_cosine_topk_excludes_and_orders(emb):
    q = emb.filter("vec_id = 0").first()["embedding"]
    top = similarity.cosine_topk(emb, list(q), k=5, exclude_id=0).collect()
    assert len(top) == 5
    assert all(r["vec_id"] != 0 for r in top)
    cos = [r["cosine"] for r in top]
    assert cos == sorted(cos, reverse=True)


def test_ivf_subset_of_bruteforce_domain(emb):
    row = emb.filter("vec_id = 0").first()
    top = similarity.ivf_topk(
        emb, list(row["embedding"]), int(row["label"]), k=5, exclude_id=0
    ).collect()
    labels = {
        r["label"]
        for r in emb.filter(
            F.col("vec_id").isin([t["vec_id"] for t in top])
        ).collect()
    }
    assert labels == {int(row["label"])}


def test_cosine_neardup_pairs_threshold(emb):
    pairs = similarity.cosine_neardup_pairs(emb.limit(100), threshold=0.5)
    for r in pairs.collect():
        assert r["cosine"] >= 0.5 and r["a"] < r["b"]


def test_neardup_lsh_equals_exact_on_planted(spark):
    """The scale-shape SRP-LSH near-dup must return the IDENTICAL pair set
    as the exact all-pairs operator at the same threshold on planted
    near-duplicates (perturbed copies, cosine ~0.9987) — LSH recall is
    deterministic given the fixed md5-derived projection matrix, so this
    pins it forever."""
    import __spark_entry__ as entry

    planted = entry._planted_neardups(spark, SF)
    exact = {
        (r["a"], r["b"])
        for r in similarity.cosine_neardup_pairs(
            planted, threshold=0.9
        ).collect()
    }
    lsh = {
        (r["a"], r["b"])
        for r in similarity.cosine_neardup_pairs_lsh(
            planted, threshold=0.9, dim=64
        ).collect()
    }
    assert len(exact) == planted.count() // 2  # one pair per planted copy
    assert lsh == exact


def test_cosine_pairs_skip_zero_vectors(spark):
    """A zero-norm vector gets a NULL cosine (no DIVIDE_BY_ZERO), so the
    threshold drops its pairs.  One-bit bands make the all-ones signature
    of the zero vector share a band with the others, so the LSH verify
    really sees it."""
    df = spark.createDataFrame(
        [("z", [0.0, 0.0], "x"), ("p", [1.0, 2.0], "x"), ("q", [2.0, 4.0], "x")],
        "vec_id string, embedding array<double>, label string",
    )
    lsh = similarity.cosine_neardup_pairs_lsh(df, threshold=0.9, band_bits=1)
    exact = similarity.cosine_neardup_pairs(df, threshold=0.9)
    for pairs in (lsh, exact):
        assert [(r["a"], r["b"]) for r in pairs.collect()] == [("p", "q")]


def test_spread_falls_back_when_partitions_not_int(spark):
    """_spread uses defaultParallelism when spark.sql.shuffle.partitions is
    not an integer (e.g. 'auto'); the session only backs F.col."""
    from types import SimpleNamespace

    calls = []
    session = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "auto"),
        sparkContext=SimpleNamespace(defaultParallelism=3),
    )
    frame = SimpleNamespace(
        sparkSession=session, repartition=lambda n, col: calls.append(n)
    )
    dedup._spread(frame)
    assert calls == [3]


def test_lang_id_on_english_salad(docs):
    out = text_analysis.lang_id(docs, "doc_id", "text")
    en_ratio = out.filter(F.col("lang_pred") == "en").count() / out.count()
    # the 30-word salad vocabulary contains only 'the'/'a' as stopwords, so
    # the heuristic flags most-but-not-all docs; real prose scores ~0.4
    assert en_ratio > 0.5
    assert out.count() == docs.count()


def test_quality_and_token_stats_shapes(docs):
    t = text_analysis.token_stats(docs, "doc_id", "text")
    bad = t.filter(F.col("n_distinct_tokens") > F.col("n_ws_tokens")).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def _media_df(spark):
    rows = [
        (1, "image", b"\x89PNG...fakebytes", ("image/png", 64, 64, None)),
        (2, "audio", b"RIFF....fake", ("audio/wav", None, None, 4000)),
        (3, "video", b"\x00\x00ftyp", ("video/mp4", 640, 480, 3500)),
        (4, "image", b"", ("image/png", 0, 0, None)),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA_DDL)


def test_fake_decoder_batch_shape(spark):
    f = multimodal.extract_features(_media_df(spark), decoder="fake")
    rows = f.collect()
    assert all(len(r["features"]) == 16 for r in rows)
    empty = [r for r in rows if r["media_id"] == 4][0]
    assert sum(empty["features"]) == 0.0


def test_stub_decoder_raises(spark):
    f = multimodal.extract_features(_media_df(spark), decoder="stub")
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        f.collect()


def test_png_decode_roundtrip_all_filters():
    """The stdlib PNG decoder is pixel-exact: a known image encoded with
    filter-0 rows decodes byte-identically, for gray / RGB / RGBA shapes —
    and the filtered variants (Sub/Up/Average/Paeth) reverse correctly on
    a hand-built stream."""
    import struct
    import zlib

    import numpy as np

    for ch in (1, 3, 4):
        rng = np.random.RandomState(7 + ch)
        img = rng.randint(0, 256, size=(5, 4, ch), dtype=np.uint8)
        assert np.array_equal(
            multimodal.decode_png(multimodal.encode_png(img)), img
        )
    # hand-filtered stream: rebuild one 2x3 RGB image with each filter type
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3) * 7
    flat = img.reshape(2, 9).astype(np.int64)
    for ftype in (1, 2, 3, 4):
        rows = []
        prev = np.zeros(9, dtype=np.int64)
        for y in range(2):
            cur = flat[y]
            line = np.empty(9, dtype=np.int64)
            for x in range(9):
                a = cur[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                if ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (cur[x] - pred) & 0xFF
            rows.append(bytes([ftype]) + bytes(line.astype(np.uint8)))
            prev = cur
        raw = b"".join(rows)

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(multimodal.decode_png(payload), img), ftype


def test_wav_decode_roundtrip():
    import numpy as np

    t = np.arange(800)
    samples = (10_000 * np.sin(2 * np.pi * 440 * t / 8000)).astype("<i2")
    wav = multimodal.decode_wav(multimodal.encode_wav(samples, rate=8000))
    assert wav["rate"] == 8000 and wav["channels"] == 1
    assert wav["duration_ms"] == 100
    assert np.array_equal(wav["samples"][:, 0], samples)


def test_resize_nearest():
    import numpy as np

    img = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = multimodal.resize_nearest(img, 2, 2)
    assert small.shape == (2, 2, 1)
    assert np.array_equal(small[:, :, 0], np.array([[0, 2], [8, 10]]))


def test_real_decoder_end_to_end(spark):
    """decoder='real' actually decodes PNG and WAV payloads in the Spark
    stage: image features reflect pixel statistics (an all-white image
    means 1.0), audio features reflect the waveform (nonzero RMS), and an
    mp4 payload still raises at the integration point."""
    import numpy as np

    white = np.full((8, 8, 3), 255, dtype=np.uint8)
    t = np.arange(1600)
    tone = (12_000 * np.sin(2 * np.pi * 220 * t / 8000)).astype("<i2")
    rows = [
        (1, "image", bytearray(multimodal.encode_png(white)),
         ("image/png", 8, 8, None)),
        (2, "audio", bytearray(multimodal.encode_wav(tone, rate=8000)),
         ("audio/wav", None, None, 200)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA_DDL)
    got = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(df, decoder="real").collect()
    }
    img_f = got[1]
    assert abs(img_f[0] - 1.0) < 1e-6  # mean channel = 1.0 (white)
    assert abs(img_f[4]) < 1e-6        # std = 0
    assert abs(img_f[15] - 1.0) < 1e-6  # all luminance in the top bin
    wav_f = got[2]
    assert wav_f[0] > 0.2              # real RMS of the tone
    assert 0.0 < wav_f[1] < 0.2        # zero-crossing rate ~ 2*220/8000
    assert abs(wav_f[2] - 0.2) < 1e-6  # duration 200 ms

    mp4 = spark.createDataFrame(
        [(3, "video", b"\x00\x00ftypisom", ("video/mp4", 64, 48, 1000))],
        multimodal.MEDIA_SCHEMA_DDL,
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_features(mp4, decoder="real").collect()


def test_kmeans_fit_and_assign(spark):
    """kmeans_fit is deterministic; every point's label is its argmax-cosine
    centroid; the pipeline closes the IVF loop (fit -> assign -> ivf_topk)."""
    from ontologybasedkgcreation_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = similarity.kmeans_fit(emb, k=4, iters=3)
    c2 = similarity.kmeans_fit(emb, k=4, iters=3)
    assert c1 == c2
    assert len(c1) == 4 and all(len(c) == len(c1[0]) for c in c1)

    labeled = similarity.assign_clusters(emb, c1).cache()
    n = labeled.count()
    assert labeled.filter(F.col("label").isNotNull()).count() == n
    assert labeled.select("label").distinct().count() > 1

    # verify argmax property on a sample row against numpy
    import numpy as np

    row = labeled.orderBy("vec_id").first()
    v = np.array(row["embedding"], dtype=np.float64)
    cos = [
        float(v @ np.array(c) / (np.linalg.norm(v) * np.linalg.norm(c)))
        for c in c1
    ]
    assert row["label"] == int(np.argmax(cos))

    # the assigned label feeds ivf_topk directly
    q = list(labeled.filter(F.col("vec_id") == 1).first()["embedding"])
    qlab = labeled.filter(F.col("vec_id") == 1).first()["label"]
    top = similarity.ivf_topk(labeled, q, qlab, k=5, exclude_id=1).collect()
    assert 0 < len(top) <= 5


def test_resolve_duplicates_groups_and_policy(spark):
    """CC over the pair graph + longest-text-wins: a transitive 3-chain
    resolves to ONE representative; ties break to the smallest id;
    singletons pass through with group_size 1."""
    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the longest text of the chain"),
            (3, "middle length text"),
            (10, "tie"),
            (11, "pie"),
            (20, "alone entirely"),
        ],
        "doc_id long, text string",
    )
    # 1-2, 2-3 chain (transitive); 10-11 same length (tie)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    got = {
        (r["doc_id"], r["keep_id"], r["group_size"])
        for r in dedup.resolve_duplicates(docs, "doc_id", "text", pairs).collect()
    }
    assert got == {
        (1, 2, 3),
        (2, 2, 3),
        (3, 2, 3),
        (10, 10, 2),
        (11, 10, 2),
        (20, 20, 1),
    }


def test_srp_signature_arrow_matches_jvm_spec(spark):
    """The Arrow-batched SRP signature (hot path) must agree BIT-FOR-BIT
    with the JVM fold-expression spec (srp_band_cols) — same md5-derived
    ±1 matrix, same sequential accumulation order."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    spec = emb.select(
        F.col("vec_id").alias("id"),
        *similarity.srp_band_cols("embedding", 64, 8, 64),
    )
    arrow = similarity.srp_signature(emb, "vec_id", "embedding", "label")
    cols = ["id"] + [f"band{b}" for b in range(8)]
    assert {tuple(r) for r in spec.select(cols).collect()} == {
        tuple(r) for r in arrow.select(cols).collect()
    }


def test_bmp_decode_roundtrip():
    """24-bit BMP decode is pixel-exact, including the 4-byte row padding
    (width 3 -> stride 12) and the BGR/bottom-up conventions."""
    import numpy as np

    for w, h in ((3, 2), (4, 4), (5, 3)):
        rng = np.random.RandomState(w * 10 + h)
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(
            multimodal.decode_bmp(multimodal.encode_bmp(img)), img
        )
    # decode_real routes BMP payloads through the image feature path
    white = np.full((6, 5, 3), 255, dtype=np.uint8)
    f = multimodal.decode_real(multimodal.encode_bmp(white), "image")
    assert abs(f[0] - 1.0) < 1e-6 and abs(f[15] - 1.0) < 1e-6


def test_avi_mjpeg_roundtrip_and_metadata():
    """Round-5: REAL video — MJPEG-in-AVI container (avi.py, public RIFF
    spec) over the T.81 JPEG codec.  Flat gray frames at q95 are pixel-
    exact frame-by-frame (the jpeg.py exactness proof carries over), the
    header probe reads fps/frames/dims without touching frame data, and
    index-restricted decode touches only the requested frames."""
    import numpy as np

    from ontologybasedkgcreation_spark.operators import avi

    frames = [np.full((16, 16), v, dtype=np.uint8) for v in (7, 131, 247)]
    payload = avi.encode_avi_mjpeg(frames, fps=10, quality=95)
    meta = avi.avi_metadata(payload)
    assert (meta["width"], meta["height"]) == (16, 16)
    assert meta["n_frames"] == 3 and meta["fps"] == 10.0
    assert meta["duration_ms"] == 300 and meta["handler"] == "MJPG"
    dec = avi.decode_avi_mjpeg(payload)
    assert len(dec["frames"]) == 3
    for got, want in zip(dec["frames"], frames):
        assert np.array_equal(got.squeeze(), want)
    # sampling path: only the requested frames are decoded
    sub = avi.decode_avi_mjpeg(payload, indices=[0, 2])["frames"]
    assert [int(f.mean()) for f in sub] == [7, 247]
    # RGB through chroma subsampling survives the container roundtrip
    rgb = [np.full((16, 16, 3), v, dtype=np.uint8) for v in (5, 200)]
    d2 = avi.decode_avi_mjpeg(
        avi.encode_avi_mjpeg(rgb, fps=5, quality=90, subsampling="420")
    )
    assert [f.shape for f in d2["frames"]] == [(16, 16, 3)] * 2
    # truncated payload (web-crawl reality): surviving frames still parse
    assert len(avi.avi_frame_payloads(payload[: len(payload) // 2])) == 2
    with pytest.raises(ValueError, match="AVI"):
        avi.avi_metadata(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="frame"):
        avi.encode_avi_mjpeg([])


def test_avi_raw_dib_roundtrip():
    """Round-6: UNCOMPRESSED video — BI_RGB 24-bit DIB frames in the same
    RIFF container.  No quantizer anywhere, so ARBITRARY content (not
    just flat gray) round-trips pixel-exactly, including odd widths that
    force the 4-byte row-stride pad; decode_avi dispatches on the strf
    compression and raises on codec video (the decode_stub boundary)."""
    import numpy as np

    from ontologybasedkgcreation_spark.operators import avi

    rng = np.random.default_rng(42)
    frames = [
        rng.integers(0, 256, (11, 13, 3), dtype=np.uint8) for _ in range(3)
    ]
    payload = avi.encode_avi_raw(frames, fps=6)
    meta = avi.avi_metadata(payload)
    assert meta["compression"] == "BI_RGB" and meta["bit_count"] == 24
    assert meta["handler"] == "DIB " and meta["fps"] == 6.0
    dec = avi.decode_avi(payload)
    for got, want in zip(dec["frames"], frames):
        assert np.array_equal(got, want)
    # index-restricted decode
    sub = avi.decode_avi(payload, indices=[2])["frames"]
    assert len(sub) == 1 and np.array_equal(sub[0], frames[2])
    # gray input comes back r=g=b
    g = [np.arange(64, dtype=np.uint8).reshape(8, 8)]
    dg = avi.decode_avi(avi.encode_avi_raw(g, fps=1))["frames"][0]
    assert np.array_equal(dg[:, :, 0], g[0]) and np.array_equal(
        dg[:, :, 1], dg[:, :, 2]
    )
    # MJPEG still dispatches through decode_avi
    pm = avi.encode_avi_mjpeg(
        [np.full((16, 16), 99, np.uint8)], fps=10, quality=95
    )
    assert int(avi.decode_avi(pm)["frames"][0].mean()) == 99
    # unknown codec fourcc -> the documented decode_stub boundary
    bad = pm.replace(b"MJPG", b"H264")
    with pytest.raises(ValueError, match="decode_stub"):
        avi.decode_avi(bad)


def test_video_decode_and_frame_sampling_in_spark(spark):
    """decoder='real' decodes an MJPEG AVI (first-frame features), and
    frame_sample_features emits one decoded-feature row per every_ms with
    only the sampled frames paying decode cost."""
    import numpy as np

    from ontologybasedkgcreation_spark.operators import avi

    frames = [np.full((16, 16), v, dtype=np.uint8) for v in (10, 60, 110, 160)]
    payload = bytearray(avi.encode_avi_mjpeg(frames, fps=10, quality=95))
    df = spark.createDataFrame(
        [(9, "video", payload, ("video/x-msvideo", 16, 16, 400))],
        multimodal.MEDIA_SCHEMA_DDL,
    )
    feats = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(df, decoder="real").collect()
    }
    assert abs(feats[9][0] - 10 / 255.0) < 1e-6  # first-frame mean
    # every 200 ms at 10 fps -> frames 0 and 2 (ts 0 and 200)
    rows = multimodal.frame_sample_features(df, every_ms=200).collect()
    got = {r["frame_ts_ms"]: r["features"][0] for r in rows}
    assert set(got) == {0, 200}
    assert abs(got[0] - 10 / 255.0) < 1e-6
    assert abs(got[200] - 110 / 255.0) < 1e-6


def test_redact_pii(spark):
    """Typed placeholders with stage-by-stage counts; non-PII digits and
    bare words survive; multiple hits of one type all redact."""
    rows = [
        (1, "mail a.b-c+1@ex-ample.co.uk and x@y.io, call +44 20 7946 0958"),
        (2, "server 192.168.0.1 and 10.0.0.255; port 8080 is fine"),
        (3, "no pii here, just 12345 and v1.2 of the doc"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in text_analysis.redact_pii(df, "doc_id", "text").collect()
    }
    assert got[1]["n_emails"] == 2 and got[1]["n_phones"] == 1
    assert "<EMAIL>" in got[1]["redacted"]
    assert "a.b-c+1@" not in got[1]["redacted"]
    assert got[1]["redacted"].count("<EMAIL>") == 2
    assert "<PHONE>" in got[1]["redacted"]
    assert got[2]["n_ips"] == 2 and "<IP>" in got[2]["redacted"]
    assert "192.168.0.1" not in got[2]["redacted"]
    assert "port 8080 is fine" in got[2]["redacted"]  # bare digits survive
    assert got[3]["redacted"] == rows[2][1]  # untouched
    assert (got[3]["n_emails"], got[3]["n_ips"], got[3]["n_phones"]) == (0, 0, 0)
    assert got[4]["redacted"] is None  # null text flows through


def test_strip_boilerplate(spark):
    """Per-group repeated lines (>= min_docs distinct docs) are stripped
    with order preserved; below-threshold repeats, other-group twins and
    case/whitespace variants of content survive the group rule as one
    normalized identity; an all-boilerplate doc comes back empty."""
    nav, foot = "Home | About | Contact", "(c) example.com"
    rows = [
        (1, "a.com", f"{nav}\nunique one\n{foot}"),
        (2, "a.com", f"{nav}\nunique two\n{foot}"),
        (3, "a.com", f"  {nav.upper()}  \nunique three\n{foot}"),
        (4, "a.com", f"{nav}\n{foot}"),
        (5, "b.com", f"{nav}\nb-side content"),  # same line, other group
        (6, "a.com", "twice only\nsolo line"),
        (7, "a.com", "twice only\nanother solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r
        for r in text_analysis.strip_boilerplate(
            df, "doc_id", "text", "source", min_docs=3
        ).collect()
    }
    assert got[1]["clean_text"] == "unique one"
    assert got[1]["n_boilerplate_lines"] == 2
    # normalization: upper/padded nav counts as the same line AND is
    # stripped from doc 3 too
    assert got[3]["clean_text"] == "unique three"
    assert got[4]["clean_text"] == ""  # all boilerplate
    assert got[4]["n_boilerplate_lines"] == 2
    # group isolation: b.com has only 1 doc with nav -> kept
    assert nav in got[5]["clean_text"]
    # below threshold (2 < 3 docs) -> kept
    assert got[6]["clean_text"].startswith("twice only")
    assert got[7]["n_boilerplate_lines"] == 0


def test_contamination_pairs(spark):
    """Planted 13-gram overlap is flagged with the exact distinct-gram
    count, clean docs are absent, and the eval side is broadcast (the
    training side must never shuffle)."""
    from ontologybasedkgcreation_spark.operators.dedup import (
        contamination_pairs,
    )

    bench = "the quick brown fox jumps over the lazy dog near the old mill"
    train = spark.createDataFrame(
        [
            (1, f"intro words {bench} trailing words"),   # full 13-gram hit
            (2, "completely unrelated text with no overlap at all here"),
            (3, bench),                                   # verbatim copy
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    out = contamination_pairs(train, ev, "doc_id", "text", n=13)
    got = {(r["doc"], r["eval_doc"]): r["n_shared"] for r in out.collect()}
    assert set(got) == {(1, 100), (3, 100)}
    assert got[(3, 100)] == 1  # 13 tokens -> exactly one 13-gram
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_pack_shards(spark):
    """Single-stream layout: start offsets are the exclusive running sum
    in id order, a doc straddling the budget boundary belongs to the
    shard where its FIRST token lands, and bucketed mode partitions the
    stream deterministically by the md5 hash."""
    rows = [(i, 40) for i in range(1, 11)]  # 10 docs x 40 tokens
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = {
        r["doc_id"]: r
        for r in text_analysis.pack_shards(
            df, "doc_id", "n", budget=100, n_buckets=1
        ).collect()
    }
    assert [out[i]["start_offset"] for i in range(1, 11)] == [
        40 * (i - 1) for i in range(1, 11)
    ]
    # doc 3 starts at 80 (straddles 100) -> shard 0; doc 4 starts at 120 -> 1
    assert out[3]["shard"] == 0 and out[4]["shard"] == 1
    assert all(r["bucket"] == 0 for r in out.values())
    # bucketed: same doc always lands in the same bucket; offsets restart
    b = text_analysis.pack_shards(df, "doc_id", "n", 100, n_buckets=3)
    rows_b = b.collect()
    assert {r["bucket"] for r in rows_b} <= {0, 1, 2} and len(
        {r["bucket"] for r in rows_b}
    ) > 1
    for bk in {r["bucket"] for r in rows_b}:
        grp = sorted(
            (r for r in rows_b if r["bucket"] == bk),
            key=lambda r: r["doc_id"],
        )
        starts = [r["start_offset"] for r in grp]
        assert starts == [40 * i for i in range(len(grp))]


def test_repetition_signals(spark):
    """Gopher repetition family: hand-computable fixtures for all four
    fractions + the degenerate edge cases (empty doc, doc shorter than
    the n-gram, all-duplicate spam page)."""
    rows = [
        # 3 lines, one dup pair: 'aa bb' x2 (len 5) + 'cc dd' (len 5)
        (1, "aa bb\ncc dd\naa bb"),
        # degenerate spam: 6x 'spam' -> two distinct lines? no: one line,
        # 5-grams: 2 occurrences of the same gram -> dnf = 1/2
        (2, "spam spam spam spam spam spam"),
        # shorter than the 5-gram window and unique 2-grams
        (3, "one two three"),
        # empty / whitespace-only
        (4, "   "),
        # clean longer doc: all 2-grams unique, top covers 7/38 < 0.2
        (5, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        repetition_signals,
    )

    out = {r["doc_id"]: r for r in repetition_signals(df, "doc_id", "text").collect()}

    r1 = out[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == pytest.approx(1.0 / 3.0, abs=1e-9)
    # dup chars: (2-1)*5 / (2*5 + 1*5)
    assert r1["dup_line_char_frac"] == pytest.approx(5.0 / 15.0, abs=1e-9)
    # top 2-gram 'aa bb' appears 2x, covers 2*4=8 of 12 non-ws chars
    assert r1["top_ngram_char_frac"] == pytest.approx(8.0 / 12.0, abs=1e-9)
    assert r1["dup_ngram_frac"] == 0.0  # only 'aa bb cc dd aa' etc, unique
    assert r1["keep"] == 0  # dup_line_frac 0.333 > 0.30

    r2 = out[2]
    # 2-grams: 5x 'spam spam' -> top covers 5*8=40 of 24 chars -> >1 capped? no cap:
    # fraction can exceed 1 by construction (overlapping grams) — Gopher's too
    assert r2["dup_ngram_frac"] == pytest.approx(0.5, abs=1e-9)
    assert r2["keep"] == 0

    r3 = out[3]
    assert r3["n_lines"] == 1
    assert r3["dup_line_frac"] == 0.0
    assert r3["dup_ngram_frac"] == 0.0  # no 5-grams at all
    # a 3-token doc's single top 2-gram covers most of it — the raw signal
    # correctly rejects it; Gopher gates this rule behind a length floor,
    # which callers apply from the returned fractions + token counts
    assert r3["top_ngram_char_frac"] > 0.2 and r3["keep"] == 0

    r4 = out[4]
    assert r4["n_lines"] == 0
    assert r4["keep"] == 1  # nothing repeated in nothing

    r5 = out[5]
    assert r5["top_ngram_char_frac"] == pytest.approx(7.0 / 38.0, abs=1e-9)
    assert r5["keep"] == 1


def test_unigram_logprob(spark):
    """CCNet-style unigram LM scoring: hand-computed logprobs, the
    min_count floor pushing rare train tokens to OOV, and zero-token
    documents passing through as (0, 0, 0.0)."""
    import math

    from ontologybasedkgcreation_spark.operators.text_analysis import (
        unigram_logprob,
    )

    train = spark.createDataFrame(
        [(0, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(5, "a b z"), (6, "c"), (7, "   ")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in unigram_logprob(
            train, score, "doc_id", "text", min_count=2
        ).collect()
    }
    # N=6; counts kept: a=3, b=2 (c=1 < min_count -> OOV floor)
    r5 = out[5]
    assert r5["n_tokens"] == 3 and r5["n_oov"] == 1
    want = -(math.log(3 / 6) + math.log(2 / 6) + math.log(1 / 6)) / 3
    assert r5["avg_neg_logprob"] == pytest.approx(want, abs=1e-7)
    # 'c' was in train but under the floor -> scored as OOV count 1
    r6 = out[6]
    assert r6["n_oov"] == 1
    assert r6["avg_neg_logprob"] == pytest.approx(-math.log(1 / 6), abs=1e-7)
    assert out[7]["n_tokens"] == 0 and out[7]["avg_neg_logprob"] == 0.0


def test_canonicalize_urls(spark):
    """URL canonicalization rules one by one: case, www, default ports,
    fragment, tracking params, param sort, empty path, non-default port
    kept, schemeless garbage passes through empty."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        canonicalize_urls,
    )

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/A/b?z=1&utm_source=t&a=2#x"),
        (2, "http://example.com:80"),
        (3, "http://example.com:8080/p?fbclid=q"),
        (4, "https://sub.shop.co.uk/x"),
        (5, "not-a-url"),
        (6, "http://a.com/p?fbclid&utm_source&z=1"),  # valueless tracking
        (7, "http://deep.sub.example.gov.in/x"),
        (8, "http://news.example.bd/"),        # *.bd wildcard
        (9, "http://maps.city.kawasaki.jp/"),  # !city.kawasaki.jp exception
        (10, "http://park.kawasaki.jp/"),      # *.kawasaki.jp wildcard
        (11, "http://refer.net/p?ref&a=1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["doc_id"]: r
        for r in canonicalize_urls(df, "doc_id", "url").collect()
    }
    r1 = out[1]
    assert r1["canon_url"] == "https://example.com/A/b?a=2&z=1"
    assert r1["n_params"] == 2 and r1["n_tracking"] == 1
    assert r1["domain"] == "example.com"
    assert out[2]["canon_url"] == "http://example.com/"
    # non-default port survives; tracking-only query drops the '?'
    assert out[3]["canon_url"] == "http://example.com:8080/p"
    assert out[3]["n_params"] == 0 and out[3]["n_tracking"] == 1
    # PSL registrable domain: co.uk is a public suffix
    assert out[4]["domain"] == "shop.co.uk"
    assert out[4]["host"] == "sub.shop.co.uk"
    # degenerate input: deterministic pass-through (empty scheme/host,
    # path coerced to '/'), never a crash
    assert out[5]["host"] == "" and out[5]["canon_url"] == ":///"
    # valueless tracking params strip like valued ones
    assert out[6]["canon_url"] == "http://a.com/p?z=1"
    assert out[6]["n_params"] == 1 and out[6]["n_tracking"] == 2
    # PSL depths: exact 2-label rule, 1-label wildcard, 2-label wildcard
    # with its exception
    assert out[7]["domain"] == "example.gov.in"
    assert out[8]["domain"] == "news.example.bd"
    assert out[9]["domain"] == "city.kawasaki.jp"
    assert out[10]["domain"] == "park.kawasaki.jp"
    # unknown TLD falls back to the implicit '*' default rule
    assert out[11]["domain"] == "refer.net"
    assert out[11]["canon_url"] == "http://refer.net/p?a=1"


def test_filter_urls(spark):
    """URL blocklist semantics: domain blocking keys on the PSL
    registrable domain (subdomains blocked, suffix lookalikes NOT),
    path regexes and scheme allowlist work, reason precedence is
    scheme > domain > path, and clean rows pass."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        filter_urls,
    )

    rows = [
        (1, "http://deep.sub.evil.co.uk/x"),       # registrable evil.co.uk
        (2, "https://notevil.co.uk/x"),            # lookalike: passes
        (3, "http://ok.com/ads/banner?x=1"),       # path block
        (4, "ftp://evil.co.uk/ads/z"),             # scheme wins precedence
        (5, "https://WWW.Fine.ORG/page"),          # clean
        (6, "http://bad.blogspot.com:8080/p"),     # host-level entry + port
        (7, "http://sub.bad.blogspot.com/p"),      # host subtree
        (8, "http://alsobad.blogspot.com/p"),      # sibling host: passes
        (9, "http://user:pw@evil.co.uk/p"),        # userinfo stripped
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["doc_id"]: r
        for r in filter_urls(
            df,
            "doc_id",
            "url",
            # bad.blogspot.com is DEEPER than its registrable domain
            # (blogspot.com under the vendored PSL): host-subtree entry
            block_domains=["evil.co.uk", "bad.blogspot.com"],
            block_path_res=[r"^/ads/"],
        ).collect()
    }
    assert out[1]["blocked"] == 1 and out[1]["block_reason"] == "domain"
    assert out[1]["domain"] == "evil.co.uk"
    assert out[2]["blocked"] == 0 and out[2]["domain"] == "notevil.co.uk"
    assert out[3]["blocked"] == 1 and out[3]["block_reason"] == "path"
    assert out[4]["blocked"] == 1 and out[4]["block_reason"] == "scheme"
    assert out[5]["blocked"] == 0 and out[5]["host"] == "fine.org"
    assert out[5]["block_reason"] == ""
    # host-level entry blocks its subtree (incl. ports), not siblings
    assert out[6]["blocked"] == 1 and out[6]["host"] == "bad.blogspot.com"
    assert out[7]["blocked"] == 1
    assert out[8]["blocked"] == 0
    assert out[9]["blocked"] == 1 and out[9]["host"] == "evil.co.uk"


def test_stratified_sample(spark):
    """Hash sampling properties: nested samples (raising a rate only
    grows the kept set), exact 0/1 rates, salt decorrelation, and the
    empirical rate landing near the nominal one."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "s") for i in range(400)], "doc_id long, source string"
    ).cache()

    def kept(rate, salt=""):
        out = stratified_sample(
            df, "doc_id", "source", {"s": rate}, salt=salt
        )
        return {r["doc_id"] for r in out.filter("sample_keep = 1").collect()}

    k25, k50, k75 = kept(0.25), kept(0.5), kept(0.75)
    assert k25 <= k50 <= k75  # nested
    assert kept(0.0) == set()
    assert kept(1.0) == set(range(400))
    assert 0.4 <= len(k50) / 400 <= 0.6
    # a different salt draws a different (deterministic) sample
    assert kept(0.5, salt="x") != k50
    # unknown stratum falls to default_rate=0
    df2 = spark.createDataFrame([(1, "other")], "doc_id long, source string")
    out2 = stratified_sample(df2, "doc_id", "source", {"s": 1.0}).collect()
    assert out2[0]["sample_keep"] == 0


def test_duplicate_spans(spark):
    """Lee et al. exact-substring spans at n=4: cross-document repeats,
    a within-document period-6 repeat splitting into two islands, and a
    doc shorter than the window yielding nothing."""
    rows = [
        (1, "a b c d e f g h"),
        (2, "z z a b c d e q r s"),
        (3, "p q r s t u p q r s t u"),
        (4, "m n o"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_dup_tokens"])
        for r in dedup.duplicate_spans(
            df, "doc_id", "text", n=4, min_total=2
        ).collect()
    )
    # doc1: grams 'a b c d'@0 and 'b c d e'@1 repeat in doc2 -> one island
    # covering tokens 0..4; doc2 same gram pair at starts 2,3 -> 2..6;
    # doc3: starts {0,1,2} and {6,7,8} (self-repeat) -> two islands of 6
    assert out == [
        (1, 0, 4, 5),
        (2, 2, 6, 5),
        (3, 0, 5, 6),
        (3, 6, 11, 6),
    ]


def test_duplicate_spans_rolling_matches_md5(spark):
    """The Rabin-Karp rolling-hash default must produce span output
    BIT-IDENTICAL to the md5 full-gram reference path (the
    cooccurrence_counts_fast pinning discipline) — mixed casing, extra
    whitespace, within-doc and cross-doc repeats, and a sub-window doc."""
    rows = [
        (1, "The quick Brown fox jumps over the lazy dog again and again"),
        (2, "the  quick brown fox jumps over a sleeping cat today"),
        (3, "x y z " * 30),
        (4, "one two three four five one two three four five tail"),
        (5, "short doc"),
        (6, None),
        # U+00A0 is NOT whitespace to Java \s+ (one token "alpha\xa0beta")
        # but IS to Python str.split() — the rolling path must tokenize
        # with the explicit ASCII class or positions shift between modes
        (7, "alpha beta gamma delta epsilon zeta " * 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def spans(hash_kind):
        return sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["n_dup_tokens"])
            for r in dedup.duplicate_spans(
                df, "doc_id", "text", n=5, min_total=2, gram_hash=hash_kind
            ).collect()
        )

    rolling, md5 = spans("rolling"), spans("md5")
    assert rolling == md5
    assert rolling  # non-degenerate: repeats exist
    with pytest.raises(ValueError, match="gram_hash"):
        dedup.duplicate_spans(df, "doc_id", "text", gram_hash="bogus")


def test_importance_weights(spark):
    """DSIR hashed-ngram importance weights: the expected buckets and
    Laplace log-ratios are replayed in pure Python (same md5 60-bit
    convention), and gram-less docs pass through as (0, 0.0)."""
    import hashlib
    import math

    from ontologybasedkgcreation_spark.operators.text_analysis import (
        importance_weights,
    )

    B = 16
    raw = spark.createDataFrame(
        [(0, "a a"), (1, "b"), (2, "   ")], "doc_id long, text string"
    )
    target = raw.filter("doc_id = 0")
    out = {
        r["doc_id"]: r
        for r in importance_weights(
            raw, target, "doc_id", "text", num_buckets=B
        ).collect()
    }

    def bk(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    grams = {0: ["a", "a", "a a"], 1: ["b"], 2: []}
    rc, tc = {}, {}
    for d, gs in grams.items():
        for g in gs:
            rc[bk(g)] = rc.get(bk(g), 0) + 1
            if d == 0:
                tc[bk(g)] = tc.get(bk(g), 0) + 1
    rn, tn = sum(rc.values()), sum(tc.values())

    def want(d):
        return round(
            sum(
                math.log((tc.get(bk(g), 0) + 1) / (tn + B))
                - math.log((rc[bk(g)] + 1) / (rn + B))
                for g in grams[d]
            ),
            7,
        )

    assert out[0]["n_grams"] == 3 and out[1]["n_grams"] == 1
    assert out[0]["log_weight"] == pytest.approx(want(0), abs=1e-9)
    assert out[1]["log_weight"] == pytest.approx(want(1), abs=1e-9)
    # target-heavy doc scores above the non-target doc
    assert out[0]["log_weight"] > out[1]["log_weight"]
    assert out[2]["n_grams"] == 0 and out[2]["log_weight"] == 0.0


def test_quality_classifier_learns_separation(spark):
    """3 GD iterations separate planted positive/negative vocabularies;
    scores are proper probabilities, gram-less docs pass through at
    exactly sigma(0)=0.5."""
    from ontologybasedkgcreation_spark.operators.classifier import (
        score_with_classifier,
        train_quality_classifier,
    )

    pos = spark.createDataFrame(
        [(i, "good great fine solid") for i in range(8)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(100 + i, "bad awful poor broken") for i in range(8)],
        "doc_id long, text string",
    )
    w = train_quality_classifier(
        pos, neg, "doc_id", "text", num_buckets=64, iterations=3, lr=1.0
    )
    assert w.columns == ["bk", "w"]
    held = spark.createDataFrame(
        [(0, "good great"), (1, "bad awful"), (2, "   ")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in score_with_classifier(
            held, w, "doc_id", "text", num_buckets=64
        ).collect()
    }
    assert got[0] > 0.5 > got[1]
    assert got[2] == 0.5
    assert all(0.0 <= s <= 1.0 for s in got.values())


def test_tfidf_top_terms(spark):
    """Hand-computed smoothed TF-IDF with a pinned tie-break: equal
    scores order by term ascending; token-less docs emit no rows."""
    import math

    from ontologybasedkgcreation_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    df = spark.createDataFrame(
        [
            (0, "apple apple banana"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry durian"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    got = {(r["doc_id"], r["rank"]): r for r in rows}
    # N=4 (the empty doc still counts toward N); df: apple 1, banana 2,
    # cherry 2, durian 1
    idf1 = math.log(5 / 2) + 1  # df=1 terms
    idf2 = math.log(5 / 3) + 1  # df=2 terms
    assert got[(0, 1)]["term"] == "apple"
    assert got[(0, 1)]["score"] == pytest.approx(
        round(2 * idf1, 9), abs=1e-12
    )
    assert got[(0, 2)]["term"] == "banana"
    # doc 1: banana and cherry tie (tf=1, df=2) -> term-ascending order
    assert got[(1, 1)]["term"] == "banana"
    assert got[(1, 2)]["term"] == "cherry"
    assert got[(1, 1)]["score"] == got[(1, 2)]["score"] == pytest.approx(
        round(idf2, 9), abs=1e-12
    )
    assert got[(2, 1)]["term"] == "cherry" and got[(2, 1)]["tf"] == 3
    # no rows for the token-less doc
    assert not [k for k in got if k[0] == 3]


def test_weighted_sample(spark):
    """Efraimidis-Spirakis keys replayed in pure Python (same md5 60-bit
    hash), top-k order and rank pinned; zero/negative/NULL weights are
    excluded."""
    import hashlib
    import math

    from ontologybasedkgcreation_spark.operators.text_analysis import (
        weighted_sample,
    )

    rows = [(i, float(w)) for i, w in enumerate([5, 1, 3, 2, 4, 0, -1])]
    rows.append((7, None))
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample(df, "doc_id", "w", k=3).collect()

    def key(i, w):
        h = int(
            hashlib.md5(f"{i}:".encode()).hexdigest()[:15], 16
        )
        return round(math.log((h + 1) / float(1 << 60)) / w, 9)

    expect = sorted(
        ((key(i, w), i, w) for i, w in rows[:5]),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    assert [(r["doc_id"], r["weight"], r["es_key"], r["rank"])
            for r in got] == [
        (i, w, k_, rank + 1) for rank, (k_, i, w) in enumerate(expect)
    ]
    # excluded rows can never appear regardless of k
    all_ids = {
        r["doc_id"] for r in weighted_sample(df, "doc_id", "w", k=99).collect()
    }
    assert all_ids == {0, 1, 2, 3, 4}


def test_warc_roundtrip_and_strictness(spark):
    """encode_warc/parse_warc roundtrip (plain AND per-record gzip
    members), header case-insensitivity, and the integrity raises:
    truncated content, missing separator, bad version line; NULL/empty
    blobs emit no Spark rows."""
    from ontologybasedkgcreation_spark.sources.warc import (
        decode_warc,
        encode_warc,
        parse_warc,
    )

    recs = [
        (
            {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:0>"},
            b"software: test\r\n",
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://e.org/x",
                "WARC-Date": "2026-01-01T00:00:00Z",
            },
            b"<html>body bytes \x00\xff</html>",
        ),
    ]
    for gz in (False, True):
        data = encode_warc(recs, gzip_each=gz)
        back = parse_warc(data)
        assert [p for _, p in back] == [p for _, p in recs]
        assert back[0][0]["WARC-Type"] == "warcinfo"
        assert back[1][0]["WARC-Target-URI"] == "https://e.org/x"
        assert back[1][0]["Content-Length"] == str(len(recs[1][1]))
    # gzip members are independently framed: concatenating two gzipped
    # files still parses as 4 records
    data2 = encode_warc(recs, gzip_each=True)
    assert len(parse_warc(data2 + data2)) == 4
    plain = encode_warc(recs)
    with pytest.raises(ValueError, match="truncated"):
        parse_warc(plain[:-10])
    with pytest.raises(ValueError, match="separator"):
        parse_warc(plain[:-2])
    with pytest.raises(ValueError, match="version"):
        parse_warc(b"HTTP/1.1 200\r\n\r\n")
    df = spark.createDataFrame(
        [(1, encode_warc(recs)), (2, None), (3, b"")],
        "id long, warc binary",
    )
    rows = decode_warc(df).collect()
    assert {r["id"] for r in rows} == {1}
    assert [r["rec_idx"] for r in rows] == [0, 1]
    assert bytes(rows[1]["payload"]) == recs[1][1]


def test_extract_links(spark):
    """href extraction: case-insensitive attribute, both quote styles,
    duplicates collapsed, relative/mailto/javascript/fragment targets
    dropped, linkless pages emit nothing."""
    from ontologybasedkgcreation_spark.operators.web import extract_links

    df = spark.createDataFrame(
        [
            (
                1,
                '<a HREF="https://a.com/x">1</a>'
                "<a href='http://b.org/y?q=1'>2</a>"
                '<a href="https://a.com/x">dup</a>'
                '<a href="/rel">r</a><a href="#top">f</a>'
                '<a href="mailto:x@y.z">m</a>'
                "<a href=\"javascript:void(0)\">j</a>",
            ),
            (2, "<p>no links here</p>"),
            (3, None),
        ],
        "doc_id long, html string",
    )
    got = sorted(
        (r["doc_id"], r["link"])
        for r in extract_links(df, "doc_id", "html").collect()
    )
    assert got == [(1, "http://b.org/y?q=1"), (1, "https://a.com/x")]


def test_robots_compile_and_check(spark):
    """RFC 9309 semantics: specific-agent group shadows the star group,
    wildcard + $ anchor, longest-match with Allow winning ties, empty
    Disallow no-op, unknown-host default allow, and LIKE metacharacter
    escaping (a literal '_' in a rule must not act as a wildcard)."""
    from ontologybasedkgcreation_spark.operators.web import (
        compile_robots,
        robots_check,
    )

    content = (
        "# comment\n"
        "User-agent: ontokg\n"
        "Disallow: /private/\n"
        "Allow: /private/ok*\n"
        "Disallow: /tmp/*.bak$\n"
        "Disallow: /a_b\n"
        "Disallow:\n"
        "User-agent: *\n"
        "Disallow: /\n"
    )
    robots = spark.createDataFrame(
        [("h.com", content)], "host string, robots string"
    )
    rules = compile_robots(robots, "host", "robots", agent="ontokg")
    rl = {r["pattern"]: r for r in rules.collect()}
    # the star group is shadowed; the empty Disallow is a no-op
    assert set(rl) == {"/private/", "/private/ok*", "/tmp/*.bak$", "/a_b"}
    assert rl["/private/ok*"]["allow"] is True
    assert rl["/tmp/*.bak$"]["like_pattern"] == "/tmp/%.bak"
    assert rl["/a_b"]["like_pattern"] == "/a\\_b%"
    urls = spark.createDataFrame(
        [
            (0, "h.com", "/private/x"),       # disallowed
            (1, "h.com", "/private/okay"),    # Allow outranks by length
            (2, "h.com", "/tmp/a.bak"),       # $-anchored wildcard hits
            (3, "h.com", "/tmp/a.bak.txt"),   # anchor must not hit
            (4, "h.com", "/a_b/page"),        # literal underscore hits
            (5, "h.com", "/aXb/page"),        # '_' must NOT wildcard
            (6, "h.com", "/elsewhere"),       # no matching rule
            (7, "nothing.net", "/private/x"), # no robots at all
        ],
        "id long, host string, path string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_check(urls, rules, "id", "host", "path").collect()
    }
    assert got == {
        0: False, 1: True, 2: False, 3: True,
        4: False, 5: True, 6: True, 7: True,
    }


def test_parse_http_payload(spark):
    """HTTP response parsing: CRLF and bare-LF heads, last-value-wins
    repeated headers, declared-charset decode with latin-1 fallback on
    lies, missing body, and malformed status line raises."""
    from ontologybasedkgcreation_spark.sources.warc import (
        decode_http_responses,
        parse_http_payload,
    )

    st, h, body = parse_http_payload(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"X-A: 1\r\nX-A: 2\r\n\r\nhello"
    )
    assert (st, h["content-type"], h["x-a"], body) == (
        200, "text/html", "2", b"hello"
    )
    st, h, body = parse_http_payload(b"HTTP/1.0 301 Moved\nLocation: /x\n\n")
    assert (st, h["location"], body) == (301, "/x", b"")
    with pytest.raises(ValueError, match="status line"):
        parse_http_payload(b"GARBAGE\r\n\r\n")
    # charset: declared utf-8 but invalid bytes -> latin-1 fallback
    df = spark.createDataFrame(
        [
            (1, b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; "
                b"charset=utf-8\r\n\r\n\xff\xfe"),
            (2, b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; "
                b"charset=ISO-8859-1\r\n\r\nabc"),
            (3, None),
        ],
        "id long, payload binary",
    )
    got = {r["id"]: r for r in decode_http_responses(df).collect()}
    assert got[1]["charset"] == "latin-1"
    assert got[1]["body_text"] == "\xff\xfe" and got[1]["body_len"] == 2
    assert got[2]["charset"] == "iso-8859-1"
    assert got[2]["body_text"] == "abc"
    assert 3 not in got


def test_crawl_chain_composes_end_to_end(spark):
    """The whole crawl-side chain in one flow: a gzipped WARC response
    record -> HTTP parse -> link extraction -> URL canonicalization ->
    robots evaluation.  Pins that the stage contracts (column names,
    types, null behavior) actually compose — the 'a user could run
    their pipeline' property."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        canonicalize_urls,
    )
    from ontologybasedkgcreation_spark.operators.web import (
        compile_robots,
        extract_links,
        robots_check,
    )
    from ontologybasedkgcreation_spark.sources.warc import (
        decode_http_responses,
        decode_warc,
        encode_warc,
    )

    html = (
        '<html><a href="https://A.example.com:443/Path?utm_source=x&b=2">'
        "keep</a>"
        '<a href="https://blocked.example.com/private/page">maybe</a>'
        "</html>"
    )
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
        b"\r\n\r\n" + html.encode()
    )
    warc_bytes = encode_warc(
        [(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://src.org/",
            },
            http,
        )],
        gzip_each=True,
    )
    pages = spark.createDataFrame([(1, warc_bytes)], "id long, warc binary")
    records = decode_warc(pages).filter(F.col("warc_type") == "response")
    responses = decode_http_responses(records, "id", "payload")
    links = extract_links(responses, "id", "body_text")
    canon = canonicalize_urls(links, "id", "link")
    got = {r["canon_url"]: r for r in canon.collect()}
    # case/port/tracking-param normalization applied to the extracted link
    assert "https://a.example.com/Path?b=2" in got
    robots = spark.createDataFrame(
        [("blocked.example.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots string",
    )
    rules = compile_robots(robots, "host", "robots")
    verdict = {
        (r["host"], r["allowed"])
        for r in robots_check(
            canon.select("id", "host", "path"), rules, "id", "host", "path"
        ).collect()
    }
    assert ("blocked.example.com", False) in verdict
    assert ("a.example.com", True) in verdict


def test_query_oracle_registry_lockstep():
    """Every queries() entry has an oracle_sql() entry and vice versa
    (the driver hash-checks each pair), and every oracle is a
    non-trivial SQL string."""
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(q) == set(o)
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper()
               for s in o.values())


def test_detect_credit_cards(spark):
    """Luhn validation over bounded digit runs: valid Visa/Amex test
    numbers (plain, dashed, spaced) count as valid, a Luhn-invalid
    sibling does not, 12-digit and 20-digit runs are not candidates,
    NULL text passes through as (0, 0)."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        detect_credit_cards,
    )

    df = spark.createDataFrame(
        [
            (0, "pay 4111111111111111 and 3782 822463 10005"),
            (1, "fake 4111111111111112"),
            (2, "dashed 4012-8888-8888-1881"),
            (3, "short 123456789012 and long 41111111111111112222"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_candidates"], r["n_valid"])
        for r in detect_credit_cards(df, "doc_id", "text").collect()
    }
    assert got == {0: (2, 2), 1: (1, 0), 2: (1, 1), 3: (0, 0), 4: (0, 0)}


def test_asof_join_semantics(spark):
    """Backward/forward/tolerance as-of semantics on a hand case:
    exact-timestamp matches included, pre-first-right lefts NULL,
    keys with no right side NULL, tolerance nulls distant matches,
    bad direction raises."""
    import datetime as dt

    from ontologybasedkgcreation_spark.operators.temporal import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u", T(10)), (2, "u", T(20)), (3, "u", T(5)), (4, "v", T(10))],
        "lid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", T(8), 100.0), ("u", T(10), 200.0), ("u", T(15), 300.0)],
        "k string, ts timestamp, px double",
    )

    def run(**kw):
        return {
            r["lid"]: (r["right_ts"], r["right_px"])
            for r in asof_join(left, right, ["k"], **kw).collect()
        }

    back = run()
    assert back[1] == (T(10), 200.0)   # exact match included
    assert back[2] == (T(15), 300.0)   # latest <= 20
    assert back[3] == (None, None)     # nothing at or before 5
    assert back[4] == (None, None)     # key with no right rows
    fwd = run(direction="forward")
    assert fwd[1] == (T(10), 200.0)    # exact match included
    assert fwd[2] == (None, None)      # nothing at or after 20
    assert fwd[3] == (T(8), 100.0)     # earliest >= 5
    tol = run(tolerance_us=3_000_000)
    assert tol[1] == (T(10), 200.0)    # gap 0 within 3s
    assert tol[2] == (None, None)      # gap 5s > 3s nulls out
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, ["k"], direction="nearest")


def test_sessionize(spark):
    """Hand-traced sessions: a 10-minute gap splits, boundary-equal gap
    does not (strictly-greater semantics), per-key independence, single
    events are their own session."""
    import datetime as dt

    from ontologybasedkgcreation_spark.operators.temporal import sessionize

    T = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, "u", T(0)), (2, "u", T(5)),     # session 0
            (3, "u", T(15)),                    # gap == 10min: same session
            (4, "u", T(26)),                    # gap 11min > 10: session 1
            (5, "v", T(0)),                     # other key: own session 0
        ],
        "eid long, k string, ts timestamp",
    )
    got = {
        r["eid"]: (r["session_index"], r["session_id"])
        for r in sessionize(
            df, ["k"], ts_col="ts", gap_us=10 * 60 * 1_000_000
        ).collect()
    }
    assert got == {
        1: (0, "u:0"), 2: (0, "u:0"), 3: (0, "u:0"),
        4: (1, "u:1"), 5: (0, "v:0"),
    }


def test_interval_join(spark):
    """Bucketed interval join: exactly-once emission for pairs sharing
    MANY buckets, closed-interval boundary touch counts, disjoint and
    cross-key pairs don't, inverted (empty) intervals drop."""
    from ontologybasedkgcreation_spark.operators.temporal import (
        interval_join,
    )

    lft = spark.createDataFrame(
        [
            (1, "a", 0, 100),    # spans many width-10 buckets
            (2, "a", 200, 210),
            (3, "a", 300, 300),  # point interval
            (4, "b", 0, 100),    # other key
            (5, "a", 50, 40),    # inverted: dropped
        ],
        "lid long, k string, s long, e long",
    )
    rgt = spark.createDataFrame(
        [
            (10, "a", 20, 80),    # overlaps 1 across 7 shared buckets
            (11, "a", 100, 150),  # touches 1 at the closed boundary
            (12, "a", 205, 205),  # inside 2
            (13, "a", 301, 310),  # disjoint from 3 (300 < 301)
            (14, "b", 90, 95),    # overlaps 4 only (key b)
        ],
        "rid long, k string, s long, e long",
    )
    got = sorted(
        (r["lid"], r["right_rid"])
        for r in interval_join(
            lft, rgt, ["k"], "s", "e", "s", "e", bucket_width=10
        ).collect()
    )
    assert got == [(1, 10), (1, 11), (2, 12), (4, 14)]


def test_normalize_text(spark):
    """Accent folding, case, punctuation and whitespace collapse produce
    identical dedup keys for typographic variants; NULL text yields ''."""
    from ontologybasedkgcreation_spark.operators.text_analysis import (
        normalize_text,
    )

    df = spark.createDataFrame(
        [
            (0, "Café  RÉSUMÉ"),
            (1, "cafe resume"),
            (2, "naïve—façade (ØRSTED!)"),
            (3, None),
            (4, "  \t  "),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["norm_text"]
        for r in normalize_text(df, "doc_id", "text").collect()
    }
    assert got[0] == got[1] == "cafe resume"
    assert got[2] == "naive facade orsted"
    assert got[3] == "" and got[4] == ""
