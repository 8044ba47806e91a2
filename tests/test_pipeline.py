"""Training-data pipeline ops: dedup, similarity, text analysis, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gos2_spark.pipeline import dedup as D
from gos2_spark.pipeline import multimodal as MM
from gos2_spark.pipeline import similarity as S
from gos2_spark.pipeline import text as T


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
        (3, "completely different content about spark query engines and distributed joins"),
        (4, "der schnelle braune fuchs springt ueber den faulen hund und das ist gut"),
        (5, "le renard brun rapide saute par dessus le chien paresseux dans les bois"),
        (6, "el zorro marron rapido salta sobre el perro perezoso en el bosque"),
        (7, "numbers 123 456 789 !!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        (8, ""),
        (9, "the quick brown fox jumps over the lazy dog near the river bank today extra"),  # near dup
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs).collect()
    groups = {r.keep_id: r.dup_count for r in out}
    assert groups[0] == 2  # docs 0 and 1 identical
    assert sum(groups.values()) == 10


def test_minhash_lsh_finds_near_dups(spark, docs):
    cand = D.minhash_lsh_candidates(docs, num_perm=64, bands=32, shingle_n=3)
    pairs = {(r.key_a, r.key_b): r.est_jaccard for r in cand.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup: all sigs equal
    near = [p for p in pairs if p in {(0, 2), (0, 9), (1, 2), (1, 9), (2, 9)}]
    assert near, f"no near-dup pairs found: {sorted(pairs)}"
    # unrelated docs must not collide with high estimate
    for (a, b), est in pairs.items():
        if a in (3, 4, 5, 6) or b in (3, 4, 5, 6):
            assert est < 0.5


def test_minhash_dedup_groups(spark, docs):
    groups = {
        r.key: r.group_key
        for r in D.minhash_dedup_groups(docs, threshold=0.5, bands=32, shingle_n=3).collect()
    }
    assert groups[1] == groups[0] == 0  # exact dups share the min label
    assert groups[3] == 3  # unique doc keeps its own label
    assert len(groups) == 10


def test_ngram_jaccard(spark, docs):
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "key_a long, key_b long"
    )
    out = {(r.key_a, r.key_b): r.jaccard for r in
           D.ngram_jaccard(docs, candidates=cands, shingle_n=3).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.3 < out[(0, 2)] < 1.0
    assert out[(0, 3)] == 0.0


def test_simhash_candidates(spark, docs):
    sh = {r.key: r.simhash for r in D.simhash(docs).collect()}
    assert sh[0] == sh[1]  # identical text -> identical simhash
    # near dup within small hamming distance
    ham = bin(sh[0] ^ sh[2]).count("1")
    assert ham <= 16
    cand = {(r.key_a, r.key_b): r.hamming
            for r in D.simhash_candidates(docs, max_hamming=16).collect()}
    assert (0, 1) in cand and cand[(0, 1)] == 0


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    base = rng.normal(size=(200, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # make vec 1 a near-copy of vec 0
    base[1] = base[0] + rng.normal(size=16) * 0.01
    base[1] /= np.linalg.norm(base[1])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, base


def test_brute_force_topk(spark, emb):
    df, base = emb
    out = S.brute_force_topk(df, [("q0", list(base[0]))], k=5)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].key == 0 and rows[0].score > 0.9999
    assert rows[1].key == 1  # the near-copy
    # numpy oracle
    scores = base @ base[0]
    want = list(np.argsort(-scores)[:5])
    assert [r.key for r in rows] == want


def test_lsh_topk_recall(spark, emb):
    df, base = emb
    exact = {r.key for r in S.brute_force_topk(df, [("q", list(base[0]))], k=10).collect()}
    approx = {r.key for r in S.lsh_topk(df, [("q", list(base[0]))], k=10,
                                        num_planes=16, bands=8).collect()}
    # banded LSH with 8 bands of 2 bits has high recall on near vectors
    assert 0 in approx and 1 in approx
    assert len(exact & approx) >= 5


def test_ivf_topk(spark, emb):
    df, base = emb
    out = S.ivf_topk(df, [("q", list(base[0]))], k=5, num_centroids=8, nprobe=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].key == 0
    assert rows[1].key == 1


def test_language_id(spark, docs):
    out = {r.doc_id: r.lang for r in docs.select(
        "doc_id", T.language_id(F.col("text")).alias("lang")).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[5] == "fr"
    assert out[6] == "es"
    assert out[8] == "und"


def test_quality_and_tokens(spark, docs):
    out = {r.doc_id: r for r in T.quality_features(docs).collect()}
    assert out[0].q_n_tokens == 14
    assert out[8].q_n_tokens == 0
    assert out[0].quality_score > out[7].quality_score  # prose beats symbol soup
    assert out[7].q_punct_ratio > 0.2
    toks = {r.doc_id: r.n for r in docs.select(
        "doc_id", T.bpe_ish_token_count(F.col("text")).alias("n")).collect()}
    assert toks[0] >= 14
    assert toks[8] == 0


def test_fingerprint_stability(spark, docs):
    fp = {r.doc_id: tuple(r.fp) for r in docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fp[0] == fp[1]
    # winnowing: near-dup shares most selected hashes
    shared = len(set(fp[0]) & set(fp[2]))
    assert shared >= max(1, len(fp[0]) - 2)
    assert fp[8] == ()


def test_multimodal_features(spark):
    media = MM.synth_media(spark, 60)
    feats = MM.extract_features(media, feature_dim=32).collect()
    assert len(feats) == 60
    by_id = {r.media_id: r for r in feats}
    assert all(len(r.features) == 32 for r in feats)
    # video rows get frame sampling; image/audio single frame
    for r in feats:
        if r.kind == "video":
            assert r.n_frames >= 1
        else:
            assert r.n_frames == 1
    # deterministic across runs
    feats2 = MM.extract_features(media, feature_dim=32).collect()
    assert {r.media_id: r.features[0] for r in feats2} == {
        r.media_id: r.features[0] for r in feats
    }
    # the real decoder hook is explicitly stubbed in this container
    with pytest.raises(NotImplementedError):
        MM.decode_real(b"x", "image")


def _forward_filter_png(img: np.ndarray, ftypes: list[int]) -> bytes:
    """Build PNG bytes applying the SPEC's forward filter per row —
    independent of encode_png (which only emits filter 0), so the decoder
    is tested against the spec, not against our own encoder."""
    import struct
    import zlib

    h, w, ch = img.shape

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = [0] * (w * ch)
    for y in range(h):
        line = [int(v) for v in img[y].reshape(-1)]
        ft = ftypes[y % len(ftypes)]
        raw.append(ft)
        out = []
        for x in range(w * ch):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            v = line[x]
            if ft == 0:
                out.append(v)
            elif ft == 1:
                out.append((v - a) & 0xFF)
            elif ft == 2:
                out.append((v - b) & 0xFF)
            elif ft == 3:
                out.append((v - ((a + b) >> 1)) & 0xFF)
            else:
                out.append((v - paeth(a, b, c)) & 0xFF)
        raw.extend(out)
        prev = line

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters():
    from gos2_spark.pipeline.png import decode_png, encode_png

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        img = rng.randint(0, 256, size=(11, 9, ch)).astype(np.uint8)
        # every filter type, spec-forward-filtered independently of encode_png
        for ft in (0, 1, 2, 3, 4):
            got = decode_png(_forward_filter_png(img, [ft]))
            np.testing.assert_array_equal(got, img)
        # mixed filters across rows + encoder roundtrip
        got = decode_png(_forward_filter_png(img, [0, 1, 2, 3, 4]))
        np.testing.assert_array_equal(got, img)
        np.testing.assert_array_equal(decode_png(encode_png(img)), img)


def test_png_decode_rejects_unsupported():
    from gos2_spark.pipeline.png import decode_png

    with pytest.raises(ValueError):
        decode_png(b"JFIF not a png")


def test_multimodal_real_png_decode(spark):
    """End-to-end REAL decode: PNG payloads encoded in executors ->
    extract_features(deterministic_fake=False) -> per-channel mean/std
    features verified against the known pixel formula."""
    media = MM.synth_media_png(spark, 30)
    feats = {r.media_id: r for r in
             MM.extract_features(media, feature_dim=16,
                                 deterministic_fake=False).collect()}
    assert len(feats) == 30
    for i in range(30):
        r = feats[f"png{i}"]
        w = i % 24 + 2
        h = (i * 7) % 24 + 2
        ch = (1, 3, 4)[i % 3]
        assert (r.width, r.height) == (w, h)
        base = np.arange(h * w * ch, dtype=np.int64).reshape(h, w, ch)
        px = ((base + i) % 256).reshape(-1, ch).astype(np.float64)
        np.testing.assert_allclose(r.features[:ch], px.mean(axis=0), rtol=1e-6)
        np.testing.assert_allclose(
            r.features[ch:2 * ch], px.std(axis=0), rtol=1e-5, atol=1e-5)
        assert all(v == 0.0 for v in r.features[2 * ch:])


def test_jpeg_roundtrip_and_parse():
    """Baseline JPEG codec (jpeg.py): encode -> parse (exact dims, DQT
    quality-scaled Annex K tables) -> full decode, pixels within
    quantization error of the source for gray and RGB."""
    from gos2_spark.pipeline import jpeg as J

    yy, xx = np.mgrid[0:21, 0:34]
    rgb = np.stack(
        [(yy * 2 + xx) % 256, (xx * 3) % 256, (yy * 4 + 7) % 256], axis=-1
    ).astype(np.uint8)
    b = J.encode_jpeg(rgb, quality=95)
    info = J.parse_jpeg(b)
    assert (info["width"], info["height"]) == (34, 21)
    assert len(info["components"]) == 3 and not info["progressive"]
    assert all(c["h"] == 1 and c["v"] == 1 for c in info["components"])
    # DQT parse is exact: quality-95 scaling of the Annex K luma table
    scale = 200 - 2 * 95
    want = np.clip((J.QUANT_LUMA * scale + 50) // 100, 1, 255)
    np.testing.assert_array_equal(info["dqt"][0], want)
    dec = J.decode_jpeg(b)
    assert dec.shape == (21, 34, 3)
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 6

    gray = ((yy * 5 + xx * 2) % 251).astype(np.uint8)
    dg = J.decode_jpeg(J.encode_jpeg(gray, quality=98))
    assert dg.shape == (21, 34, 1)
    assert np.abs(dg[..., 0].astype(int) - gray.astype(int)).max() <= 12


def test_jpeg_rejects_non_jpeg_and_parse_reports_subsampling():
    from gos2_spark.pipeline import jpeg as J

    with pytest.raises(ValueError):
        J.parse_jpeg(b"\x89PNG\r\n\x1a\nnot a jpeg")
    # hand-build a minimal SOF0 with 2x2 luma subsampling: parse reports
    # it, decode refuses it
    import struct as _s

    seg = bytes([8]) + _s.pack(">HH", 16, 16) + bytes([3]) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    b = (b"\xff\xd8" + b"\xff\xc0" + _s.pack(">H", 2 + len(seg)) + seg
         + b"\xff\xd9")
    info = J.parse_jpeg(b)
    assert info["components"][0]["h"] == 2 and info["components"][0]["v"] == 2
    with pytest.raises(NotImplementedError):
        J.decode_jpeg(b)


def test_multimodal_real_jpeg_decode(spark):
    """End-to-end REAL JPEG decode: payloads encoded in executors ->
    extract_features(deterministic_fake=False) -> exact dims and
    per-channel mean/std within quantization tolerance of the source."""
    media = MM.synth_media_jpeg(spark, 20)
    feats = {r.media_id: r for r in
             MM.extract_features(media, feature_dim=16,
                                 deterministic_fake=False).collect()}
    assert len(feats) == 20
    for i in range(20):
        r = feats[f"jpg{i}"]
        w = i % 24 + 8
        h = (i * 5) % 24 + 8
        ch = (1, 3)[i % 2]
        assert (r.width, r.height) == (w, h)
        yy, xx = np.mgrid[0:h, 0:w]
        base = np.stack(
            [(yy * (c + 2) + xx + i) % 256 for c in range(ch)], axis=-1
        )
        px = base.reshape(-1, ch).astype(np.float64)
        # JPEG is lossy: means/stds must land within a few gray levels
        np.testing.assert_allclose(r.features[:ch], px.mean(axis=0), atol=4.0)
        np.testing.assert_allclose(
            r.features[ch:2 * ch], px.std(axis=0), atol=6.0)
        assert all(v == 0.0 for v in r.features[2 * ch:])


def test_wav_roundtrip_parse_and_depths():
    """WAV codec (audio.py): int16 roundtrip is exact; header parse
    reports rate/channels/frames; 8/24-bit and float32 PCM decode."""
    import struct

    from gos2_spark.pipeline import audio as A

    n, ch = 37, 2
    k = np.arange(n)[:, None]
    c = np.arange(ch)[None, :]
    s = ((5 * 31 + k * 7 + c * 13) % 65536 - 32768).astype(np.int16)
    b = A.encode_wav(s, 8000)
    info = A.parse_wav(b)
    assert (info["channels"], info["sample_rate"], info["n_frames"]) == (2, 8000, 37)
    w = A.decode_wav(b)
    np.testing.assert_array_equal((w * 32768).astype(np.int64), s.astype(np.int64))

    def wav_raw(tag, bits, raw, nch=1, rate=8000):
        block = nch * bits // 8
        fmt = struct.pack("<HHIIHH", tag, nch, rate, rate * block, block, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(raw)) + raw)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    assert list(A.decode_wav(wav_raw(1, 8, bytes([0, 128, 255]))).ravel()) == [
        -1.0, 0.0, 127 / 128.0]
    v24 = [(1 << 23) - 1, -(1 << 23), 12345]
    raw24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in v24)
    got24 = (A.decode_wav(wav_raw(1, 24, raw24)).ravel() * (1 << 23)).astype(np.int64)
    assert list(got24) == v24
    fl = A.decode_wav(wav_raw(3, 32, np.array([0.5, -0.25], dtype="<f4").tobytes()))
    assert list(fl.ravel()) == [0.5, -0.25]
    with pytest.raises(ValueError):
        A.parse_wav(b"\xff\xd8 not a wav")
    with pytest.raises(NotImplementedError):
        A.decode_wav(wav_raw(85, 16, b"\x00\x00"))  # MP3-in-WAV tag


def test_multimodal_real_wav_decode(spark):
    """End-to-end REAL audio decode: WAV payloads encoded in executors ->
    extract_features(deterministic_fake=False) -> exact channel count,
    frame count, and per-channel means (PCM lossless)."""
    media = MM.synth_media_wav(spark, 16)
    feats = {r.media_id: r for r in
             MM.extract_features(media, feature_dim=8,
                                 deterministic_fake=False).collect()}
    assert len(feats) == 16
    for i in range(16):
        r = feats[f"wav{i}"]
        n = i % 50 + 20
        ch = (1, 2)[i % 2]
        assert (r.width, r.height, r.n_frames) == (ch, 0, n)
        k = np.arange(n)[:, None]
        c = np.arange(ch)[None, :]
        s = ((i * 31 + k * 7 + c * 13) % 65536 - 32768) / 32768.0
        np.testing.assert_allclose(r.features[:ch], s.mean(axis=0), rtol=1e-6)
        np.testing.assert_allclose(
            r.features[ch:2 * ch], s.std(axis=0), rtol=1e-5, atol=1e-6)


def test_avi_mjpeg_roundtrip_parse_and_sampling():
    """MJPEG-AVI codec (video.py): container parse reports geometry/fps/
    frame count; constant-gray frames decode EXACTLY at quality 95; frame
    sampling decodes only every k-th chunk."""
    from gos2_spark.pipeline import video as V

    frames = [np.full((16, 24), (37 + f * 11) % 256, dtype=np.uint8)
              for f in range(7)]
    b = V.encode_avi_mjpeg(frames, fps=25.0, quality=95)
    info = V.parse_avi(b)
    assert (info["width"], info["height"]) == (24, 16)
    assert info["n_frames"] == 7 and info["codec"] == "MJPG"
    assert info["usec_per_frame"] == 40000
    for f in (0, 3, 6):
        dec = V.decode_avi_frame(b, info, f)
        assert dec.shape == (16, 24, 1)
        assert (dec[..., 0] == (37 + f * 11) % 256).all()
    _, sampled = V.sample_avi_frames(b, every_ms=80)  # step 2 at 25 fps
    assert [int(s[0, 0, 0]) for s in sampled] == [37, 59, 81, 103]
    with pytest.raises(ValueError):
        V.parse_avi(b"RIFF\x04\x00\x00\x00WAVE")
    # foreign fourcc: parse succeeds, decode refuses
    b2 = bytearray(b)
    i = b2.find(b"vidsMJPG")
    b2[i + 4:i + 8] = b"H264"
    info2 = V.parse_avi(bytes(b2))
    assert info2["codec"] == "H264"
    with pytest.raises(NotImplementedError):
        V.decode_avi_frame(bytes(b2), info2, 0)


def test_multimodal_real_video_decode(spark):
    """End-to-end REAL video decode: AVI payloads encoded in executors ->
    extract_features(deterministic_fake=False, 80ms sampling) -> exact
    dims, sampled-frame counts, and mean of the constant frame values."""
    media = MM.synth_media_avi(spark, 12)
    feats = {r.media_id: r for r in
             MM.extract_features(media, feature_dim=8,
                                 deterministic_fake=False,
                                 frame_sample_every_ms=80).collect()}
    assert len(feats) == 12
    for i in range(12):
        r = feats[f"avi{i}"]
        n = i % 8 + 3
        vals = [(i * 37 + f * 11) % 256 for f in range(0, n, 2)]
        assert (r.width, r.height) == (i % 16 + 8, (i * 3) % 16 + 8)
        assert r.n_frames == len(vals)
        np.testing.assert_allclose(r.features[0], np.mean(vals), rtol=1e-6)


def test_mixed_png_jpeg_media_table(spark):
    """One media table holding BOTH real codecs: decode_real dispatches on
    magic bytes row by row inside the same mapInPandas pass."""
    media = (MM.synth_media_png(spark, 6)
             .unionByName(MM.synth_media_jpeg(spark, 6))
             .unionByName(MM.synth_media_wav(spark, 6))
             .unionByName(MM.synth_media_avi(spark, 6)))
    feats = MM.extract_features(
        media, feature_dim=8, deterministic_fake=False
    ).collect()
    assert len(feats) == 24
    assert {r.media_id[:3] for r in feats} == {"png", "jpg", "wav", "avi"}


def test_cosine_near_dup_pairs(spark, emb):
    df, _ = emb
    brute = {
        (r.key_a, r.key_b): r.cosine
        for r in S.cosine_near_dup_pairs(df, threshold=0.5, method="brute").collect()
    }
    # ground truth via numpy on the same rows (float32 storage round-trip)
    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    M = np.array([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    Sm = Mn @ Mn.T
    want = {
        (rows[i].vec_id, rows[j].vec_id): Sm[i, j]
        for i in range(len(rows)) for j in range(i + 1, len(rows))
        if Sm[i, j] >= 0.5
    }
    assert set(brute) == set(want)
    for k, v in brute.items():
        assert abs(v - want[k]) < 1e-9
    # LSH-blocked path returns a subset with the same cosines
    lsh = {
        (r.key_a, r.key_b): r.cosine
        for r in S.cosine_near_dup_pairs(
            df, threshold=0.5, method="lsh", num_planes=16, bands=8
        ).collect()
    }
    assert set(lsh) <= set(brute)
    for k, v in lsh.items():
        assert abs(v - brute[k]) < 1e-12
    # high-band config should catch the planted near-identical pair(s)
    assert len(lsh) >= 1


def test_edge_distance_udf(spark):
    from gos2_spark.spark.functions import edge_distance_udf
    from gos2_spark.kernels import predicates as PR
    from gos2_spark.kernels import projection as PJ

    a_ll, b_ll = (10.0, -20.0), (30.0, 40.0)
    pts = [(0, 15.0, 5.0), (1, -40.0, 10.0), (2, 10.0, -20.0), (3, 85.0, 170.0)]
    df = spark.createDataFrame(pts, "key int, lat double, lng double")
    udf = edge_distance_udf(*a_ll, *b_ll)
    got = {r.key: r.d for r in df.select("key", udf("lat", "lng").alias("d")).collect()}
    lat = np.radians(np.array([p[1] for p in pts]))
    lng = np.radians(np.array([p[2] for p in pts]))
    x, y, z = PJ.latlng_to_xyz(lat, lng)
    import math
    def xyz(la, ln):
        la, ln = math.radians(la), math.radians(ln)
        return (math.cos(ln) * math.cos(la), math.sin(ln) * math.cos(la), math.sin(la))
    want = PR.distance_to_edges(np.stack([x, y, z], axis=1), xyz(*a_ll), xyz(*b_ll))
    for i, p in enumerate(pts):
        assert got[p[0]] == want[i]  # bit-identical: same kernel
    assert got[2] == 0.0  # on-endpoint distance is exactly zero


def test_simhash_multiblock_guarantee(spark):
    """Every pair within max_hamming=3 must be caught by the multi-table
    banding (pigeonhole: >= n_blocks - 3 identical blocks)."""
    rng = np.random.default_rng(11)
    base = int(rng.integers(0, 2**63))
    rows = [(0, base)]
    # plant signatures at exact Hamming distances 1..5 from base
    for d in range(1, 6):
        flipped = base
        for bit in rng.choice(64, size=d, replace=False):
            flipped ^= 1 << int(bit)
        rows.append((d, flipped))
    sig = spark.createDataFrame(
        [(k, np.int64(np.uint64(v)).item()) for k, v in rows],
        "key long, simhash long",
    )
    # drive the banding directly on the signature table via the module
    # internals (same path simhash_candidates uses after simhash())
    import gos2_spark.pipeline.dedup as dd

    tables = dd._simhash_tables(3, None)
    assert len(tables) == 20  # C(6,3)
    # run the full function on synthetic docs is covered elsewhere; here
    # check the key construction catches all hamming<=3 pairs
    from pyspark.sql import functions as F

    nb = max(max(c) for c in tables) + 1
    base_w, rem = divmod(64, nb)
    widths = [base_w + 1 if i < rem else base_w for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]

    def table_key(combo):
        expr = F.lit(0).cast("long")
        shift = 0
        for bi in combo:
            block = F.shiftright("simhash", offsets[bi]).bitwiseAND(
                F.lit((1 << widths[bi]) - 1))
            expr = expr.bitwiseOR(F.shiftleft(block, shift))
            shift += widths[bi]
        return expr

    keys = sig.select(
        "key",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("tbl"), table_key(c).alias("tbl_key"))
            for t, c in enumerate(tables)
        ])).alias("kv"),
    ).select("key", "kv.tbl", "kv.tbl_key")
    a, b = keys.alias("a"), keys.alias("b")
    got = {
        (r.key_a, r.key_b)
        for r in a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.tbl_key") == F.col("b.tbl_key"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .distinct()
        .collect()
    }
    for d in (1, 2, 3):
        assert (0, d) in got  # guaranteed recall within the threshold


def test_simhash_bucket_cap_bounds_candidates(spark, caplog):
    """10^3 near-identical docs: without a cap the candidate join is
    quadratic (~500k pairs); with the cap the over-full buckets drop out
    and the pair count stays O(docs * cap)."""
    n = 1000
    rows = [(i, "common shared boilerplate text repeated everywhere") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import logging

    with caplog.at_level(logging.WARNING, logger="gos2_spark.pipeline.dedup"):
        out = D.simhash_candidates(docs, bucket_cap=50)
        cnt = out.count()
    assert cnt == 0  # all buckets over-full -> dropped
    assert any("over-full" in r.message for r in caplog.records)
    # sanity: with the cap disabled the same input IS quadratic
    uncapped = D.simhash_candidates(docs.limit(60), bucket_cap=None).count()
    assert uncapped == 60 * 59 // 2
