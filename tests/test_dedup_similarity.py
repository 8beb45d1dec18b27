"""Unit tests for the training-data operators (SURVEY.md Phase 4):
dedup families, similarity search, text functions, multimodal plumbing.

Small hand-built frames with known answers — the sf-fixture parity runs
live in scripts/check_parity.py; these pin the operator semantics
(duplicate detection, LSH recall on exact dups, hash determinism) at
golden-value level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from media_encoders import build_mjpeg_mp4, encode_flac, encode_jpeg_progressive
from hospital_stain_tracker_data_pipeline_spark.functions.text import (
    fingerprint64_hex,
    lang_id,
    quality_score,
    token_count,
)
from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    extract_image_features,
    to_media_table,
)
from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
    ann_lsh_pairs,
    blocked_similar_pairs,
    knn_brute_force,
)

DOCS = [
    (1, "en", "the quick brown fox jumps over the lazy dog again and again"),
    (2, "en", "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
    (3, "en", "the quick brown fox jumps over the lazy cat again and again"),  # near dup of 1
    (4, "en", "completely different text about weather patterns in spring"),
    (5, "de", "der schnelle braune fuchs springt wieder und wieder"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, lang string, text string")


def test_exact_dedup_groups_identical_docs(spark):
    out = {r.keep_id: r.dup_count for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2  # docs 1+2 share a fingerprint; lowest id kept
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_fingerprint_ignores_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [("A  B\tc",), ("a b C",)], "text string"
    ).select(fingerprint64_hex(F.col("text")).alias("fp"))
    a, b = [r.fp for r in df.collect()]
    assert a == b and len(a) == 16


def test_jaccard_pairs_rank_near_dups_first(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), "lang").collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert 0.3 < pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs  # zero-overlap pairs never materialize
    assert (1, 5) not in pairs  # cross-language blocked


def test_jaccard_df_cap_drops_hot_shingle_pairs(spark):
    """A ubiquitous shingle (present in every doc) must not pair the
    whole corpus quadratically: with max_df below its document
    frequency the hot shingle is dropped before the pair join, so docs
    whose ONLY overlap is the stop-phrase never materialize a pair."""
    stop = "call me right now"
    rows = [
        (i, "en", f"{stop} unique{i} text{i} body{i} words{i} here{i}")
        for i in range(12)
    ]
    rows.append((100, "en", rows[0][2]))  # true dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    uncapped = ngram_jaccard_pairs(docs, "lang", max_df=None)
    capped = ngram_jaccard_pairs(docs, "lang", max_df=5)
    n_unc, n_cap = uncapped.count(), capped.count()
    # every doc shares the stop-phrase shingles → quadratic pair count
    assert n_unc == 13 * 12 // 2
    # capped: only the true dup survives (stop-shingles have df=13 > 5)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(0, 100)} and n_cap == 1


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_dedup_pairs(_docs(spark), threshold=0.3).collect()
    }
    # identical docs share every band → always a candidate; near dup
    # passes the verify threshold
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got
    # verify step guarantees no below-threshold pair leaks through
    assert all(j >= 0.3 for j in got.values())


def test_simhash_distance_orders_by_similarity(spark):
    d = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(_docs(spark), max_hamming=32).collect()
    }
    assert d[(1, 2)] == 0  # identical text → identical simhash
    assert d[(1, 3)] < d[(1, 4)]  # near dup closer than unrelated


def test_simhash_banding_is_exact_and_band_keyed(spark):
    """Pigeonhole banding must (a) reproduce the brute-force pair set
    exactly for distance ≤ max_hamming, (b) generate candidates via a
    band-keyed equi-join — NOT a within-block cross join — and (c)
    actually prune: candidate pairs << all pairs on diverse docs."""
    import contextlib
    import io

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        simhash64,
        simhash_band_candidates,
    )

    rows = [(i, "en", " ".join(f"w{(i * 7 + j * 13) % 97}" for j in range(30)))
            for i in range(40)]
    rows += [(100, "en", rows[0][2]), (101, "en", rows[0][2] + " extra")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    sims = {
        r.doc_id: r.h
        for r in docs.select(
            "doc_id", simhash64(F.col("text")).alias("h")
        ).collect()
    }
    ids = sorted(sims)
    brute = {
        (a, b): bin(sims[a] ^ sims[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    assert got == brute and (0, 100) in got  # exact recall, incl. the dup

    # (b) plan: the candidate join is keyed on (band, val)
    cand = simhash_band_candidates(docs, max_hamming=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()
    assert "band" in plan and "val" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # (c) pruning: far fewer candidates than all pairs
    n = docs.count()
    assert cand.count() < n * (n - 1) // 2 * 0.5


VECS = [
    (0, "a", [1.0, 0.0, 0.0, 0.0]),
    (1, "a", [0.999, 0.04, 0.0, 0.0]),  # ~same direction as 0
    (2, "a", [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    (3, "b", [1.0, 0.0, 0.0, 0.0]),  # same as 0, other block
    (4, "a", [-1.0, 0.0, 0.0, 0.0]),  # opposite
]


def _vecs(spark):
    return spark.createDataFrame(
        VECS, "vec_id long, label string, embedding array<double>"
    )


def test_knn_brute_force_orders_by_cosine(spark):
    q = _vecs(spark).filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = knn_brute_force(_vecs(spark), q, k=4).orderBy(
        F.desc("cosine_sim")
    ).collect()
    order = [r.vec_id for r in rows]
    assert order[0] in (1, 3) and order[1] in (1, 3)  # 3 is identical, 1 near
    assert order[-1] == 4  # opposite direction last
    assert rows[-1].cosine_sim == -1.0


def test_blocked_pairs_respect_block_and_threshold(spark):
    got = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in blocked_similar_pairs(_vecs(spark), "label", 0.9).collect()
    }
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert (0, 3) not in got  # different block
    assert (0, 2) not in got and (0, 4) not in got  # below threshold


def test_blocked_pairs_refuses_oversized_block(spark):
    # the all-pairs block is the labeled exactness baseline; at scale an
    # unbounded block is a quadratic blow-up, so the cap must fail fast
    # and point at the sub-quadratic alternatives
    import pytest

    with pytest.raises(ValueError, match="ann_lsh_pairs"):
        blocked_similar_pairs(
            _vecs(spark), "label", 0.9, max_block_rows=1
        ).collect()
    # explicit opt-out still runs
    n = blocked_similar_pairs(
        _vecs(spark), "label", 0.9, max_block_rows=None
    ).count()
    assert n >= 1


def test_ann_lsh_recall_on_identical_vectors(spark):
    # identical/near-identical vectors always share every bucket →
    # multi-table LSH must recover them; verify keeps only >= threshold
    got = {
        (r.id_a, r.id_b)
        for r in ann_lsh_pairs(_vecs(spark), threshold=0.9, dim=4).collect()
    }
    assert (0, 3) in got and (0, 1) in got
    assert all(a < b for a, b in got)


def test_text_functions_golden(spark):
    [r] = (
        spark.createDataFrame(
            [("the cat sat on the mat",)], "text string"
        )
        .select(
            token_count(F.col("text")).alias("n"),
            quality_score(F.col("text")).alias("q"),
            lang_id(F.col("text")).alias("lang"),
        )
        .collect()
    )
    assert r.n == 6
    # len_score = 6/100, stop_ratio = 2/6 → 0.5*0.06 + 0.5*(1-1/3)
    assert r.q == round(0.5 * 0.06 + 0.5 * (2 / 3), 4)
    assert r.lang == "en"


def test_multimodal_features_deterministic_fake(spark):
    import hashlib

    media = to_media_table(_docs(spark), "doc_id", "text", source="t")
    rows = {r.media_id: r for r in extract_image_features(media, fake_decode=True).collect()}
    payload = DOCS[0][2].encode()
    digest = hashlib.sha256(payload).hexdigest()
    seed = int(digest[:8], 16)
    assert rows[1].sha256 == digest
    assert rows[1].width == 64 + seed % 1024
    assert rows[1].height == 64 + (seed >> 10) % 1024
    assert rows[1].n_bytes == len(payload)
    # exact dup payloads hash identically
    assert rows[2].sha256 == rows[1].sha256


def _make_png(w, h):
    import struct as _s
    import zlib

    def chunk(typ, data):
        c = _s.pack(">I", len(data)) + typ + data
        return c + _s.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x80" * (3 * w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_header_decode(spark):
    """Genuine image bytes decode for real — stdlib header parsing, no
    PIL: true mime + dimensions come back through the full Arrow
    mapInPandas path (fake_decode=False)."""
    import struct as _s

    png = _make_png(320, 200)
    gif = b"GIF89a" + _s.pack("<HH", 17, 23) + b"\x00" * 20
    bmp = (
        b"BM" + b"\x00" * 16 + _s.pack("<ii", 64, -48) + b"\x00" * 20
    )  # negative height = top-down
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + _s.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + _s.pack(">H", 17) + b"\x08" + _s.pack(">HH", 240, 360)
        + b"\x00" * 10
        + b"\xff\xd9"
    )
    # legal JPEG variations: 0xFF fill bytes before a marker, and a
    # standalone TEM marker (no length field) before the frame header
    jpeg_fill = (
        b"\xff\xd8" + b"\xff\xff\xff\x01"
        + b"\xff\xff\xc0" + _s.pack(">H", 17) + b"\x08" + _s.pack(">HH", 10, 20)
        + b"\x00" * 10 + b"\xff\xd9"
    )
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(bmp)),
         (4, bytearray(jpeg)), (5, bytearray(jpeg_fill))],
        "doc_id long, payload binary",
    )
    media = to_media_table(df, "doc_id", "payload", source="t")
    rows = {
        r.media_id: r
        for r in extract_image_features(media, fake_decode=False).collect()
    }
    assert (rows[1].mime, rows[1].width, rows[1].height) == ("image/png", 320, 200)
    assert (rows[2].mime, rows[2].width, rows[2].height) == ("image/gif", 17, 23)
    assert (rows[3].mime, rows[3].width, rows[3].height) == ("image/bmp", 64, 48)
    assert (rows[4].mime, rows[4].width, rows[4].height) == ("image/jpeg", 360, 240)
    assert (rows[5].mime, rows[5].width, rows[5].height) == ("image/jpeg", 20, 10)
    assert rows[1].n_bytes == len(png)


def test_multimodal_audio_wav_real_decode():
    """A genuine WAV payload (synthesized RIFF container) yields its
    true sample rate / channels / bit depth / duration through the
    stdlib RIFF walk; a non-audio payload sniffs to None."""
    import struct as _s

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        sniff_wav,
    )

    rate, channels, bits, n_frames = 16000, 2, 16, 16000 * 3  # 3 s stereo
    frame = channels * bits // 8
    data = b"\x00" * (n_frames * frame)
    fmt = _s.pack("<HHIIHH", 1, channels, rate, rate * frame, frame, bits)
    wav = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt)) + fmt
        + b"data" + _s.pack("<I", len(data)) + data
    )
    r = sniff_wav(wav)
    assert (r["mime"], r["sample_rate"], r["channels"], r["bits_per_sample"]) == (
        "audio/wav", rate, channels, bits,
    )
    assert r["n_frames"] == n_frames and abs(r["duration_s"] - 3.0) < 1e-9
    assert sniff_wav(DOCS[0][2].encode()) is None


def test_multimodal_video_mp4_sniff_duration():
    """A synthesized MP4 (ftyp + moov/mvhd v0) decodes its real
    duration; with no sample tables there is no JPEG track."""
    import struct as _s

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        mp4_jpeg_track,
        sniff_mp4,
    )

    def box(typ, payload):
        return _s.pack(">I", 8 + len(payload)) + typ + payload

    # mvhd v0: ver/flags + ctime + mtime + timescale(1000) + duration(3500ms)
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8 + _s.pack(">II", 1000, 3500) + b"\x00" * 80)
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + box(b"moov", mvhd)
    got = sniff_mp4(mp4)
    assert got["mime"] == "video/mp4" and abs(got["duration_s"] - 3.5) < 1e-9
    assert mp4_jpeg_track(mp4) is None


def _rgb_gradient(h, w):
    """Deterministic (h, w, 3) uint8 test image with distinct pixels."""
    import numpy as _np

    px = _np.zeros((h, w, 3), dtype=_np.uint8)
    px[:, :, 0] = (_np.arange(h)[:, None] * 7) % 256
    px[:, :, 1] = (_np.arange(w)[None, :] * 11) % 256
    px[:, :, 2] = (_np.arange(h)[:, None] + _np.arange(w)[None, :]) % 256
    return px


def test_bmp_codec_roundtrip_with_stride_padding():
    """encode_bmp → decode_bmp_pixels must be the identity, including
    widths whose 3-byte rows don't land on the mandatory 4-byte row
    boundary (w=3 → 9-byte row pads to 12; w=5 → 15 pads to 16)."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
    )

    for h, w in [(4, 3), (7, 5), (2, 4), (1, 1)]:
        px = _rgb_gradient(h, w)
        raw = encode_bmp(px)
        stride = (w * 3 + 3) & ~3
        assert len(raw) == 54 + stride * h
        back = decode_bmp_pixels(raw)
        assert back is not None and _np.array_equal(back, px)


def test_bmp_decode_topdown_negative_height():
    """A negative biHeight means top-down row order; the decoder must
    return the same array the bottom-up encoding of the same pixels
    yields (rows NOT flipped twice)."""
    import struct as _s

    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
    )

    px = _rgb_gradient(3, 3)
    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = _np.zeros((h, stride), dtype=_np.uint8)
    body[:, : w * 3] = px[:, :, ::-1].reshape(h, w * 3)  # top-down: no flip
    raw = (
        _s.pack("<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54)
        + _s.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, stride * h,
                  2835, 2835, 0, 0)
        + body.tobytes()
    )
    got = decode_bmp_pixels(raw)
    assert got is not None and _np.array_equal(got, px)
    assert _np.array_equal(got, decode_bmp_pixels(encode_bmp(px)))


def test_sniff_mp4_largesize_and_size0_boxes():
    """ISO-BMFF size encodings beyond the 32-bit compact form: a
    size==1 box carries its real 64-bit largesize (so a sniffer must
    skip it correctly to reach moov), and a size==0 final box extends
    to the end of the container."""
    import struct as _s

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        sniff_mp4,
    )

    def box(typ, payload):
        return _s.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8 + _s.pack(">II", 1000, 2500) + b"\x00" * 80,
    )
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")

    # size==1: mdat with 64-bit largesize BEFORE moov — must be skipped
    mdat_payload = b"\x00" * 24
    mdat_large = (
        _s.pack(">I", 1) + b"mdat" + _s.pack(">Q", 16 + len(mdat_payload))
        + mdat_payload
    )
    out = sniff_mp4(ftyp + mdat_large + box(b"moov", mvhd))
    assert out is not None and abs(out["duration_s"] - 2.5) < 1e-9

    # size==0: the LAST top-level box (here moov itself) runs to EOF
    moov_size0 = _s.pack(">I", 0) + b"moov" + mvhd
    out0 = sniff_mp4(ftyp + moov_size0)
    assert out0 is not None and abs(out0["duration_s"] - 2.5) < 1e-9

    # malformed largesize (< header length) must stop cleanly, not loop
    bad = ftyp + _s.pack(">I", 1) + b"mdat" + _s.pack(">Q", 8)
    assert sniff_mp4(bad) == {"mime": "video/mp4", "duration_s": None}


def test_multimodal_real_decode_is_explicitly_stubbed(spark):
    import pytest

    media = to_media_table(_docs(spark), "doc_id", "text", source="t")
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        extract_image_features(media, fake_decode=False).collect()


def test_null_text_and_embedding_rows_survive(spark):
    """NULL payload rows must NULL-propagate (drop out of pair results),
    never crash an Arrow worker — regression for the vectorized UDFs."""
    docs = spark.createDataFrame(
        DOCS + [(99, "en", None)], "doc_id long, lang string, text string"
    )
    sim = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_hamming=32).collect()
    }
    assert all(99 not in p for p in sim) and (1, 2) in sim

    mh = minhash_lsh_dedup_pairs(docs, threshold=0.3).collect()
    assert all(r.id_a != 99 and r.id_b != 99 for r in mh)

    vecs = spark.createDataFrame(
        VECS + [(99, "a", None)],
        "vec_id long, label string, embedding array<double>",
    )
    ann = {
        (r.id_a, r.id_b)
        for r in ann_lsh_pairs(vecs, threshold=0.9, dim=4).collect()
    }
    assert all(99 not in p for p in ann) and (0, 3) in ann


def test_connected_components_min_label(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        connected_components_min_label,
    )

    # components: {1,2,3,4} (chain), {5,6}, {7} isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    out = {
        r.node: r.cluster_id
        for r in connected_components_min_label(edges, nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_connected_components_chain_telemetry_and_guard(spark):
    """Convergence telemetry + the loud max_iter guard on the planted
    worst case: a 2^6-node chain has diameter 63, so min-label needs
    63 propagation rounds + 1 fixpoint-proof round. With max_iter
    exhausted the operator must RAISE (unconverged labels are
    silently-wrong clusters), never return."""
    import pytest as _pytest

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        connected_components_min_label,
    )

    n = 64  # 2^6 chain: the degenerate component shape
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    tel: dict = {}
    out = connected_components_min_label(
        edges, max_iter=80, telemetry=tel
    ).collect()
    assert all(r.cluster_id == 0 for r in out) and len(out) == n
    assert tel["converged"] is True
    # rounds = diameter + the no-change proof round; pin the bound so a
    # propagation-speed regression (e.g. a broken neighbor join) fails
    # here instead of silently tripling cluster cost
    assert tel["iterations"] == n

    # diameter exactly max_iter converges (the fixpoint-proof round
    # rides on top of the propagation budget, not out of it)
    tel_exact: dict = {}
    out2 = connected_components_min_label(
        edges, max_iter=n - 1, telemetry=tel_exact
    ).collect()
    assert all(r.cluster_id == 0 for r in out2) and tel_exact["converged"]

    tel2: dict = {}
    with _pytest.raises(ValueError, match="did not converge"):
        connected_components_min_label(edges, max_iter=10, telemetry=tel2)
    assert tel2 == {"iterations": 11, "converged": False}


def test_png_codec_roundtrip_and_all_filters():
    """decode_png_pixels must invert encode_png AND handle scanlines
    filtered with every PNG filter type (Sub/Up/Average/Paeth are the
    per-row predictions real encoders emit adaptively); the test
    applies each filter with an independent reference implementation
    and checks the decoder recovers the original pixels."""
    import struct as _s
    import zlib as _z

    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    px = _rgb_gradient(6, 5)
    back = decode_png_pixels(encode_png(px))
    assert back is not None and _np.array_equal(back, px)

    # reference filterer (independent of the decoder) — filter each row
    # with its row-index % 5 filter type
    h, w, ch = px.shape
    raw = px.reshape(h, w * ch).astype(_np.int32)
    lines = []
    for y in range(h):
        f = y % 5
        cur = raw[y]
        up = raw[y - 1] if y else _np.zeros(w * ch, _np.int32)
        filtered = _np.empty(w * ch, _np.int32)
        for x in range(w * ch):
            a = cur[x - ch] if x >= ch else 0
            b = up[x]
            c = up[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filtered[x] = (cur[x] - pred) & 0xFF
        lines.append(bytes([f]) + bytes(filtered.astype(_np.uint8)))

    def chunk(typ, payload):
        return (
            _s.pack(">I", len(payload)) + typ + payload
            + _s.pack(">I", _z.crc32(typ + payload) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    got = decode_png_pixels(png)
    assert got is not None and _np.array_equal(got, px)


def test_png_decode_rgba_drops_alpha_and_rejects_exotics():
    import struct as _s
    import zlib as _z

    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_png_pixels,
    )

    def chunk(typ, payload):
        return (
            _s.pack(">I", len(payload)) + typ + payload
            + _s.pack(">I", _z.crc32(typ + payload) & 0xFFFFFFFF)
        )

    def png(w, h, color_type, body, bit_depth=8, interlace=0):
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace))
            + chunk(b"IDAT", _z.compress(body))
            + chunk(b"IEND", b"")
        )

    rgb = _rgb_gradient(2, 3)
    rgba = _np.dstack([rgb, _np.full((2, 3), 200, _np.uint8)])
    body = b"".join(
        b"\x00" + bytes(rgba[y].reshape(-1)) for y in range(2)
    )
    got = decode_png_pixels(png(3, 2, 6, body))
    assert got is not None and _np.array_equal(got, rgb)  # alpha dropped

    rgb_body = b"".join(b"\x00" + bytes(rgb[y].reshape(-1)) for y in range(2))
    assert decode_png_pixels(png(3, 2, 3, rgb_body)) is None      # palette
    assert decode_png_pixels(png(3, 2, 2, rgb_body, bit_depth=16)) is None
    assert decode_png_pixels(png(3, 2, 2, rgb_body, interlace=1)) is None
    assert decode_png_pixels(b"\x89PNG\r\n\x1a\njunk") is None


def test_wav_codec_roundtrip_stereo():
    """16-bit PCM WAV is lossless end to end: a stereo sine encodes and
    decodes back to the same rate and the same frames."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav,
    )

    n, rate = 1600, 16000
    t = _np.arange(n)
    wave = (_np.sin(2 * _np.pi * 440 * t / rate) * 20000).astype(_np.int16)
    stereo = _np.stack([wave, -wave], axis=1)
    dec = decode_wav_samples(encode_wav(stereo, rate))
    assert dec is not None and dec[0] == rate
    assert _np.array_equal(dec[1], stereo)


def test_wav_decode_rejects_non_pcm_and_zero_channels():
    """wFormatTag != 1 (compressed codecs often declare 16 bits too)
    and channels=0 must both return None — not silently decode garbage,
    not ZeroDivisionError."""
    import struct as _s

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_wav_samples,
    )

    def wav(tag, channels, bits=16):
        fmt = _s.pack("<HHIIHH", tag, channels, 8000, 16000, 2, bits)
        data = b"\x00" * 64
        return (
            b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
            + b"fmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", len(data)) + data
        )

    assert decode_wav_samples(wav(85, 2)) is None   # MPEG-in-WAV tag
    assert decode_wav_samples(wav(1, 0)) is None    # zero channels
    assert decode_wav_samples(wav(1, 2)) is not None


def _gradient_rgb(h, w):
    import numpy as _np

    yy, xx = _np.mgrid[0:h, 0:w]
    return _np.stack(
        [
            xx * 255 // max(w - 1, 1),
            yy * 255 // max(h - 1, 1),
            (xx + yy) * 255 // max(w + h - 2, 1),
        ],
        axis=-1,
    ).astype(_np.uint8)


def test_jpeg_codec_roundtrip_within_quantization_loss():
    """encode_jpeg → decode_jpeg_pixels round-trips within the
    quantization error budget across quality levels, 4:4:4 and 4:2:0,
    restart intervals, odd (non-multiple-of-8) dimensions and
    grayscale — the baseline-JPEG envelope, pure numpy/stdlib."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    px = _gradient_rgb(48, 64)
    for kwargs, budget in [
        (dict(quality=75), 8),
        (dict(quality=95), 5),
        (dict(quality=90, subsampling="420"), 10),
        (dict(quality=90, restart_interval=3), 8),
        (dict(quality=90, subsampling="420", restart_interval=2), 10),
    ]:
        raw = encode_jpeg(px, **kwargs)
        dec = decode_jpeg_pixels(raw)
        assert dec is not None and dec.shape == px.shape, kwargs
        err = _np.abs(dec.astype(int) - px.astype(int))
        assert err.max() <= budget, (kwargs, err.max())
    # odd dims: padding must not leak into the cropped output
    odd = px[:45, :61]
    dec = decode_jpeg_pixels(encode_jpeg(odd, quality=95))
    assert dec is not None and dec.shape == (45, 61, 3)
    # grayscale: 1 component replicated to 3 identical channels
    g = px[..., 0]
    dec = decode_jpeg_pixels(encode_jpeg(g, quality=90))
    assert dec is not None and dec.shape == (48, 64, 3)
    assert _np.array_equal(dec[..., 0], dec[..., 1])
    assert _np.abs(dec[..., 0].astype(int) - g.astype(int)).max() <= 4


def test_jpeg_decode_is_deterministic_and_rejects_non_baseline():
    """Same payload → bit-identical pixels (the partition-invariance
    property every codec here guarantees); non-JPEG, truncated and
    arithmetic-coded payloads return None instead of raising."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    raw = encode_jpeg(_gradient_rgb(24, 40), quality=85)
    a, b = decode_jpeg_pixels(raw), decode_jpeg_pixels(raw)
    assert a is not None and _np.array_equal(a, b)
    assert decode_jpeg_pixels(b"not a jpeg") is None
    assert decode_jpeg_pixels(raw[:40]) is None
    # flip SOF0 -> SOF9 (arithmetic coding): politely out of scope,
    # not a crash (progressive SOF2 is IN scope since round 6)
    arith = bytearray(raw)
    i = arith.find(b"\xff\xc0")
    arith[i + 1] = 0xC9
    assert decode_jpeg_pixels(bytes(arith)) is None


def test_jpeg_progressive_roundtrip_matches_baseline():
    """Progressive encode → decode is BIT-IDENTICAL to the baseline
    decode of the same image at the same quality: both paths carry the
    same quantized coefficients, so the reconstruction must agree
    exactly — across grayscale/color, odd sizes, 4:2:0, and both scan
    styles (spectral selection only, and the libjpeg-style multi-level
    successive-approximation script with Al=2 first passes, a 2→1
    refinement over a band that does not match the first-pass split,
    and a final 1→0 pass)."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = _np.random.default_rng(11)
    cases = [
        ((24, 17, 3), 85, "444"),
        ((16, 16), 85, "444"),
        ((9, 31, 3), 60, "420"),
        ((1, 1, 3), 95, "444"),
        ((40, 56, 3), 30, "420"),
    ]
    for shape, q, sub in cases:
        px = rng.integers(0, 256, size=shape).astype(_np.uint8)
        kw = {} if len(shape) == 2 else {"subsampling": sub}
        base = decode_jpeg_pixels(encode_jpeg(px, quality=q, **kw))
        for succ in (False, True):
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(px, quality=q, successive=succ, **kw)
            )
            assert prog is not None, (shape, q, sub, succ)
            assert _np.array_equal(base, prog), (shape, q, sub, succ)
    # near-flat field with one impulse: long EOB runs across blocks,
    # the buffered-correction-bit (BE) path in refinement scans
    flat = _np.full((48, 48, 3), 129, dtype=_np.uint8)
    flat[24, 24] = 0
    base = decode_jpeg_pixels(encode_jpeg(flat, quality=85))
    prog = decode_jpeg_pixels(
        encode_jpeg_progressive(flat, quality=85, successive=True)
    )
    assert _np.array_equal(base, prog)


def test_jpeg_progressive_property_sweep():
    """Randomized adversarial sweep (noise / gradient / flat-impulse ×
    random sizes × qualities × subsampling): every progressive payload
    decodes bit-identically to its baseline twin. Failure prints the
    reproducing case."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = _np.random.default_rng(23)
    for i in range(25):
        hh, ww = int(rng.integers(1, 70)), int(rng.integers(1, 70))
        gray = bool(rng.integers(0, 2))
        shape = (hh, ww) if gray else (hh, ww, 3)
        kind = i % 3
        if kind == 0:
            px = rng.integers(0, 256, size=shape).astype(_np.uint8)
        elif kind == 1:
            yy, xx = _np.mgrid[0:hh, 0:ww]
            g = ((yy * 5 + xx * 3) % 256).astype(_np.uint8)
            px = g if gray else _np.stack([g, g[::-1], 255 - g], -1)
        else:
            px = _np.full(shape, 129, dtype=_np.uint8)
            px[hh // 2, ww // 2] = 0
        q = int(rng.choice([30, 60, 85, 95]))
        sub = "420" if (not gray and rng.integers(0, 2)) else "444"
        kw = {} if gray else {"subsampling": sub}
        base = decode_jpeg_pixels(encode_jpeg(px, quality=q, **kw))
        succ = bool(i % 2)
        prog = decode_jpeg_pixels(
            encode_jpeg_progressive(px, quality=q, successive=succ, **kw)
        )
        assert prog is not None and _np.array_equal(base, prog), (
            shape, q, sub, succ,
        )


def test_decode_any_pixels_all_three_codecs():
    """The fingerprint tier's decode chain returns ACTUAL planes: exact
    for the lossless codecs (BMP, PNG), within codec loss for JPEG; a
    non-image payload decodes to None."""
    import numpy as _np
    import pytest as _pytest

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        _decode_any_pixels,
        encode_bmp,
        encode_png,
    )

    src = _gradient_rgb(32, 48)
    f = src.astype(float)
    luma = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]

    def stats(px):
        g = px.astype(float)
        lum = 0.299 * g[..., 0] + 0.587 * g[..., 1] + 0.114 * g[..., 2]
        return lum.mean(), lum.std()

    for raw in (encode_bmp(src), encode_png(src)):  # lossless: exact
        px = _decode_any_pixels(raw)
        assert px is not None and _np.array_equal(px, src)
    px = _decode_any_pixels(encode_jpeg(src, quality=95))
    assert px is not None and px.shape == (32, 48, 3)
    mean, std = stats(px)
    assert mean == _pytest.approx(luma.mean(), abs=2.0)
    assert std == _pytest.approx(luma.std(), abs=3.0)
    assert _decode_any_pixels(b"not an image at all") is None


def test_jpeg_codec_property_sweep_noise_and_extreme_dims():
    """Adversarial sweep: pure-noise images (JPEG's worst case) at
    seeded random dims down to 1×1. 4:4:4 q95 bounds FULL round-trip
    error; 4:2:0 bounds LUMA only — chroma rides at quarter resolution
    by design, so per-pixel chroma error on uncorrelated noise is
    unbounded-ish there (libjpeg behaves identically). Every decode is
    deterministic and shape-exact."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    def luma(a):
        f = a.astype(float)
        return 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]

    for seed in range(8):
        rng = _np.random.default_rng(seed)
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        px = rng.integers(0, 256, (h, w, 3), dtype=_np.uint8)
        d444 = decode_jpeg_pixels(encode_jpeg(px, quality=95))
        assert d444 is not None and d444.shape == px.shape
        assert _np.abs(d444.astype(int) - px.astype(int)).max() <= 32
        d420 = decode_jpeg_pixels(encode_jpeg(px, quality=90, subsampling="420"))
        assert d420 is not None and d420.shape == px.shape
        assert _np.abs(luma(d420) - luma(px)).max() <= 35
    for h, w in [(1, 1), (1, 33), (33, 1), (8, 8), (7, 5)]:
        px = _np.full((h, w, 3), 200, _np.uint8)
        for sub in ("444", "420"):
            d = decode_jpeg_pixels(encode_jpeg(px, quality=90, subsampling=sub))
            assert d is not None and d.shape == (h, w, 3), (h, w, sub)


def test_png_grayscale_and_palette_decode():
    """PNG color types 0 (grayscale) and 3 (palette) decode natively:
    gray replicates to identical RGB channels, palette rows resolve
    through PLTE, and a corrupt palette index returns None instead of
    crashing."""
    import struct as _s
    import zlib as _z

    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_png_pixels,
    )

    def chunk(typ, payload):
        return (
            _s.pack(">I", len(payload)) + typ + payload
            + _s.pack(">I", _z.crc32(typ + payload) & 0xFFFFFFFF)
        )

    def png(color_type, w, h, rows, plte=None):
        ihdr = _s.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        body = b"".join(b"\x00" + bytes(r) for r in rows)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", bytes(plte))
        return out + chunk(b"IDAT", _z.compress(body)) + chunk(b"IEND", b"")

    # grayscale 3x2 ramp
    g = png(0, 3, 2, [[0, 128, 255], [10, 20, 30]])
    px = decode_png_pixels(g)
    assert px is not None and px.shape == (2, 3, 3)
    assert _np.array_equal(px[..., 0], px[..., 1])
    assert list(px[0, :, 0]) == [0, 128, 255]

    # palette 2x2: red, green, blue, white
    pal = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    p = png(3, 2, 2, [[0, 1], [2, 3]], plte=pal)
    px = decode_png_pixels(p)
    assert px is not None and px.shape == (2, 2, 3)
    assert list(px[0, 0]) == [255, 0, 0] and list(px[1, 1]) == [255, 255, 255]

    # index past the palette -> None, not a crash
    bad = png(3, 2, 2, [[0, 9], [2, 3]], plte=pal)
    assert decode_png_pixels(bad) is None


def _lzw_encode_gif(indices, mcs):
    """Reference GIF-LZW writer for the decoder tests: full dictionary
    build with the encoder-side code-size-growth rule (one slot later
    than the decoder's, since the decoder's dictionary lags one code)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    buf = n = 0
    code_size = mcs + 1

    def emit(code, size):
        nonlocal buf, n
        buf |= code << n
        n += size
        while n >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            n -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, code_size)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        w = bytes([k])
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if n:
        out.append(buf & 0xFF)
    return bytes(out)


def _make_gif(idx, palette, mcs, interlace=False, local=False):
    import struct as _s

    import numpy as _np

    h, w = idx.shape
    flags = 0x80 | (mcs - 1) if not local else 0x00
    out = b"GIF89a" + _s.pack("<HHBBB", w, h, flags, 0, 0)
    pal = bytes(_np.asarray(palette, _np.uint8).reshape(-1))
    if not local:
        out += pal
    iflags = (0x40 if interlace else 0) | ((0x80 | (mcs - 1)) if local else 0)
    out += b"\x2c" + _s.pack("<HHHHB", 0, 0, w, h, iflags)
    if local:
        out += pal
    if interlace:
        order = _np.concatenate(
            [_np.arange(0, h, 8), _np.arange(4, h, 8),
             _np.arange(2, h, 4), _np.arange(1, h, 2)]
        )
        stream = idx[order].reshape(-1)
    else:
        stream = idx.reshape(-1)
    data = _lzw_encode_gif(list(stream), mcs)
    out += bytes([mcs])
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out += bytes([len(blk)]) + blk
    return out + b"\x00\x3b"


def test_gif_decode_lzw_palette_interlace():
    """GIF first-frame decode is real: LZW round-trips exactly against
    a reference writer (including multiple code-size growths at
    mcs=2), interlaced row order and local color tables resolve, and
    corrupt/truncated streams return None."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        decode_gif_pixels,
    )

    rng = _np.random.default_rng(7)
    for mcs, ncol, h, w in [(2, 4, 20, 20), (3, 8, 16, 31), (7, 128, 9, 13)]:
        pal = rng.integers(0, 256, (1 << mcs, 3), dtype=_np.uint8)
        idx = rng.integers(0, ncol, (h, w), dtype=_np.uint8)
        dec = decode_gif_pixels(_make_gif(idx, pal, mcs))
        assert dec is not None and _np.array_equal(dec, pal[idx]), (mcs, h, w)

    pal = rng.integers(0, 256, (8, 3), dtype=_np.uint8)
    idx = rng.integers(0, 8, (17, 11), dtype=_np.uint8)
    assert _np.array_equal(
        decode_gif_pixels(_make_gif(idx, pal, 3, interlace=True)), pal[idx]
    )
    assert _np.array_equal(
        decode_gif_pixels(_make_gif(idx, pal, 3, local=True)), pal[idx]
    )
    g = _make_gif(idx, pal, 3)
    assert decode_gif_pixels(g[:20]) is None
    assert decode_gif_pixels(b"junk") is None


def test_png_adam7_interlaced_decode():
    """Adam7-interlaced PNGs decode exactly: each of the seven
    sub-images is unfiltered independently and scattered into place,
    across odd/degenerate dimensions; truncated interlaced streams
    return None."""
    import struct as _s
    import zlib as _z

    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        _ADAM7,
        decode_png_pixels,
    )

    def chunk(typ, payload):
        return (
            _s.pack(">I", len(payload)) + typ + payload
            + _s.pack(">I", _z.crc32(typ + payload) & 0xFFFFFFFF)
        )

    def make_adam7(px):
        h, w = px.shape[:2]
        body = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            for r in range(ph):
                body += b"\x00" + sub[r].tobytes()
        ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(bytes(body)))
            + chunk(b"IEND", b"")
        )

    rng = _np.random.default_rng(3)
    for h, w in [(16, 16), (17, 11), (1, 1), (7, 3), (9, 25), (2, 2)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=_np.uint8)
        dec = decode_png_pixels(make_adam7(px))
        assert dec is not None and _np.array_equal(dec, px), (h, w)
    g = make_adam7(rng.integers(0, 256, (16, 16, 3), dtype=_np.uint8))
    assert decode_png_pixels(g[:60]) is None


def test_png_full_depth_and_color_type_coverage():
    """PNG pixel-layer coverage is COMPLETE per spec: every legal
    (color type, bit depth) combination — gray 1/2/4/8/16, truecolor
    8/16, palette 1/2/4/8, gray+alpha 8/16, RGBA 8/16 — in both
    interlace modes, decodes exactly (16-bit → high byte; sub-byte
    gray scales by the exact 255/(2^d−1) factor; palette indices
    never scale). Illegal combos are rejected."""
    import struct as _s
    import zlib as _z

    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        _ADAM7,
        decode_png_pixels,
    )

    def chunk(typ, payload):
        return (
            _s.pack(">I", len(payload)) + typ + payload
            + _s.pack(">I", _z.crc32(typ + payload) & 0xFFFFFFFF)
        )

    def pack_row(samples, depth):
        if depth == 8:
            return bytes(_np.asarray(samples, _np.uint8))
        if depth == 16:
            return _np.asarray(samples, ">u2").tobytes()
        bits = []
        for s in samples:
            for b in range(depth - 1, -1, -1):
                bits.append((int(s) >> b) & 1)
        while len(bits) % 8:
            bits.append(0)
        return _np.packbits(_np.array(bits, _np.uint8)).tobytes()

    def make_png(samples, w, h, depth, color_type, plte=None, interlace=0):
        body = bytearray()

        def rows_of(sub):
            for r in range(sub.shape[0]):
                body.extend(b"\x00" + pack_row(sub[r].reshape(-1), depth))

        if interlace == 0:
            rows_of(samples)
        else:
            for x0, y0, dx, dy in _ADAM7:
                sub = samples[y0::dy, x0::dx]
                if sub.shape[0] and sub.shape[1]:
                    rows_of(sub)
        ihdr = _s.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", bytes(_np.asarray(plte, _np.uint8).reshape(-1)))
        return out + chunk(b"IDAT", _z.compress(bytes(body))) + chunk(b"IEND", b"")

    rng = _np.random.default_rng(11)
    h, w = 13, 21

    for depth in (1, 2, 4, 8, 16):  # grayscale, both interlace modes
        maxv = (1 << depth) - 1
        g = rng.integers(0, maxv + 1, (h, w, 1))
        for il in (0, 1):
            px = decode_png_pixels(make_png(g, w, h, depth, 0, interlace=il))
            assert px is not None, (depth, il)
            if depth < 8:
                want = (g[:, :, 0] * (255 // maxv)).astype(_np.uint8)
            elif depth == 8:
                want = g[:, :, 0].astype(_np.uint8)
            else:
                want = (g[:, :, 0] >> 8).astype(_np.uint8)
            assert _np.array_equal(px[:, :, 0], want), (depth, il)
            assert _np.array_equal(px[:, :, 0], px[:, :, 2]), (depth, il)

    t = rng.integers(0, 65536, (h, w, 3))  # truecolor 16
    assert _np.array_equal(
        decode_png_pixels(make_png(t, w, h, 16, 2)),
        (t >> 8).astype(_np.uint8),
    )
    t4 = rng.integers(0, 65536, (h, w, 4))  # RGBA 16
    assert _np.array_equal(
        decode_png_pixels(make_png(t4, w, h, 16, 6)),
        (t4[:, :, :3] >> 8).astype(_np.uint8),
    )
    ga = rng.integers(0, 256, (h, w, 2))  # gray+alpha 8/16
    px = decode_png_pixels(make_png(ga, w, h, 8, 4))
    assert _np.array_equal(px[:, :, 0], ga[:, :, 0].astype(_np.uint8))
    ga16 = rng.integers(0, 65536, (h, w, 2))
    px = decode_png_pixels(make_png(ga16, w, h, 16, 4))
    assert _np.array_equal(px[:, :, 1], (ga16[:, :, 0] >> 8).astype(_np.uint8))

    for depth in (1, 2, 4, 8):  # palette, both interlace modes
        ncol = min(1 << depth, 16)
        pal = rng.integers(0, 256, (1 << depth, 3))
        idx = rng.integers(0, ncol, (h, w, 1))
        for il in (0, 1):
            px = decode_png_pixels(
                make_png(idx, w, h, depth, 3, plte=pal, interlace=il)
            )
            assert px is not None and _np.array_equal(
                px, pal.astype(_np.uint8)[idx[:, :, 0]]
            ), (depth, il)

    # depth 4 truecolor is illegal per spec -> rejected
    assert decode_png_pixels(make_png(t, w, h, 4, 2)) is None


def test_flac_codec_roundtrip_all_modes():
    """The native FLAC codec is LOSSLESS end-to-end: encode → decode is
    bit-identical across mono/stereo, all four channel assignments,
    rice partition orders, FIXED and LPC subframes, constant and
    noise and tonal content, and block-boundary-straddling lengths.
    CRC-corrupted and non-FLAC payloads return None."""
    import numpy as _np

    from hospital_stain_tracker_data_pipeline_spark.operators.flac import (
        decode_flac_samples,
        sniff_flac,
    )

    rng = _np.random.default_rng(5)
    t = _np.arange(5000)
    tone = (10000 * _np.sin(t / 17.0)).astype(_np.int16)
    noise = rng.integers(-32768, 32768, size=5000).astype(_np.int16)
    const = _np.full(5000, -123, dtype=_np.int16)
    stereo = _np.stack([tone, (noise // 3).astype(_np.int16)], axis=1)
    cases = [
        (tone[:, None], "independent", 0, False),
        (noise[:, None], "independent", 2, False),
        (const[:, None], "independent", 0, False),
        (stereo, "independent", 0, False),
        (stereo, "left_side", 2, False),
        (stereo, "right_side", 0, True),
        (stereo, "mid_side", 2, True),
        (stereo[:1], "mid_side", 0, False),  # single-frame edge
    ]
    for x, st, po, lpc in cases:
        raw = encode_flac(
            x, 44100, blocksize=1024, stereo=st, partition_order=po,
            force_lpc=lpc,
        )
        dec = decode_flac_samples(raw)
        assert dec is not None, (st, po, lpc)
        assert dec[0] == 44100 and _np.array_equal(dec[1], x), (st, po, lpc)
    info = sniff_flac(encode_flac(stereo, 22050))
    assert info["sample_rate"] == 22050 and info["channels"] == 2
    assert info["n_frames"] == 5000
    assert decode_flac_samples(b"not flac") is None
    bad = bytearray(encode_flac(tone[:, None], 8000))
    bad[-3] ^= 0xFF  # corrupt inside the last frame -> CRC-16 catches
    assert decode_flac_samples(bytes(bad)) is None


def test_sniff_webp_all_three_chunk_forms():
    import struct

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        sniff_image,
    )

    lossy = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBP" + b"VP8 "
        + struct.pack("<I", 10) + bytes(3) + b"\x9d\x01\x2a"
        + struct.pack("<HH", 320, 240)
    )
    assert sniff_image(lossy) == ("image/webp", 320, 240)
    lossless = (
        b"RIFF" + struct.pack("<I", 13) + b"WEBP" + b"VP8L"
        + struct.pack("<I", 5) + bytes([0x2F])
        + ((99) | (49 << 14)).to_bytes(4, "little")
    )
    assert sniff_image(lossless) == ("image/webp", 100, 50)
    extended = (
        b"RIFF" + struct.pack("<I", 18) + b"WEBP" + b"VP8X"
        + struct.pack("<I", 10) + bytes(4)
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    )
    assert sniff_image(extended) == ("image/webp", 640, 480)
    # bad VP8 start code -> not recognized
    bad = lossy[:23] + b"\x00\x01\x2a" + lossy[26:]
    assert sniff_image(bad) is None


def _mp3_stream(n_frames, pad_every=0, id3v2=True, id3v1=True):
    hdr_nopad = bytes([0xFF, 0xFB, 0x90, 0x00])  # MPEG1 L3 128k 44100 stereo
    hdr_pad = bytes([0xFF, 0xFB, 0x92, 0x00])    # same with padding bit
    base = 144 * 128000 // 44100  # 417
    out = b""
    if id3v2:
        out += b"ID3" + bytes([4, 0, 0]) + bytes([0, 0, 0, 10]) + bytes(10)
    for i in range(n_frames):
        if pad_every and (i % pad_every == 0):
            out += hdr_pad + bytes(base + 1 - 4)
        else:
            out += hdr_nopad + bytes(base - 4)
    if id3v1:
        out += b"TAG" + bytes(125)
    return out


def test_sniff_mp3_walks_frames_exactly():
    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        sniff_mp3,
    )

    got = sniff_mp3(_mp3_stream(10))
    assert got["mime"] == "audio/mpeg"
    assert got["sample_rate"] == 44100 and got["channels"] == 2
    assert got["n_frames"] == 10 * 1152
    assert got["duration_s"] == pytest.approx(10 * 1152 / 44100)
    assert got["bits_per_sample"] is None  # lossy: no integer width
    # padded frames change lengths, not the frame count (VBR-safe walk)
    got2 = sniff_mp3(_mp3_stream(8, pad_every=3, id3v2=False, id3v1=False))
    assert got2["n_frames"] == 8 * 1152
    # truncated mid-frame garbage tail -> rejected, not mis-measured
    s = _mp3_stream(4, id3v1=False) + b"\x01garbage"
    assert sniff_mp3(s) is None
    assert sniff_mp3(b"not audio") is None


def test_mjpeg_avi_frames_decode_end_to_end():
    """REAL video frame extraction with zero media libraries: encode
    solid-color frames with the library's own JPEG codec, assemble a
    RIFF/AVI MJPEG container, and decode the frame bytes the AVI
    index points at back to pixels — each frame's color encodes its
    index."""
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        build_mjpeg_avi,
        sniff_avi,
    )

    fps, n_frames = 4.0, 8
    frames = [
        encode_jpeg(np.full((16, 24, 3), i * 30, dtype=np.uint8), quality=95)
        for i in range(n_frames)
    ]
    avi = build_mjpeg_avi(frames, 24, 16, fps=fps)
    meta = sniff_avi(avi)
    assert meta["n_frames"] == n_frames and meta["fps"] == fps
    assert meta["duration_s"] == pytest.approx(2.0)
    assert meta["mime"] == "video/x-msvideo"
    assert len(meta["frames"]) == n_frames
    for i, (off, ln) in enumerate(meta["frames"]):
        px = decode_jpeg_pixels(avi[off:off + ln])
        assert px is not None and px.shape == (16, 24, 3)
        assert abs(float(px.mean()) - i * 30) < 3.0, (i, px.mean())


def _ogg_page(serial, seq, granule, segments, header_type=0):
    import struct as _s

    table = b"".join(bytes([len(x)]) for x in segments)
    body = b"".join(segments)
    return (
        b"OggS" + bytes([0, header_type]) + _s.pack("<q", granule)
        + _s.pack("<II", serial, seq) + bytes(4)
        + bytes([len(segments)]) + table + body
    )


def test_sniff_ogg_vorbis_duration_from_last_granule():
    import struct as _s

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        sniff_ogg_vorbis,
    )

    ident = (
        b"\x01vorbis" + _s.pack("<I", 0) + bytes([2])
        + _s.pack("<I", 48000) + bytes(12) + bytes([0xB8]) + b"\x01"
    )
    pages = (
        _ogg_page(7, 0, 0, [ident], header_type=2)
        + _ogg_page(7, 1, 24000, [b"\x05audio-ish"])
        + _ogg_page(7, 2, 96000, [b"\x05more"], header_type=4)
    )
    got = sniff_ogg_vorbis(pages)
    assert got["mime"] == "audio/ogg"
    assert got["channels"] == 2 and got["sample_rate"] == 48000
    assert got["n_frames"] == 96000
    assert got["duration_s"] == pytest.approx(2.0)
    assert sniff_ogg_vorbis(b"OggS garbage") is None
    assert sniff_ogg_vorbis(b"not ogg at all, promise" * 4) is None


def test_mp4_jpeg_track_frames_decode_end_to_end():
    """MP4 with a 'jpeg'-coded track: the full sample-table walk
    (stsd/stsz/stsc/stco/stts) yields each sample's real frame bytes
    and decode time, decodable by the repo's own JPEG codec."""
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        mp4_jpeg_track,
    )

    fps, n_frames = 5.0, 10
    frames = [
        encode_jpeg(np.full((16, 24, 3), i * 25, dtype=np.uint8), quality=95)
        for i in range(n_frames)
    ]
    mp4 = build_mjpeg_mp4(frames, 24, 16, fps=fps)
    track = mp4_jpeg_track(mp4)
    assert len(track["samples"]) == n_frames
    assert track["times_s"] == pytest.approx([i / fps for i in range(n_frames)])
    for i, (off, ln) in enumerate(track["samples"]):
        assert mp4[off:off + ln] == frames[i]
        px = decode_jpeg_pixels(mp4[off:off + ln])
        assert px is not None and px.shape == (16, 24, 3)
        assert abs(float(px.mean()) - i * 25) < 3.0, (i, px.mean())


def test_mp4_jpeg_track_none_for_non_jpeg_codec():
    import struct as _s

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        mp4_jpeg_track,
    )

    mp4 = build_mjpeg_mp4([b"\xff\xd8fake\xff\xd9"], 8, 8)
    # rewrite the stsd sample-entry format to avc1: no jpeg track
    avc = mp4.replace(b"jpeg", b"avc1", 1)
    assert mp4_jpeg_track(avc) is None
    assert mp4_jpeg_track(b"plainly not a video") is None


def test_sniff_avi_and_mp4_metadata():
    """Container headers decode for real: AVI avih dims/fps/frame
    count; ISO-BMFF duration from mvhd plus exact frame count and fps
    from the JPEG track's sample tables."""
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        build_mjpeg_avi,
        mp4_jpeg_track,
        sniff_avi,
        sniff_mp4,
    )

    frames = [
        encode_jpeg(np.full((8, 12, 3), i * 50, dtype=np.uint8))
        for i in range(5)
    ]
    a = sniff_avi(build_mjpeg_avi(frames, 12, 8, fps=5.0))
    assert (a["mime"], a["width"], a["height"]) == ("video/x-msvideo", 12, 8)
    assert a["fps"] == 5.0 and len(a["frames"]) == 5
    assert a["duration_s"] == pytest.approx(1.0)
    mp4 = build_mjpeg_mp4(frames, 12, 8, fps=5.0)
    m = sniff_mp4(mp4)
    assert m["mime"] == "video/mp4"
    assert m["duration_s"] == pytest.approx(1.0)
    ts = mp4_jpeg_track(mp4)["times_s"]
    assert len(ts) == 5 and 1.0 / (ts[1] - ts[0]) == pytest.approx(5.0)
    assert sniff_avi(b"nope") is None and sniff_mp4(b"nope") is None


def test_flac_unknown_length_stream_decodes():
    """RFC 9639: STREAMINFO total_samples == 0 means 'unknown length'
    (streaming encoders that can't seek back). The decoder must decode
    to end-of-stream instead of refusing the file."""
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.flac import (
        decode_flac_samples,
    )

    t = np.arange(2000)
    pcm = (3000 * np.sin(t / 9.0)).astype(np.int16)[:, None]
    raw = bytearray(encode_flac(pcm, 16000))
    # zero the 36-bit total_samples field (bits 28..63 of the 8-byte
    # rate/ch/bps/total pack at STREAMINFO offset 18)
    raw[21] &= 0xF0
    raw[22:26] = b"\x00\x00\x00\x00"
    dec = decode_flac_samples(bytes(raw))
    assert dec is not None
    rate, out = dec
    assert rate == 16000
    assert np.array_equal(out[:, 0], pcm[:, 0])


# ---------------------------------------------------------------------------
# candidate-growth scaling contracts (the 100 TB claims, executable)
# ---------------------------------------------------------------------------


def test_minhash_candidate_fraction_shrinks_with_corpus(spark):
    """MinHash-LSH buckets are content hashes over a huge key space, so
    random collisions are negligible and candidates track TRUE dup
    structure: the candidate FRACTION of all C(n,2) pairs must not grow
    as the corpus grows (sub-quadratic — the property that replaces the
    O(n²) similarity join at scale). 500-doc subset vs the full 5000
    sf0.1 corpus, deterministic hashing ⇒ regression numbers."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    small = docs.filter(F.col("doc_id") % 10 == 0)
    n_small, n_full = small.count(), docs.count()
    c_small = minhash_lsh_candidates(small).count()
    c_full = minhash_lsh_candidates(docs).count()
    assert c_full > 0

    def frac(c, n):
        return c / (n * (n - 1) / 2)

    # fraction may wobble on the tiny subset; 2x slack
    assert frac(c_full, n_full) <= 2 * max(frac(c_small, n_small), 1e-12)
    # absolute sanity: candidates are a vanishing share of all pairs
    assert frac(c_full, n_full) < 1e-3


def test_simhash_nbits_is_the_candidate_flattening_lever(spark):
    """SimHash pigeonhole banding has SMALL band spaces (nbits=32,
    max_hamming=3 → four 8-bit bands), so at fixed nbits random band
    collisions scale ~n²/2^(nbits/bands) — the documented cost note.
    The executable contract is the LEVER: widening the fingerprint
    multiplies the band space, and candidates must drop superlinearly
    in nbits (measured ~3.4x per +16 bits on the sf0.1 corpus)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        simhash_band_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    c32 = simhash_band_candidates(docs, nbits=32).count()
    c64 = simhash_band_candidates(docs, nbits=64).count()
    assert c32 > 0
    assert c64 <= c32 / 8, (c64, c32)


def test_dedup_against_corpus_duckdb_replay_and_policy(spark, sf_dir):
    """Incremental dedup vs a corpus signature index: (a) the match
    pairs + signature-estimate values replay exactly in DuckDB (same
    md5 shingles, same LCG permutations, estimate = agreeing
    positions / 32), and (b) dedup_against_corpus drops exactly the
    matched new ids — planted exact copies of corpus docs always
    match at estimate 1.0."""
    import duckdb

    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_against_corpus,
        dedup_pairs_against_corpus,
        minhash_signature_index,
    )
    from hospital_stain_tracker_data_pipeline_spark.plans.text import (
        _MINHASH_A,
        _MINHASH_B,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    copies = corpus.orderBy("doc_id").limit(2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    new_docs = docs.filter(F.col("doc_id") % 2 == 1).unionByName(copies)
    index = minhash_signature_index(corpus)
    thr = 0.2
    got = {
        (r["new_id"], r["corpus_id"]): r["est_jaccard"]
        for r in dedup_pairs_against_corpus(
            new_docs, index, threshold=thr
        ).collect()
    }
    assert got, "fixture + planted copies must produce matches"
    # planted copies match their source at estimate 1.0
    planted = {k: v for k, v in got.items() if k[0] >= 1_000_000}
    assert len(planted) >= 2
    assert all(v == 1.0 for k, v in planted.items() if k[0] - 1_000_000 == k[1])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW base_docs AS "
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    )
    want = {
        (int(a), int(b)): float(e)
        for a, b, e in con.execute(rf"""
WITH documents AS (
  SELECT doc_id, text FROM base_docs
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM (
    SELECT doc_id, text FROM base_docs WHERE doc_id % 2 = 0
    ORDER BY doc_id LIMIT 2)
), toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS ts
  FROM documents
), shingled AS (
  SELECT doc_id,
         list_distinct([array_to_string(ts[i:i+2], ' ')
                        FOR i IN range(1, GREATEST(len(ts) - 2, 1) + 1)]) AS sstr
  FROM toks
), sets31 AS (
  SELECT doc_id,
         list_distinct(list_transform(sstr,
           s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)
                & 2147483647)) AS hs
  FROM shingled
), hrows AS (
  SELECT doc_id, UNNEST(hs) AS h FROM sets31
), coef AS (
  SELECT i, ({_MINHASH_A})[i] AS a, ({_MINHASH_B})[i] AS b
  FROM range(1, 33) t(i)
), minvals AS (
  SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS mv
  FROM hrows CROSS JOIN coef
  GROUP BY doc_id, i
), banded AS (
  SELECT doc_id, (i - 1) // 4 AS band,
         string_agg(CAST(mv AS VARCHAR), '_' ORDER BY i) AS bucket
  FROM minvals
  GROUP BY doc_id, (i - 1) // 4
), cands AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM banded n JOIN banded c ON n.band = c.band AND n.bucket = c.bucket
  WHERE (n.doc_id % 2 = 1 OR n.doc_id >= 1000000)
    AND c.doc_id % 2 = 0 AND c.doc_id < 1000000
)
SELECT k.new_id, k.corpus_id,
       SUM(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) / 32.0 AS est
FROM cands k
JOIN minvals a ON a.doc_id = k.new_id
JOIN minvals b ON b.doc_id = k.corpus_id AND b.i = a.i
GROUP BY k.new_id, k.corpus_id
HAVING SUM(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) / 32.0 >= {thr}
""").fetchall()
    }
    assert got == want

    kept = {
        r["doc_id"]
        for r in dedup_against_corpus(new_docs, index, threshold=thr)
        .select("doc_id")
        .collect()
    }
    all_new = {r["doc_id"] for r in new_docs.select("doc_id").collect()}
    assert kept == all_new - {a for a, _ in got}


def test_dedup_against_corpus_num_hashes_mismatch_fails_fast(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_pairs_against_corpus,
        minhash_signature_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    idx64 = minhash_signature_index(docs, num_hashes=64)
    with pytest.raises(ValueError, match="num_hashes=32"):
        dedup_pairs_against_corpus(docs, idx64, num_hashes=32).collect()


def test_minhash_banding_drops_null_signatures(spark):
    """NULL-text docs must never band (concat_ws would send them all
    to the same '' bucket → quadratic dead candidates): a corpus of
    null-text rows produces zero candidates against itself."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_pairs_against_corpus,
        minhash_lsh_candidates,
        minhash_signature_index,
    )

    rows = [(i, None) for i in range(1, 6)] + [(10, "real text here okay")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_lsh_candidates(docs).count() == 0
    idx = minhash_signature_index(docs)
    got = dedup_pairs_against_corpus(
        docs.withColumn("doc_id", F.col("doc_id") + 100), idx, threshold=0.2
    ).collect()
    # only the one real-text doc can match (its shifted copy)
    assert {(r["new_id"], r["corpus_id"]) for r in got} == {(110, 10)}


def test_select_cluster_representatives_policy_and_oracle(spark):
    """Best-scoring member survives per cluster (ties -> lowest id),
    singletons always survive; exact DuckDB replay with an
    integer-derived score."""
    import duckdb

    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        connected_components_min_label,
        select_cluster_representatives,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i} text") for i in range(1, 11)],
        "doc_id long, text string",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9)], "src long, dst long"
    )
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    clusters = connected_components_min_label(edges, nodes)
    score = (F.col("doc_id") % 7).cast("double")
    kept = {
        r["doc_id"]
        for r in select_cluster_representatives(
            docs, clusters, score_col=score
        ).collect()
    }
    want = {
        r[0]
        for r in duckdb.sql("""
WITH docs AS (SELECT UNNEST(range(1, 11)) AS doc_id),
clusters(node, cl) AS (VALUES (1,1),(2,1),(3,1),(5,5),(6,5),(8,8),(9,8)),
member AS (
  SELECT c.cl, d.doc_id, CAST(d.doc_id % 7 AS DOUBLE) AS score
  FROM docs d JOIN clusters c ON d.doc_id = c.node
), winners AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (
      PARTITION BY cl ORDER BY score DESC, doc_id ASC) AS rn
    FROM member) WHERE rn = 1
)
SELECT doc_id FROM docs
WHERE doc_id NOT IN (SELECT node FROM clusters)
   OR doc_id IN (SELECT doc_id FROM winners)
""").fetchall()
    }
    assert kept == want
    # policy spot checks: cluster {1,2,3} scores (1,2,3) -> 3 wins;
    # {5,6} -> 6 wins; {8,9} scores (1,2) -> 9 wins; singletons stay
    assert kept == {3, 6, 9, 4, 7, 10}


def test_select_cluster_representatives_default_quality_and_ties(spark):
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        select_cluster_representatives,
    )

    docs = spark.createDataFrame(
        [
            (1, "substantive report covering methodology results "
                "analysis discussion conclusions recommendations"),
            (2, "the of and a"),               # all stopwords, tiny
            (3, "same text here"), (4, "same text here"),  # score tie
        ],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "node long, cluster_id long"
    )
    kept = {
        r["doc_id"]
        for r in select_cluster_representatives(docs, clusters).collect()
    }
    assert 1 in kept and 2 not in kept   # quality beats stopword soup
    assert 3 in kept and 4 not in kept   # tie -> lowest id


def test_select_cluster_representatives_string_ids(spark):
    """The tiebreak must not assume a numeric id (advisor round-7):
    string doc_ids pick the best score, ties -> lexically lowest id."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        select_cluster_representatives,
    )

    docs = spark.createDataFrame(
        [("a1", "x"), ("a2", "x"), ("b9", "x"), ("b2", "x"), ("c5", "x")],
        "doc_id string, text string",
    )
    clusters = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("b9", "b2"), ("b2", "b2")],
        "node string, cluster_id string",
    )
    # a-cluster: a2 outscores a1; b-cluster: score tie -> "b2" < "b9"
    score = F.when(F.col("doc_id") == "a2", 2.0).otherwise(1.0)
    kept = {
        r["doc_id"]
        for r in select_cluster_representatives(
            docs, clusters, score_col=score
        ).collect()
    }
    assert kept == {"a2", "b2", "c5"}


def test_connected_components_string_ids(spark):
    """CC must converge for non-numeric node ids (round-8 review: the
    label-sum convergence shortcut cast labels to double — string ids
    threw under ANSI). Chain a-b-c-d has diameter 3, so one-iteration
    exits would mislabel it."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        connected_components_min_label,
    )

    edges = spark.createDataFrame(
        [("d3", "c2"), ("c2", "b1"), ("b1", "a0"), ("x9", "y8")],
        "src string, dst string",
    )
    nodes = spark.createDataFrame(
        [("a0",), ("b1",), ("c2",), ("d3",), ("x9",), ("y8",), ("lone",)],
        "node string",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components_min_label(edges, nodes).collect()
    }
    assert got == {
        "a0": "a0", "b1": "a0", "c2": "a0", "d3": "a0",
        "x9": "x9", "y8": "x9", "lone": "lone",
    }


def test_connected_components_default_node_universe(spark):
    """nodes=None label-propagates over edge-incident nodes only —
    identical labels for every node that touches an edge, and no
    singleton rows (the dedup call sites treat absence as singleton)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        connected_components_min_label,
    )

    edges = spark.createDataFrame(
        [(2, 5), (5, 9), (11, 12)], "src long, dst long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components_min_label(edges).collect()
    }
    assert got == {2: 2, 5: 2, 9: 2, 11: 11, 12: 11}


def test_dedup_index_artifact_roundtrip_and_guards(spark, tmp_path):
    """save_dedup_index/load_dedup_index: num_hashes AND shingle k ride
    the artifact (k is NOT recoverable from the signatures — the
    runtime length probe only catches num_hashes), params round-trip,
    a probe via the loaded params equals a direct call, legacy plain
    parquet / mixed params / bad params fail loudly, NULL-sig and
    NULL-id rows drop, an empty index round-trips via the sentinel."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_against_corpus,
        load_dedup_index,
        minhash_signature_index,
        save_dedup_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different sentence about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_signature_index(corpus, num_hashes=16, k=2)
    path = str(tmp_path / "sig")
    save_dedup_index(idx, 16, 2, path)
    loaded, num_hashes, k = load_dedup_index(spark, path)
    assert (num_hashes, k) == (16, 2)
    assert sorted(loaded.columns) == ["doc_id", "sig"]
    assert loaded.count() == 2

    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "entirely fresh unseen content with novel phrasing"),
        ],
        "doc_id long, text string",
    )
    via_artifact = sorted(
        r["doc_id"]
        for r in dedup_against_corpus(
            new, loaded, threshold=0.5, num_hashes=num_hashes, k=k
        ).collect()
    )
    direct = sorted(
        r["doc_id"]
        for r in dedup_against_corpus(
            new, idx, threshold=0.5, num_hashes=16, k=2
        ).collect()
    )
    assert via_artifact == direct == [11]

    # empty index round-trips its params via the sentinel
    empty = str(tmp_path / "empty")
    save_dedup_index(idx.filter("doc_id < 0"), 32, 3, empty)
    e, nh, kk = load_dedup_index(spark, empty)
    assert (nh, kk, e.count()) == (32, 3, 0)

    # guards
    with _pytest.raises(ValueError, match="not a save_dedup_index"):
        load_dedup_index(
            spark, _plain_parquet(spark, idx, str(tmp_path / "plain"))
        )
    with _pytest.raises(ValueError, match=">= 1"):
        save_dedup_index(idx, 0, 3, str(tmp_path / "x1"))
    with _pytest.raises(ValueError, match="lacks column"):
        save_dedup_index(idx.drop("sig"), 16, 2, str(tmp_path / "x2"))
    # declared num_hashes must match the signatures actually persisted
    # (recording a wrong value would poison every later probe)
    with _pytest.raises(ValueError, match="was declared"):
        save_dedup_index(idx, 8, 2, str(tmp_path / "x3"))
    save_dedup_index(idx, 16, 4, str(tmp_path / "mix"))  # k differs
    spark.read.parquet(path).write.mode("append").parquet(
        str(tmp_path / "mix")
    )
    with _pytest.raises(ValueError, match="mixes"):
        load_dedup_index(spark, str(tmp_path / "mix"))

    # the id column name rides the artifact: a url-keyed index loads
    # without the caller re-supplying id_col
    urls = minhash_signature_index(
        corpus.select(F.col("doc_id").cast("string").alias("url"), "text"),
        id_col="url", num_hashes=16, k=2,
    )
    upath = str(tmp_path / "urlidx")
    save_dedup_index(urls, 16, 2, upath, id_col="url")
    u, unh, uk = load_dedup_index(spark, upath)
    assert ("url" in u.columns) and (unh, uk) == (16, 2)
    assert u.count() == 2

    # NULL id / NULL sig rows drop at save
    dirty = idx.unionByName(
        spark.createDataFrame(
            [(None, [1, 2]), (99, None)],
            "doc_id long, sig array<long>",
        )
    )
    nd = str(tmp_path / "dirty")
    save_dedup_index(dirty, 16, 2, nd)
    assert load_dedup_index(spark, nd)[0].count() == 2


def _plain_parquet(spark, idx, path):
    idx.write.parquet(path)
    return path
