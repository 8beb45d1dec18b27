"""Media curation recipe: header-only modality routing
(``tag_media_modality``) + the end-to-end mixed-lake pass
(``curate_media``: exact payload dedup → per-modality near-dup
tiers, non-native and unknown payloads passing through).

Pins:
- routing truth table over real container bytes: BMP/PNG native
  image, WebP image-but-not-native, 16-bit WAV / FLAC native audio,
  8-bit WAV audio-but-not-native, MJPEG AVI / MP4-JPEG native video,
  garbage and NULL unknown — headers only, no decode;
- curate_media attrition on a planted mixed lake: byte-identical
  payloads collapse in the exact stage regardless of modality;
  each tier drops exactly its planted near-dups (cross-codec
  re-encodes included); non-native/unknown rows pass through; the
  survivor set and every report count are exact.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from media_encoders import build_mjpeg_mp4, encode_flac
from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import encode_jpeg
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    build_mjpeg_avi,
    encode_bmp,
    encode_png,
    encode_wav,
    tag_media_modality,
    to_media_table,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import curate_media


def _px(seed, h=16, w=18):
    return np.random.RandomState(seed).randint(
        0, 256, size=(h, w, 3)
    ).astype(np.uint8)


def _tone(freqs, n=6000, rate=8000):
    t = np.arange(n) / rate
    x = sum(a * np.sin(2 * np.pi * f * t) for f, a in freqs)
    return np.round(x).astype(np.int16).reshape(-1, 1)


def _frames(seed, n=4):
    return [encode_jpeg(_px(100 + seed * 7 + i, 24, 24)) for i in range(n)]


def _webp():
    # minimal VP8L signature sniff_image recognizes; no native decoder
    return (
        b"RIFF" + struct.pack("<I", 20) + b"WEBP"
        + b"VP8L" + struct.pack("<I", 5) + b"\x2f" + b"\x00\x00\x00\x00"
    )


def _wav8bit():
    # valid RIFF/WAVE header declaring 8-bit PCM: sniffs as audio,
    # fails decode_wav_samples' 16-bit gate
    data = bytes(range(64))
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _media(spark, rows: dict):
    pdf = pd.DataFrame(
        {"media_id": list(rows.keys()), "payload": list(rows.values())}
    )
    return to_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", source="test"
    )


def test_tag_media_modality_truth_table(spark):
    base_px = _px(1)
    tone = _tone([(440, 4000)])
    rows = {
        0: encode_bmp(base_px),
        1: encode_png(base_px),
        2: encode_jpeg(base_px),
        3: _webp(),
        10: encode_wav(tone, 8000),
        11: encode_flac(tone, 8000),
        12: _wav8bit(),
        20: build_mjpeg_avi(_frames(0), 24, 24, fps=10.0),
        21: build_mjpeg_mp4(_frames(0), 24, 24, fps=10.0),
        40: b"definitely nothing",
        41: None,
    }
    # sniffable-but-not-natively-decodable variants: the native flag
    # must mirror what the decoders ACCEPT, not what the sniffers
    # recognize (a mixed lake routed on sniffability alone would crash
    # the tiers on these)
    bmp8 = bytearray(encode_bmp(base_px))
    struct.pack_into("<H", bmp8, 28, 8)  # declare 8-bit palette BMP
    jpeg_lossless = bytearray(encode_jpeg(base_px))
    sof_at = bytes(jpeg_lossless).index(b"\xff\xc0")
    jpeg_lossless[sof_at + 1] = 0xC3  # SOF3 = lossless, not decodable
    wav_empty = encode_wav(np.zeros((0, 1), dtype=np.int16), 8000)
    xvid_avi = build_mjpeg_avi([b"\x00\x00divx-ish frame"], 24, 24, fps=10.0)
    rows.update({
        5: bytes(bmp8),
        6: bytes(jpeg_lossless),
        13: wav_empty,
        22: xvid_avi,
    })
    got = {
        r["media_id"]: (r["modality"], r["native"])
        for r in tag_media_modality(_media(spark, rows)).collect()
    }
    assert got[0] == ("image", True)
    assert got[1] == ("image", True)
    assert got[2] == ("image", True)
    assert got[3] == ("image", False)
    assert got[5] == ("image", False)
    assert got[6] == ("image", False)
    assert got[10] == ("audio", True)
    assert got[11] == ("audio", True)
    assert got[12] == ("audio", False)
    assert got[13] == ("audio", False)  # zero-length data
    assert got[20] == ("video", True)
    assert got[21] == ("video", True)
    assert got[22] == ("video", False)  # non-MJPEG
    assert got[40] == ("unknown", False)
    assert got[41] == ("unknown", False)


def test_curate_media_end_to_end(spark):
    base_px = _px(1)
    other_px = _px(2)
    tone = _tone([(440, 4000), (1200, 2500)])
    noisy = (
        tone.astype(np.int32)
        + np.random.RandomState(0).randint(-20, 21, size=tone.shape)
    ).astype(np.int16)
    far_tone = _tone([(300, 3800), (900, 2400)])
    frames = _frames(1)

    rows = {
        # images: 1 base, 2 cross-codec re-encode (near, hamming 0),
        # 3 byte-identical dup of 1 (exact stage), 4 distinct
        1: encode_bmp(base_px),
        2: encode_png(base_px),
        3: encode_bmp(base_px),
        4: encode_bmp(other_px),
        # audio: 10 base, 11 noisy near-dup, 12 distinct,
        # 13 FLAC re-encode of base PCM (near, hamming 0)
        10: encode_wav(tone, 8000),
        11: encode_wav(noisy, 8000),
        12: encode_wav(far_tone, 8000),
        13: encode_flac(tone, 8000),
        # video: 20 base AVI, 21 MP4 re-container (near, hamming 0),
        # 22 distinct
        20: build_mjpeg_avi(frames, 24, 24, fps=10.0),
        21: build_mjpeg_mp4(frames, 24, 24, fps=10.0),
        22: build_mjpeg_avi(_frames(9), 24, 24, fps=10.0),
        # pass-throughs — including TWO NULL payloads: absent is not
        # byte-identical, so neither may collapse into the other
        30: _webp(),
        31: _wav8bit(),
        40: b"garbage bytes",
        41: None,
        42: None,
    }
    media = _media(spark, rows)
    survivors, rep = curate_media(media)

    kept_ids = sorted(r["media_id"] for r in survivors.collect())
    assert kept_ids == [1, 4, 10, 12, 20, 22, 30, 31, 40, 41, 42]

    assert rep.total == 16
    assert rep.after_exact_dedup == 15  # id 3 collapsed into 1
    assert rep.by_modality == {
        "image": 4, "audio": 5, "video": 3, "unknown": 3
    }
    assert rep.non_native == 2  # webp + 8-bit wav
    assert rep.image_near_dropped == 1  # id 2
    assert rep.audio_near_dropped == 2  # ids 11, 13
    assert rep.video_near_dropped == 1  # id 21
    assert rep.kept == 11
    # healthy corpus: the hamming hot-bucket cap dropped nothing
    assert rep.hot_buckets_dropped == {"image": 0, "audio": 0, "video": 0}
    # survivors keep the input schema
    assert survivors.columns == media.columns


def test_curate_media_pdf_text_stage_drops_reserialized_pdf(spark):
    """Round 12's cross-modal link: with pdf_text_stage=True, a PDF
    RE-SERIALIZED through a different writer (classic-xref 1.4 vs
    ObjStm 1.5 — different bytes, so the exact stage keeps both)
    dedups on its TEXT through the MinHash gate, keep-lowest-id; a
    distinct PDF and an encrypted (non-native) one pass through, and
    the attrition report carries the pdf_text_dropped row."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pdf import (
        build_objstm_pdf,
        build_simple_pdf,
    )

    pages = [
        ["the quick brown fox jumps over the lazy dog tonight",
         "pack my box with five dozen liquor jugs right now"],
        ["how vexingly quick daft zebras jump over fences"],
    ]
    other = [["completely different subject matter entirely",
              "nothing shared with the fox document at all here"]]
    rows = {
        50: build_simple_pdf(pages),           # keeper (lowest id)
        51: build_objstm_pdf(pages),           # re-serialization: drops
        52: build_simple_pdf(other),           # distinct text: survives
        53: build_simple_pdf(pages, encrypted=True),  # non-native: passes
    }
    media = _media(spark, rows)

    # stage off: documents pass through untouched (both serializations)
    survivors, rep = curate_media(media)
    assert sorted(r["media_id"] for r in survivors.collect()) == [50, 51, 52, 53]
    assert rep.pdf_text_dropped == 0

    survivors, rep = curate_media(media, pdf_text_stage=True)
    kept_ids = sorted(r["media_id"] for r in survivors.collect())
    assert kept_ids == [50, 52, 53]
    assert rep.pdf_text_dropped == 1
    assert rep.by_modality == {"document": 4}
    assert rep.non_native == 1  # the encrypted PDF
    assert rep.kept == 3
    assert rep.total - rep.pdf_text_dropped == rep.kept + (
        rep.total - rep.after_exact_dedup
    ) + rep.image_near_dropped + rep.audio_near_dropped + rep.video_near_dropped


def test_curate_media_surfaces_hamming_hot_bucket_drops(spark):
    """Distinct payloads with IDENTICAL fingerprints (solid-black
    images of different sizes all dHash to 0 — the blank-image hot
    key) survive the exact stage, get their bucket dropped by the cap,
    and the report says so; a genuine near-dup pair outside the hot
    bucket still collapses."""
    base_px = _px(1)
    rows = {}
    for i in range(6):  # distinct bytes, identical (zero) fingerprints
        rows[i + 1] = encode_bmp(
            np.zeros((8 + i, 9 + i, 3), dtype=np.uint8)
        )
    rows[7] = encode_bmp(base_px)
    rows[8] = encode_png(base_px)  # cross-codec near-dup of 7
    media = _media(spark, rows)
    survivors, rep = curate_media(media, max_bucket=4)

    kept_ids = sorted(r["media_id"] for r in survivors.collect())
    # all six solids keep (their only pairing evidence was the dropped
    # hot bucket — the documented recall trade); 8 collapses into 7
    assert kept_ids == [1, 2, 3, 4, 5, 6, 7]
    assert rep.image_near_dropped == 1
    # 4 bands (max_hamming=3), each holding the 6-member zero bucket
    assert rep.hot_buckets_dropped["image"] == 4
    assert rep.hot_buckets_dropped["audio"] == 0
    assert rep.hot_buckets_dropped["video"] == 0
