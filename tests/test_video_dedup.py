"""Video near-duplicate dedup: clip-level perceptual fingerprints
(majority vote over sampled frames' dHash bits) + Hamming-banded pair
generation, over REAL container-extracted frames (MJPEG AVI / MP4
JPEG-coded tracks) decoded by the library's own JPEG codec.

Pins (the image/audio-tier battery, transposed):
- fingerprint bit-exactness against an INDEPENDENT pure-python
  reference (its own timestamp->frame map + per-frame reference hash
  + python-int vote);
- content addressing ACROSS CONTAINERS: the same JPEG frames in an
  AVI and in an MP4 fingerprint identically, and so does the same
  content at a different frame rate (relative-timestamp sampling);
- pair generation == DuckDB brute-force Hamming ball;
- planted near-dup recall (lossy re-encode / pixel tweak -> few bits;
  distinct clips -> tens of bits);
- decode policy: fake stand-in under fake_decode, loud
  NotImplementedError otherwise (including a parseable container
  whose frames are all undecodable), NULL payload -> NULL;
- the incremental tier (corpus gate, index artifact, streaming twin,
  CLI) is shared by every family and pinned in test_fp_family.py.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from media_encoders import build_mjpeg_mp4
from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
    decode_jpeg_pixels,
    encode_jpeg,
)
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    build_mjpeg_avi,
    resize_rgb_nearest,
    to_media_table,
)
from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (
    VIDEO,
    fp_dup_pairs,
)
from hospital_stain_tracker_data_pipeline_spark.operators.video_fp import (
    video_phash,
)

SIZE = 24
N_FRAMES = 5
FPS = 10.0


def _frames_px(seed: int, n: int = N_FRAMES) -> list[np.ndarray]:
    rng = np.random.RandomState(seed)
    return [
        rng.randint(0, 256, size=(SIZE, SIZE, 3)).astype(np.uint8)
        for _ in range(n)
    ]


def _avi(pxs: list[np.ndarray], quality: int = 90, fps: float = FPS) -> bytes:
    return build_mjpeg_avi(
        [encode_jpeg(p, quality=quality) for p in pxs], SIZE, SIZE, fps=fps
    )


def _tweaked(pxs: list[np.ndarray], seed: int) -> list[np.ndarray]:
    rng = np.random.RandomState(seed)
    out = []
    for p in pxs:
        q = p.copy()
        q[rng.randint(SIZE), rng.randint(SIZE)] = rng.randint(0, 256, size=3)
        out.append(q)
    return out


def _media(spark, payloads: list[bytes | None], ids=None):
    ids = list(range(len(payloads))) if ids is None else ids
    pdf = pd.DataFrame({"media_id": ids, "payload": payloads})
    return to_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", source="test"
    )


def _ref_frame_phash(px: np.ndarray, hs: int = 8) -> int:
    """The image-test reference dHash: plain-python loops."""
    g = resize_rgb_nearest(px, hs + 1, hs)
    luma = [
        [
            299 * int(g[r, c, 0]) + 587 * int(g[r, c, 1]) + 114 * int(g[r, c, 2])
            for c in range(hs + 1)
        ]
        for r in range(hs)
    ]
    h, i = 0, 0
    for r in range(hs):
        for c in range(hs):
            if luma[r][c + 1] > luma[r][c]:
                h |= 1 << i
            i += 1
    return h


def _ref_vhash(jpeg_frames: list[bytes], fps: float, k: int = 8) -> int:
    """Independent reference: its OWN timestamp->frame map (duration =
    n/fps; frame displayed at ts is floor(ts*fps)) + reference
    per-frame hash + python-int majority vote (ties -> 0)."""
    n = len(jpeg_frames)
    dur = n / fps
    votes = [0] * 64
    voters = 0
    for i in range(k):
        ts = dur * (2 * i + 1) / (2 * k)
        fi = min(int(ts * fps), n - 1)
        px = decode_jpeg_pixels(jpeg_frames[fi])
        fh = _ref_frame_phash(px)
        for j in range(64):
            votes[j] += (fh >> j) & 1
        voters += 1
    h = 0
    for j in range(64):
        if 2 * votes[j] > voters:
            h |= 1 << j
    return h


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_video_phash_matches_pure_python_reference(spark):
    clip_frames = [
        [encode_jpeg(p) for p in _frames_px(seed)] for seed in range(4)
    ]
    media = _media(
        spark, [build_mjpeg_avi(fr, SIZE, SIZE, fps=FPS) for fr in clip_frames]
    )
    got = {
        r["media_id"]: (r["vhash"], r["n_frames_hashed"], r["decoded"])
        for r in video_phash(media).collect()
    }
    for i, fr in enumerate(clip_frames):
        assert got[i] == (_signed64(_ref_vhash(fr, FPS)), 8, True)

    # bad-argument guards
    with pytest.raises(ValueError, match="caps at 64"):
        video_phash(media, hash_size=9)
    with pytest.raises(ValueError, match="unknown phash algo"):
        video_phash(media, algo="whash")
    with pytest.raises(ValueError, match="n_samples"):
        video_phash(media, n_samples=0)


def test_video_phash_content_addressed_across_containers(spark):
    """The same JPEG frames in an AVI and in an MP4 fingerprint
    identically, and the same content at triple the frame rate does
    too — relative-timestamp sampling + the shared floor convention
    make the fingerprint a function of content, not container or
    rate."""
    frames = [encode_jpeg(p) for p in _frames_px(7)]
    media = _media(
        spark,
        [
            build_mjpeg_avi(frames, SIZE, SIZE, fps=FPS),
            build_mjpeg_mp4(frames, SIZE, SIZE, fps=FPS),
            # same frames declared at 30 fps (same content, shorter
            # clip): every relative timestamp still lands on the same
            # frame index
            build_mjpeg_avi(frames, SIZE, SIZE, fps=30.0),
        ],
    )
    rows = {r["media_id"]: r for r in video_phash(media).collect()}
    assert rows[0]["vhash"] == rows[1]["vhash"] == rows[2]["vhash"]
    assert rows[0]["mime"] == "video/x-msvideo" or rows[0]["mime"].startswith(
        "video/"
    )
    assert rows[1]["mime"].startswith("video/")
    assert all(rows[i]["decoded"] for i in range(3))


def test_video_dup_pairs_matches_duckdb_bruteforce(spark):
    """Banded pair generation over 21 clips (3 planted near-dup
    families: base + a quality-85 re-encode + a per-frame pixel tweak,
    plus singletons) == the brute-force Hamming-ball DuckDB computes
    over the same fingerprints."""
    clips = []
    for fam in range(3):
        pxs = _frames_px(10 + fam)
        clips.append(_avi(pxs))                      # base
        clips.append(_avi(pxs, quality=85))          # lossy re-encode
        clips.append(_avi(_tweaked(pxs, seed=fam)))  # pixel tweak
    clips += [_avi(_frames_px(100 + s)) for s in range(12)]
    media = _media(spark, clips)

    fps = video_phash(media).toPandas()
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in fp_dup_pairs(media, VIDEO, max_hamming=4).collect()
    )
    con = duckdb.connect()
    con.register("h", fps[["media_id", "vhash"]])
    want = sorted(
        map(
            tuple,
            con.execute(
                "SELECT a.media_id, b.media_id, "
                "bit_count(xor(a.vhash, b.vhash)) AS d "
                "FROM h a JOIN h b ON a.media_id < b.media_id "
                "WHERE bit_count(xor(a.vhash, b.vhash)) <= 4 "
                "ORDER BY 1, 2"
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) > 0, "fixture planted no near-dups — weaken the variants"
    # sanity: a planted family member pairs; clips from different
    # families sit far apart
    hs = {int(r["media_id"]): int(r["vhash"]) for _, r in fps.iterrows()}
    assert _ham(hs[0], hs[9]) > 10


def test_video_phash_decode_policy(spark):
    """Module-standard policy: NULL -> NULL fingerprint; a non-video
    payload AND a parseable container whose frames are all
    undecodable both fall to the deterministic decoded=False stand-in
    under fake_decode and raise loudly otherwise."""
    # an AVI whose frame chunks are NOT valid JPEG bytes: the
    # container parses, every frame decode fails, zero voters
    bad_frames_avi = build_mjpeg_avi([b"not a jpeg"], SIZE, SIZE, fps=FPS)
    payloads = [_avi(_frames_px(1)), b"not a video", bad_frames_avi, None]
    media = _media(spark, payloads)

    rows = {
        r["media_id"]: r
        for r in video_phash(media, fake_decode=True).collect()
    }
    assert rows[0]["decoded"] is True and rows[0]["n_frames_hashed"] == 8
    assert rows[1]["decoded"] is False and rows[1]["vhash"] is not None
    assert rows[2]["decoded"] is False and rows[2]["n_frames_hashed"] == 0
    assert rows[3]["vhash"] is None
    again = {
        r["media_id"]: r["vhash"]
        for r in video_phash(media, fake_decode=True).collect()
    }
    assert again == {k: v["vhash"] for k, v in rows.items()}

    # NULL-fingerprint rows never reach the pair join
    pairs = fp_dup_pairs(media, VIDEO, fake_decode=True)
    assert pairs.filter(
        (F.col("id_a") == 3) | (F.col("id_b") == 3)
    ).count() == 0

    with pytest.raises(Exception, match="NotImplementedError|PyAV|ffmpeg"):
        video_phash(media).collect()
