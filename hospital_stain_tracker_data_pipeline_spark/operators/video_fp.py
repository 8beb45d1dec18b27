"""Video near-duplicate dedup: clip-level perceptual fingerprints over
REAL container-extracted frames + the shared Hamming-banded pair
engine — the final modality of the incremental dedup lifecycle (text,
images, embeddings, audio, and now video all ride the same pipeline:
batch pairs -> persisted tagged index -> corpus-wins gate -> CLI).
This module holds only the fingerprint; the lifecycle is the
``fingerprint.VIDEO`` family's, shared with image and audio.

A clip's fingerprint is the per-bit MAJORITY VOTE over the perceptual
hashes (``multimodal._phash_bits`` — dHash/aHash on real decoded
pixels, exact integer arithmetic) of ``n_samples`` frames sampled at
fixed RELATIVE timestamps ``duration * (2i+1) / (2k)``. Why this
shape:

- relative-timestamp sampling (not a stride) makes the fingerprint
  invariant to frame RATE: the same content at 10 fps and 30 fps
  samples (nearly) the same moments;
- the majority vote makes it robust to a re-encode or a swapped
  intro/outro frame: one divergent frame out of k flips only the bits
  whose vote was within one frame of a tie;
- packing into ONE LONG means pair generation, the incremental gate,
  and the persisted index all reuse the pigeonhole Hamming banding
  (``dedup.hamming_pairs`` family) on (id, 8 bytes) — frame bytes and
  pixels never cross a shuffle, the 100 TB video-dedup shape.

Frame extraction reads the container's own frame index: REAL for
RIFF/AVI MJPEG and for MP4 tracks with JPEG-coded samples (full stbl
resolution); the frame bytes decode through the library's own JPEG
codec. H.264/H.265 tracks need an entropy decoder this environment
lacks — the module-standard policy applies (deterministic stand-in
under ``fake_decode=True``, loud NotImplementedError otherwise).

Reference parity note: the reference pipeline has no video surface;
this module is part of the prompt-mandated training-data extension
set (multimodal dedup).
"""

from __future__ import annotations

import bisect
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import (
    _decode_any_pixels,
    _phash_bits,
    mp4_jpeg_track,
    sniff_avi,
    sniff_mp4,
)

VIDEO_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("vhash", T.LongType(), True),
        T.StructField("n_frames_hashed", T.IntegerType(), False),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)


def _clip_frames(raw: bytes, n_samples: int) -> tuple[str, list[bytes]] | None:
    """(mime, frame bytes at the k relative timestamps) for a natively
    parseable container, else None. Frames repeat when the clip has
    fewer distinct frames than samples — the vote then just weights
    them, which is exactly what a short clip should do."""
    avi = sniff_avi(raw)
    sniffed = avi or sniff_mp4(raw)
    track = None if avi else mp4_jpeg_track(raw)
    if sniffed is None:
        return None
    dur = sniffed.get("duration_s") or 0.0
    chunks = (avi or {}).get("frames") or []
    fps = (avi or {}).get("fps") or 0.0
    frames: list[bytes] = []
    for i in range(n_samples):
        ts = dur * (2 * i + 1) / (2 * n_samples)
        if chunks and fps:
            # FLOOR, not round: "the frame being displayed at ts" —
            # the same convention the MP4 path's bisect gives, so the
            # identical frames in an AVI and an MP4 container sample
            # identically (content addressing across containers)
            fi = min(int(ts * fps), len(chunks) - 1)
            off, ln = chunks[fi]
            frames.append(raw[off:off + ln])
        elif track is not None:
            times = track["times_s"]
            fi = max(0, bisect.bisect_right(times, ts) - 1)
            off, ln = track["samples"][fi]
            frames.append(raw[off:off + ln])
    if not frames:
        return None  # parseable container, no extractable frame bytes
    return sniffed["mime"], frames


def video_phash(
    media: DataFrame,
    algo: str = "dhash",
    hash_size: int = 8,
    n_samples: int = 8,
    fake_decode: bool = False,
) -> DataFrame:
    """Clip-level perceptual hash over the media table — ``(media_id,
    mime, vhash, n_frames_hashed, decoded)`` with one LONG per clip:
    bit j of ``vhash`` is set iff a strict majority of the sampled
    frames' ``_phash_bits`` have bit j set (ties -> 0, deterministic).
    Sampled frames that fail pixel decode are skipped from the vote
    (``n_frames_hashed`` counts the voters); a clip with ZERO decodable
    frames falls to the module-standard policy (stand-in under
    ``fake_decode``, NotImplementedError otherwise), as does a payload
    in no native container. NULL payloads hash to NULL.

    Scale shape: ONE Arrow-batched ``mapInPandas`` pass — container
    parse, frame extraction, JPEG decode, per-frame hash, and the vote
    all happen where the payload bytes already are; neither frames nor
    pixels ever enter a shuffle."""
    if algo not in ("dhash", "ahash"):
        raise ValueError(f"unknown phash algo {algo!r} (dhash|ahash)")
    nbits = hash_size * hash_size
    if nbits > 64:
        raise ValueError(
            f"hash_size={hash_size} needs {nbits} bits; the LONG "
            "fingerprint caps at 64 (hash_size <= 8)"
        )
    if n_samples < 1:
        raise ValueError("n_samples must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append(
                        {
                            "media_id": media_id,
                            "mime": None,
                            "vhash": None,
                            "n_frames_hashed": 0,
                            "decoded": False,
                        }
                    )
                    continue
                raw = bytes(payload)
                clip = _clip_frames(raw, n_samples)
                votes = [0] * nbits
                n_hashed = 0
                mime = clip[0] if clip else None
                if clip:
                    for fb in clip[1]:
                        px = _decode_any_pixels(fb)
                        if px is None:
                            continue
                        fh = _phash_bits(px, algo, hash_size)
                        for j in range(nbits):
                            votes[j] += (fh >> j) & 1
                        n_hashed += 1
                if n_hashed:
                    h = 0
                    for j in range(nbits):
                        if 2 * votes[j] > n_hashed:
                            h |= 1 << j
                    decoded = True
                elif fake_decode:
                    h = int(hashlib.sha256(raw).hexdigest()[:16], 16) & (
                        (1 << nbits) - 1
                    )
                    decoded = False
                else:
                    raise NotImplementedError(
                        "video_phash needs extractable, decodable frames "
                        "(AVI/MJPEG and MP4 JPEG-coded tracks are native); "
                        "this payload requires PyAV/ffmpeg, not available "
                        "in this environment — pass fake_decode=True for "
                        "the deterministic stand-in"
                    )
                if h >= 1 << 63:
                    h -= 1 << 64
                rows.append(
                    {
                        "media_id": media_id,
                        "mime": mime,
                        "vhash": h,
                        "n_frames_hashed": n_hashed,
                        "decoded": decoded,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_PHASH_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=VIDEO_PHASH_SCHEMA
    )
