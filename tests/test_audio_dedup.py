"""Audio near-duplicate dedup: acoustic fingerprints (integer
lag-difference energies, Haitsma-Kalker sign bits) over REAL decoded
PCM + Hamming-banded pair generation.

Pins (the image-tier battery, transposed):
- fingerprint bit-exactness against an INDEPENDENT pure-python
  reference (python ints + list slices, no numpy);
- content addressing: the same PCM encoded as WAV and as FLAC
  fingerprints identically (the hash sees samples, not bytes);
- EXACT gain invariance under integer scaling (energies scale by c^2
  uniformly; every bit is a sign of energy differences);
- rate robustness: one source sampled at 16 kHz and 8 kHz lands on
  the identical fingerprint (the internal nearest-resample picks the
  same time points when the rates divide);
- pair generation == DuckDB brute-force Hamming ball;
- planted near-dup recall (small additive noise -> few bits; distinct
  clips -> tens of bits apart);
- decode policy: fake stand-in under fake_decode, loud
  NotImplementedError otherwise, NULL payload -> NULL fingerprint;
- the incremental tier (corpus gate, index artifact, streaming twin,
  CLI) is shared by every family and pinned in test_fp_family.py.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from media_encoders import encode_flac
from hospital_stain_tracker_data_pipeline_spark.operators.audio_fp import (
    AFP_LAGS,
    AFP_RATE,
    AFP_SEGMENTS,
    audio_fingerprint,
)
from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (
    AUDIO,
    fp_dup_pairs,
)
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    encode_wav,
    to_media_table,
)


def _ref_afp(samples2d: list[list[int]], rate: int) -> int:
    """Independent reference: plain-python loops over python ints — the
    operator's spec in executable form (different arithmetic path than
    the numpy vectorization; would catch an int64 overflow too)."""
    mono = [sum(int(v) for v in fr) for fr in samples2d]
    n = len(mono)
    if n == 0:
        return 0
    n_out = n if rate == AFP_RATE else max(1, (n * AFP_RATE) // rate)
    if n_out != n:
        mono = [mono[(i * n) // n_out] for i in range(n_out)]
    else:
        n_out = n
    nb = len(AFP_LAGS)
    energy = [[0] * nb for _ in range(AFP_SEGMENTS)]
    for t in range(AFP_SEGMENTS):
        seg = mono[(t * n_out) // AFP_SEGMENTS:((t + 1) * n_out) // AFP_SEGMENTS]
        for b, lag in enumerate(AFP_LAGS):
            if len(seg) > lag:
                energy[t][b] = sum(
                    (seg[i] - seg[i - lag]) ** 2 for i in range(lag, len(seg))
                )
    h = 0
    prev = [0] * (nb - 1)
    for t in range(AFP_SEGMENTS):
        cur = [energy[t][b] - energy[t][b + 1] for b in range(nb - 1)]
        for b in range(nb - 1):
            if cur[b] - prev[b] > 0:
                h |= 1 << (t * (nb - 1) + b)
        prev = cur
    return h


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _tone(freqs, n: int = 8000, rate: int = 8000) -> np.ndarray:
    """(n, 1) int16 mixture of sine tones — deterministic PCM."""
    t = np.arange(n) / rate
    x = sum(a * np.sin(2 * np.pi * f * t) for f, a in freqs)
    return np.round(x).astype(np.int16).reshape(-1, 1)


def _noisy(base: np.ndarray, amp: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return (
        base.astype(np.int32) + rng.randint(-amp, amp + 1, size=base.shape)
    ).astype(np.int16)


def _media(spark, payloads: list[bytes | None], ids=None):
    ids = list(range(len(payloads))) if ids is None else ids
    pdf = pd.DataFrame({"media_id": ids, "payload": payloads})
    return to_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", source="test"
    )


_BASE = _tone([(440, 4000), (1200, 2500), (2500, 1000)])


def test_audio_fingerprint_matches_pure_python_reference(spark):
    clips = [
        _BASE,
        _tone([(300, 3800), (900, 2400)]),
        _noisy(_BASE, 25, seed=1),
        _tone([(700, 5000)], n=3000),
        np.zeros((40, 1), dtype=np.int16),  # shorter than segments*lags
    ]
    media = _media(spark, [encode_wav(c, 8000) for c in clips])
    got = {
        r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()
    }
    want = {
        i: _signed64(_ref_afp(c.tolist(), 8000)) for i, c in enumerate(clips)
    }
    assert got == want
    # stereo + a non-canonical rate run through the same reference
    stereo = np.hstack([_BASE, _noisy(_BASE, 25, seed=2)])
    m2 = _media(spark, [encode_wav(stereo, 11025)])
    [row] = audio_fingerprint(m2).collect()
    assert row["afp"] == _signed64(_ref_afp(stereo.tolist(), 11025))


def test_audio_fingerprint_is_content_addressed_across_codecs(spark):
    """The SAME PCM as WAV bytes and as FLAC bytes fingerprints
    identically — the hash addresses samples, not encodings (a
    losslessly re-encoded crawl clip is still a dup)."""
    clips = [_BASE, _tone([(620, 4500), (1800, 2000)])]
    wav = audio_fingerprint(
        _media(spark, [encode_wav(c, 8000) for c in clips])
    )
    flac = audio_fingerprint(
        _media(spark, [encode_flac(c, 8000) for c in clips])
    )
    rows_w = {r["media_id"]: r for r in wav.collect()}
    rows_f = {r["media_id"]: r for r in flac.collect()}
    for i in range(2):
        assert rows_w[i]["decoded"] and rows_f[i]["decoded"]
        assert rows_w[i]["afp"] == rows_f[i]["afp"]
    assert rows_w[0]["mime"] == "audio/wav"
    assert rows_f[0]["mime"] == "audio/flac"


def test_audio_fingerprint_gain_and_rate_invariance(spark):
    """Integer gain scaling is EXACTLY invariant (energies scale by c^2
    uniformly — no sign flips); the same source sampled at 16 kHz and
    8 kHz fingerprints identically (16 kHz's even samples ARE the 8 kHz
    samples, and the internal nearest-resample picks exactly those)."""
    freqs = [(440, 4000), (1200, 2500), (2500, 1000)]
    t16 = np.round(
        sum(a * np.sin(2 * np.pi * f * np.arange(16000) / 16000) for f, a in freqs)
    ).astype(np.int16).reshape(-1, 1)
    media = _media(
        spark,
        [
            encode_wav(_BASE, 8000),
            encode_wav((_BASE * 2).astype(np.int16), 8000),  # gain x2
            encode_wav(t16, 16000),  # same source, doubled rate
        ],
    )
    fps = {r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()}
    assert fps[0] == fps[1] == fps[2]


def test_audio_dup_pairs_matches_duckdb_bruteforce(spark):
    """Banded pair generation over 28 clips (4 planted near-dup
    families + singletons) == the brute-force Hamming-ball DuckDB
    computes over the same fingerprints."""
    clips = []
    for fam in range(4):
        base = _tone(
            [
                (350 + 90 * fam, 4000),
                (1000 + 230 * fam, 2600),
                (2300 + 140 * fam, 900),
            ]
        )
        clips.append(base)
        for v in range(3):
            clips.append(_noisy(base, 25, seed=10 * fam + v))
    clips += [
        _tone([(280 + 61 * s, 3800), (870 + 179 * s, 2400)]) for s in range(12)
    ]
    media = _media(spark, [encode_wav(c, 8000) for c in clips])

    fps = audio_fingerprint(media).toPandas()
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in fp_dup_pairs(media, AUDIO, max_hamming=4).collect()
    )
    con = duckdb.connect()
    con.register("h", fps)
    want = sorted(
        map(
            tuple,
            con.execute(
                "SELECT a.media_id, b.media_id, "
                "bit_count(xor(a.afp, b.afp)) AS d "
                "FROM h a JOIN h b ON a.media_id < b.media_id "
                "WHERE bit_count(xor(a.afp, b.afp)) <= 4 "
                "ORDER BY 1, 2"
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) > 0, "fixture planted no near-dups — weaken the noise"


def test_audio_dup_pairs_planted_recall(spark):
    """Small additive noise lands within the banding radius and pairs;
    a spectrally different clip sits tens of bits away and does not."""
    near = _noisy(_BASE, 20, seed=3)
    far = _tone([(300, 3800), (900, 2400)])
    media = _media(
        spark, [encode_wav(c, 8000) for c in (_BASE, near, far)]
    )
    fps = {r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()}
    assert 0 < _ham(fps[0], fps[1]) <= 4 or fps[0] == fps[1]
    assert _ham(fps[0], fps[2]) > 10

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in fp_dup_pairs(media, AUDIO, max_hamming=4).collect()
    }
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] == _ham(fps[0], fps[1])


def test_audio_fingerprint_decode_policy(spark):
    """Module-standard payload policy: NULL -> NULL fingerprint (never
    pairs), non-audio under fake_decode -> deterministic decoded=False
    stand-in, non-audio without -> loud NotImplementedError."""
    payloads = [encode_wav(_BASE, 8000), b"definitely not audio", None]
    media = _media(spark, payloads)

    rows = {
        r["media_id"]: r
        for r in audio_fingerprint(media, fake_decode=True).collect()
    }
    assert rows[0]["decoded"] is True
    assert rows[1]["decoded"] is False and rows[1]["afp"] is not None
    assert rows[2]["afp"] is None
    again = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprint(media, fake_decode=True).collect()
    }
    assert again == {k: v["afp"] for k, v in rows.items()}

    # NULL-fingerprint rows never reach the pair join
    pairs = fp_dup_pairs(media, AUDIO, fake_decode=True)
    assert pairs.filter(
        (F.col("id_a") == 2) | (F.col("id_b") == 2)
    ).count() == 0

    with pytest.raises(Exception, match="NotImplementedError|audio library"):
        audio_fingerprint(media).collect()
