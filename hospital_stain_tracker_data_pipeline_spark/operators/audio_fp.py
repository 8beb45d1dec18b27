"""Audio near-duplicate dedup: acoustic fingerprints over REAL decoded
PCM + the shared Hamming-banded pair engine — the audio analog of the
visual phash tier (``multimodal.image_phash`` family), completing the
modality set: text (SimHash/MinHash), images (dHash/aHash), embeddings
(LSH/IVF-PQ), and now audio all share one incremental dedup lifecycle
(batch pairs -> persisted fingerprint index -> corpus-wins gate ->
CLI). This module holds only the fingerprint; the lifecycle is the
``fingerprint.AUDIO`` family's, shared with image and video.

The fingerprint is the Haitsma-Kalker sign-of-band-energy-difference
construction (Haitsma & Kalker, "A Highly Robust Audio Fingerprint
System", ISMIR 2002 — public algorithm), adapted to this repo's
exact-integer discipline: instead of FFT band energies (floats, not
bit-replayable), the "bands" are lag-difference energies
``E_L = sum (x[i] - x[i-L])^2`` at lags 1/2/4/8/16 of an 8 kHz mono
stream — an integer high-pass filterbank whose energies order by
spectral content (lag L attenuates content near multiples of
rate / L), computed with int64 arithmetic end to end so the 64-bit
fingerprint is bit-replayable anywhere. Documented divergence from the
paper's FFT filterbank; sign-difference bits and the robustness
contract are the same:

- GAIN-INVARIANT (exactly, for integer scaling): scaling samples by c
  scales every energy by c^2, and every bit is the sign of a
  difference of energy differences — uniform scaling never flips it.
- CONTAINER-INVARIANT: WAV and FLAC of the same PCM decode to the
  same samples, hence the identical fingerprint (content addressing).
- RATE-ROBUST: the signal is first nearest-resampled to the canonical
  8 kHz with an exact integer index map, so recordings of one source
  at different rates land a few bits apart (exactly equal when the
  rates divide).
- NOISE-ROBUST: small perturbations flip only the bits whose energy
  differences sit near zero — near-dups land within a few bits, so
  the pigeonhole banding in ``dedup.hamming_pairs`` finds them with
  exact recall at the hash level.

Scale shape (the 100 TB contract, mirroring the image tier): decode +
fingerprint run Arrow-batched in ``mapInPandas`` where the bytes
already are; everything downstream — pair generation, the corpus
gate, the persisted index — moves (id, 8-byte fingerprint) only. PCM
never crosses a shuffle and is never stored in an index.

Reference parity note: the reference pipeline has no audio surface at
all; this module is part of the prompt-mandated training-data
extension set (multimodal dedup).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import decode_wav_samples, sniff_wav

# v1 fingerprint parameters — baked into the algo tag so a persisted
# index from a future revision can never be probed silently.
AFP_RATE = 8000
AFP_SEGMENTS = 16
AFP_LAGS = (1, 2, 4, 8, 16)
AFP_ALGO = "hk-lag-v1:8000:16:1,2,4,8,16"
AFP_NBITS = AFP_SEGMENTS * (len(AFP_LAGS) - 1)  # 16 x 4 = 64

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("afp", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)


def _afp_bits(samples: np.ndarray, rate: int) -> int:
    """The fingerprint, exact integer arithmetic end to end:

    1. mono = per-frame SUM of channels (sum, not mean — stays
       integer; uniform gain still scales it uniformly);
    2. nearest-resample to ``AFP_RATE`` with the exact integer index
       map ``idx[i] = (i * n) // n_out``;
    3. split into ``AFP_SEGMENTS`` equal time segments
       ``[k*n//S, (k+1)*n//S)``;
    4. per segment, per lag L in ``AFP_LAGS``: the lag-difference
       energy ``E[t][L] = sum_{i>=L} (x[i] - x[i-L])^2`` with
       differences taken WITHIN the segment (segments shorter than L
       contribute 0 — deterministic, replayable);
    5. bit (t, b) = 1 iff
       ``(E[t][b] - E[t][b+1]) - (E[t-1][b] - E[t-1][b+1]) > 0``
       with the t = -1 row all zeros — the Haitsma-Kalker
       sign-of-difference-of-differences over the 4 adjacent band
       pairs; bits pack LSB-first at position t*4 + b.

    Unsigned 64-bit result; callers convert to the signed LONG. Empty
    input (0 frames) returns 0 deterministically.
    """
    if samples.ndim == 1:
        samples = samples[:, None]
    mono = samples.astype(np.int64).sum(axis=1)
    n = mono.shape[0]
    if n == 0:
        return 0
    n_out = max(1, (n * AFP_RATE) // rate) if rate != AFP_RATE else n
    if n_out != n:
        idx = (np.arange(n_out, dtype=np.int64) * n) // n_out
        mono = mono[idx]
    else:
        n_out = n
    nb = len(AFP_LAGS)
    energy = np.zeros((AFP_SEGMENTS, nb), dtype=np.int64)
    for t in range(AFP_SEGMENTS):
        seg = mono[(t * n_out) // AFP_SEGMENTS:((t + 1) * n_out) // AFP_SEGMENTS]
        for b, lag in enumerate(AFP_LAGS):
            if seg.shape[0] > lag:
                d = seg[lag:] - seg[:-lag]
                energy[t, b] = int(np.dot(d, d))
    h = 0
    prev = np.zeros(nb - 1, dtype=np.int64)
    for t in range(AFP_SEGMENTS):
        cur = energy[t, :-1] - energy[t, 1:]
        for b in range(nb - 1):
            if cur[b] - prev[b] > 0:
                h |= 1 << (t * (nb - 1) + b)
        prev = cur
    return h


def _decode_any_samples(raw: bytes):
    """One dispatch for every native PCM decoder (WAV -> FLAC).
    ``(rate, samples) | None``."""
    from .flac import decode_flac_samples

    dec = decode_wav_samples(raw)
    if dec is None:
        dec = decode_flac_samples(raw)
    return dec


def audio_fingerprint(media: DataFrame, fake_decode: bool = False) -> DataFrame:
    """Acoustic fingerprint over the media table — ``(media_id, mime,
    afp, decoded)`` with one 64-bit LONG per clip, the audio twin of
    ``image_phash``. Decode policy is the module standard: real PCM
    for the native codecs (16-bit WAV, FLAC — the
    ``_decode_any_samples`` chain), deterministic payload-hash
    stand-in bits with ``decoded=False`` under ``fake_decode=True``,
    loud NotImplementedError otherwise (mp3/ogg decode needs an audio
    library this environment lacks). NULL payloads fingerprint to NULL
    (they cannot pair).

    Scale shape: Arrow-batched ``mapInPandas``, one decode per
    payload, binary column dropped on the way out — downstream pair
    generation shuffles only (id, 8-byte fingerprint)."""
    from .flac import sniff_flac

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append(
                        {
                            "media_id": media_id,
                            "mime": None,
                            "afp": None,
                            "decoded": False,
                        }
                    )
                    continue
                raw = bytes(payload)
                sniffed = sniff_wav(raw) or sniff_flac(raw)
                mime = sniffed["mime"] if sniffed else None
                dec = _decode_any_samples(raw)
                if dec is not None:
                    rate, samples = dec
                    h = _afp_bits(samples, rate)
                    decoded = True
                elif fake_decode:
                    h = int(hashlib.sha256(raw).hexdigest()[:16], 16)
                    decoded = False
                else:
                    raise NotImplementedError(
                        "audio_fingerprint needs a decodable payload "
                        "(16-bit PCM WAV and FLAC are native); this "
                        "payload requires an audio library, not "
                        "available in this environment — pass "
                        "fake_decode=True for the deterministic "
                        "stand-in"
                    )
                if h >= 1 << 63:
                    h -= 1 << 64
                rows.append(
                    {
                        "media_id": media_id,
                        "mime": mime,
                        "afp": h,
                        "decoded": decoded,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FP_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=AUDIO_FP_SCHEMA
    )
