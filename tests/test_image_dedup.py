"""Image near-duplicate dedup: perceptual hashes (dHash/aHash) over
REAL decoded pixels + Hamming-banded pair generation.

Pins:
- hash bit-exactness against an INDEPENDENT pure-python reference
  (different code path than the operator's numpy vectorization);
- content addressing: the same pixels encoded as BMP and as PNG hash
  identically (the hash sees pixels, not bytes);
- pair generation == DuckDB brute-force Hamming ball (banding's
  pigeonhole recall is exact, the verify kills band false positives);
- planted near-dup recall: a single-luma-gradient flip is Hamming 1
  and found; an inverted image is Hamming 64 and not;
- decode policy: fake stand-in under fake_decode, loud
  NotImplementedError otherwise, NULL payload -> NULL hash, no pair.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (
    IMAGE,
    fp_dup_pairs,
)
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    encode_bmp,
    encode_png,
    image_phash,
    resize_rgb_nearest,
    to_media_table,
)


def _ref_phash(px: np.ndarray, algo: str, hs: int) -> int:
    """Independent reference: plain-python loops over the resampled
    grid, no numpy comparisons — the operator's spec in executable
    form."""
    if algo == "dhash":
        g = resize_rgb_nearest(px, hs + 1, hs)
    else:
        g = resize_rgb_nearest(px, hs, hs)
    luma = [
        [
            299 * int(g[r, c, 0]) + 587 * int(g[r, c, 1]) + 114 * int(g[r, c, 2])
            for c in range(g.shape[1])
        ]
        for r in range(g.shape[0])
    ]
    h, i = 0, 0
    if algo == "dhash":
        for r in range(hs):
            for c in range(hs):
                if luma[r][c + 1] > luma[r][c]:
                    h |= 1 << i
                i += 1
    else:
        total = sum(sum(row) for row in luma)
        n = hs * hs
        for r in range(hs):
            for c in range(hs):
                if luma[r][c] * n > total:
                    h |= 1 << i
                i += 1
    return h


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def _gradient_px(h: int = 16, w: int = 18, seed: int = 0) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)


def _media(spark, payloads: list[bytes | None]):
    pdf = pd.DataFrame(
        {"media_id": range(len(payloads)), "payload": payloads}
    )
    df = spark.createDataFrame(pdf)
    return to_media_table(df, "media_id", "payload", source="test")


def test_image_phash_matches_pure_python_reference(spark):
    pixels = [_gradient_px(seed=s) for s in range(6)]
    payloads = [encode_bmp(px) for px in pixels]
    media = _media(spark, payloads)
    for algo in ("dhash", "ahash"):
        got = {
            r["media_id"]: r["phash"]
            for r in image_phash(media, algo=algo).collect()
        }
        want = {
            i: _signed64(_ref_phash(px, algo, 8))
            for i, px in enumerate(pixels)
        }
        assert got == want, algo
    # smaller grid than 8 works too; >8 overflows the LONG and is loud
    small = image_phash(media, algo="dhash", hash_size=4).collect()
    assert all(0 <= r["phash"] < (1 << 16) for r in small)
    with pytest.raises(ValueError, match="caps at 64"):
        image_phash(media, hash_size=9)
    with pytest.raises(ValueError, match="unknown phash algo"):
        image_phash(media, algo="whash")


def test_image_phash_is_content_addressed_across_codecs(spark):
    """The SAME pixels as BMP bytes and as PNG bytes hash identically —
    the fingerprint addresses content, not encoding (that is the whole
    near-dup premise: a re-encoded crawl image is still a dup)."""
    pixels = [_gradient_px(seed=s) for s in range(4)]
    bmp = image_phash(_media(spark, [encode_bmp(p) for p in pixels]))
    png = image_phash(_media(spark, [encode_png(p) for p in pixels]))
    rows_b = {r["media_id"]: r for r in bmp.collect()}
    rows_p = {r["media_id"]: r for r in png.collect()}
    for i in range(4):
        assert rows_b[i]["decoded"] and rows_p[i]["decoded"]
        assert rows_b[i]["phash"] == rows_p[i]["phash"]
    assert rows_b[0]["mime"] == "image/bmp"
    assert rows_p[0]["mime"] == "image/png"


def test_image_dup_pairs_matches_duckdb_bruteforce(spark):
    """Banded pair generation over 40 images (4 planted near-dup
    families + singletons) == the brute-force Hamming-ball DuckDB
    computes over the same hashes."""
    rng = np.random.RandomState(7)
    pixels = []
    for fam in range(4):
        base = _gradient_px(seed=100 + fam)
        pixels.append(base)
        for _ in range(3):
            mut = base.copy()
            # a couple of pixel tweaks: usually a 0-3 bit hash move
            for _ in range(2):
                r, c = rng.randint(0, base.shape[0]), rng.randint(0, base.shape[1])
                mut[r, c] = rng.randint(0, 256, size=3)
            pixels.append(mut)
    pixels += [_gradient_px(seed=200 + s) for s in range(24)]
    media = _media(spark, [encode_bmp(p) for p in pixels])

    hashes = image_phash(media).toPandas()
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in fp_dup_pairs(media, IMAGE, max_hamming=3).collect()
    )
    con = duckdb.connect()
    con.register("h", hashes)
    want = sorted(
        map(
            tuple,
            con.execute(
                "SELECT a.media_id, b.media_id, "
                "bit_count(xor(a.phash, b.phash)) AS d "
                "FROM h a JOIN h b ON a.media_id < b.media_id "
                "WHERE bit_count(xor(a.phash, b.phash)) <= 3 "
                "ORDER BY 1, 2"
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) > 0, "fixture planted no near-dups — weaken the mutation"


def test_image_dup_pairs_planted_single_bit_recall(spark):
    """Exact-construction recall pin: images built AT the dHash grid
    (9 x 8) so resampling is identity — B differs from A in exactly one
    gradient comparison (Hamming 1, must pair), C is A inverted
    (Hamming 64, must not)."""
    a = np.zeros((8, 9, 3), dtype=np.uint8)
    for c in range(9):
        a[:, c] = c * 10  # strictly increasing rows: all 64 bits set
    b = a.copy()
    b[0, 1] = a[0, 0]  # luma[0,1] == luma[0,0]: bit 0 flips, others keep
    inv = 255 - a  # strictly decreasing: all bits clear
    media = _media(spark, [encode_bmp(p) for p in (a, b, inv)])

    hashes = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    assert hashes[0] == _signed64((1 << 64) - 1)
    assert hashes[2] == 0
    assert bin((hashes[0] ^ hashes[1]) & ((1 << 64) - 1)).count("1") == 1

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in fp_dup_pairs(media, IMAGE, max_hamming=3).collect()
    }
    assert pairs == {(0, 1): 1}


def test_image_phash_decode_policy(spark):
    """Module-standard payload policy: NULL -> NULL hash (never pairs),
    non-image under fake_decode -> deterministic decoded=False
    stand-in, non-image without -> loud NotImplementedError."""
    payloads = [encode_bmp(_gradient_px()), b"definitely not an image", None]
    media = _media(spark, payloads)

    rows = {
        r["media_id"]: r
        for r in image_phash(media, fake_decode=True).collect()
    }
    assert rows[0]["decoded"] is True
    assert rows[1]["decoded"] is False and rows[1]["phash"] is not None
    assert rows[2]["phash"] is None
    again = {
        r["media_id"]: r["phash"]
        for r in image_phash(media, fake_decode=True).collect()
    }
    assert again == {k: v["phash"] for k, v in rows.items()}

    # NULL-hash rows never reach the pair join
    pairs = fp_dup_pairs(media, IMAGE, fake_decode=True)
    assert pairs.filter(
        (F.col("id_a") == 2) | (F.col("id_b") == 2)
    ).count() == 0

    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        image_phash(media).collect()
