"""The shared media-dedup plumbing, pinned once per fingerprint family.

Image, audio and video dedup share one code path
(``operators/fingerprint.py`` + the tagged artifact in
``operators/dedup.py`` + the ``fp_index``/``fp_filter`` CLI), so each
behaviour is one test,
parametrized over ``IMAGE``/``AUDIO``/``VIDEO`` with a per-family rig
of real payloads:

- corpus-wins gate: a cross-codec/container re-encode and a near-dup
  drop, a far item and its within-batch duplicate survive; cross-set
  pairs equal a DuckDB brute-force Hamming ball;
- artifact round-trip + guards: params ride the tag, NULL id/hash rows
  drop, an empty index round-trips, bad params / tagless / foreign-tag
  / wrong-columns / mixed-tag artifacts fail loudly, append runs under
  the artifact's own params;
- survivors-append feeds the gate; takedown remove + compact;
- the CLI deployment flow;
- the legacy image artifact (``_phash_algo``/``_phash_size`` columns)
  still loads and fscks, and refuses appends.

The fingerprint algorithms themselves (bit-exactness, robustness,
planted recall, ``fp_dup_pairs`` oracles) stay in the modality files.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
from types import SimpleNamespace

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from media_encoders import build_mjpeg_mp4, encode_flac
from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
    append_fp_index,
    compact_fp_index,
    hamming_pairs_against_corpus,
    index_fsck,
    load_fp_index,
    materialize,
    remove_from_fp_index,
    save_fp_index,
)
from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (
    AUDIO,
    FAMILIES,
    IMAGE,
    VIDEO,
)
from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import encode_jpeg
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    build_mjpeg_avi,
    encode_bmp,
    encode_png,
    encode_wav,
    to_media_table,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLI = os.path.join(REPO, "scripts", "run_pipeline.py")
KINDS = ["image", "audio", "video"]


def _image_rig():
    base = np.zeros((8, 9, 3), dtype=np.uint8)
    for c in range(9):
        base[:, c] = c * 10
    near = base.copy()
    near[0, 1] = base[0, 0]  # hamming 1 from base

    def px(seed):
        return np.random.RandomState(seed).randint(
            0, 256, size=(16, 18, 3)
        ).astype(np.uint8)

    return SimpleNamespace(
        base=encode_bmp(base), base_alt=encode_png(base),
        near=encode_bmp(near), far=encode_bmp(255 - base),  # hamming 64
        other=encode_bmp(px(42)), fresh=encode_bmp(px(5)),
        fresh_alt=encode_png(px(5)), max_hamming=3,
        params={"algo": "ahash", "hash_size": 4},
        bad_params=[({"algo": "md5"}, "algo"), ({"hash_size": 9}, "hash_size")],
    )


def _audio_rig():
    def tone(freqs, n=8000):
        t = np.arange(n) / 8000
        x = sum(a * np.sin(2 * np.pi * f * t) for f, a in freqs)
        return np.round(x).astype(np.int16).reshape(-1, 1)

    base = tone([(440, 4000), (1200, 2500), (2500, 1000)])
    noise = np.random.RandomState(3).randint(-20, 21, size=base.shape)
    near = (base.astype(np.int32) + noise).astype(np.int16)
    fresh = tone([(700, 4000), (2600, 2200)])
    return SimpleNamespace(
        base=encode_wav(base, 8000), base_alt=encode_flac(base, 8000),
        near=encode_wav(near, 8000),
        far=encode_wav(tone([(300, 3800), (900, 2400)]), 8000),
        other=encode_wav(tone([(620, 4500), (1800, 2000)]), 8000),
        fresh=encode_wav(fresh, 8000), fresh_alt=encode_flac(fresh, 8000),
        max_hamming=4,
        params={},
        bad_params=[({"n_samples": 3}, "takes no parameter")],
    )


def _video_rig():
    size = 24

    def frames(seed):
        rng = np.random.RandomState(seed)
        return [
            rng.randint(0, 256, size=(size, size, 3)).astype(np.uint8)
            for _ in range(5)
        ]

    def avi(pxs, quality=90, fps=10.0):
        return build_mjpeg_avi(
            [encode_jpeg(p, quality=quality) for p in pxs], size, size, fps=fps
        )

    base_px = frames(21)
    base_jpegs = [encode_jpeg(p) for p in base_px]
    return SimpleNamespace(
        base=build_mjpeg_avi(base_jpegs, size, size, fps=10.0),
        base_alt=build_mjpeg_mp4(base_jpegs, size, size, fps=10.0),
        near=avi(base_px, quality=85), far=avi(frames(23)),
        other=avi(frames(22)), fresh=avi(frames(43)),
        fresh_alt=avi(frames(43), fps=30.0),  # same content, other rate
        max_hamming=6,
        params={"n_samples": 4},
        bad_params=[({"n_samples": 0}, "n_samples"), ({"hash_size": 9}, "hash_size")],
    )


_RIGS = {"image": _image_rig, "audio": _audio_rig, "video": _video_rig}


@pytest.fixture(params=KINDS)
def fam(request):
    """(family, rig) for one modality."""
    return FAMILIES[request.param], _RIGS[request.param]()


def _media(spark, payloads, ids=None):
    ids = list(range(len(payloads))) if ids is None else ids
    pdf = pd.DataFrame({"media_id": ids, "payload": payloads})
    return to_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", source="test"
    )


def _gate(media, index, family, max_hamming, **params):
    """The ``fp_filter`` CLI's corpus gate: ``match_corpus``, then a
    left-anti join of the batch on the matched ids (corpus wins)."""
    params = family.params(**params)
    fps = family.fingerprint(media, **params)
    matched = family.match_corpus(fps, index, params, max_hamming)
    return media.join(matched, "media_id", "left_anti")


def test_dedup_fp_against_corpus(spark, tmp_path, fam):
    """Corpus wins: a cross-codec re-encode of an indexed item drops
    (hamming 0), a near-dup drops, a far item and its within-batch
    duplicate both survive (the gate does not dedup the batch against
    itself); the cross-set pairs replay in DuckDB by brute force."""
    family, rig = fam
    h = family.hash_col
    path = str(tmp_path / "idx")
    save_fp_index(
        family.fingerprint(_media(spark, [rig.base, rig.other])), path, family
    )
    index, params = load_fp_index(spark, path, family)
    assert params == family.params()

    new_media = _media(
        spark, [rig.base_alt, rig.near, rig.far, rig.far],
        ids=[100, 101, 102, 103],
    )
    kept = _gate(new_media, index, family, rig.max_hamming, **params)
    assert sorted(r["media_id"] for r in kept.collect()) == [102, 103]

    new_fps = family.fingerprint(new_media, **params)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in hamming_pairs_against_corpus(
            new_fps, index, hash_col=h, max_hamming=rig.max_hamming
        ).collect()
    )
    con = duckdb.connect()
    con.register("n", new_fps.select("media_id", h).toPandas())
    con.register("c", index.toPandas())
    want = sorted(
        map(
            tuple,
            con.execute(
                f"SELECT n.media_id, c.media_id, bit_count(xor(n.{h}, c.{h})) "
                f"FROM n, c WHERE bit_count(xor(n.{h}, c.{h})) "
                f"<= {rig.max_hamming}"
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 2

    # width-mismatch fail-fast: a 64-bit hash probed at nbits=16 is an
    # in-row raise_error during the join pass itself
    with pytest.raises(Exception, match="nbits"):
        hamming_pairs_against_corpus(
            new_fps, index, hash_col=h, nbits=16, max_hamming=3
        ).collect()


def test_fp_index_roundtrip_and_guards(spark, tmp_path, fam):
    """The tagged artifact discipline: params ride the tag and come
    back from load; NULL hash and NULL id rows drop at save; an EMPTY
    index round-trips via the sentinel; bad params, tagless parquet, a
    foreign tag, another family's columns and mixed tags fail loudly;
    append runs under the artifact's own params."""
    family, rig = fam
    h = family.hash_col
    media = _media(spark, [rig.base, rig.other, rig.far, None])
    fps = family.fingerprint(media, fake_decode=True, **rig.params)
    path = str(tmp_path / "idx")
    save_fp_index(fps, path, family, **rig.params)

    idx, params = load_fp_index(spark, path, family)
    assert params == family.params(**rig.params)
    assert sorted(idx.columns) == sorted(["media_id", h])
    got = {r["media_id"]: r[h] for r in idx.collect()}
    want = {r["media_id"]: r[h] for r in fps.collect() if r[h] is not None}
    assert got == want and len(got) == 3  # NULL-hash row dropped

    empty = str(tmp_path / "empty")
    save_fp_index(fps.filter("media_id < 0"), empty, family, **rig.params)
    idx2, params2 = load_fp_index(spark, empty, family)
    assert (idx2.count(), params2) == (0, params)

    for bad, match in rig.bad_params:
        with pytest.raises(ValueError, match=match):
            save_fp_index(fps, str(tmp_path / "bad"), family, **bad)
    with pytest.raises(ValueError, match="lacks column"):
        save_fp_index(fps.drop(h), str(tmp_path / "x1"), family)
    plain = str(tmp_path / "plain")
    fps.select("media_id", h).write.parquet(plain)
    with pytest.raises(ValueError, match="_fp_tag"):
        load_fp_index(spark, plain, family)
    foreign = str(tmp_path / "foreign")
    fps.select("media_id", h).withColumn(
        "_fp_tag", F.lit("foreign-v0:1")
    ).write.parquet(foreign)
    with pytest.raises(ValueError, match="family/revision"):
        load_fp_index(spark, foreign, family)
    # another family's artifact: rejected on its columns before any
    # tag parse, whichever family wrote it
    for other in FAMILIES.values():
        if other is not family:
            with pytest.raises(ValueError, match="lacks column"):
                load_fp_index(spark, path, other)
    mixed = str(tmp_path / "mixed")
    fps.select("media_id", h).withColumn(
        "_fp_tag", F.lit(family.tag(params))
    ).write.parquet(mixed)
    fps.select("media_id", h).withColumn(
        "_fp_tag", F.lit("foreign-v0:1")
    ).write.mode("append").parquet(mixed)
    with pytest.raises(ValueError, match="mixes"):
        load_fp_index(spark, mixed, family)

    # NULL-id rows drop at SAVE (NULL id is the empty-index sentinel —
    # persisting them would lose their hashes on load)
    with_null_id = fps.unionByName(
        fps.limit(1).select(
            F.lit(None).cast("long").alias("media_id"),
            F.lit(42).cast("long").alias(h),
            *[F.col(c) for c in fps.columns if c not in ("media_id", h)],
        )
    )
    nid = str(tmp_path / "nullid")
    save_fp_index(with_null_id, nid, family, **rig.params)
    assert load_fp_index(spark, nid, family)[0].count() == 3

    extra = family.fingerprint(
        _media(spark, [rig.fresh], ids=[50]), **params
    )
    assert append_fp_index(spark, path, extra, family) == 1
    idx3, params3 = load_fp_index(spark, path, family)
    assert (idx3.count(), params3) == (4, params)
    with pytest.raises(ValueError, match="_fp_tag"):
        append_fp_index(spark, plain, fps, family)
    with pytest.raises(ValueError, match="lacks column"):
        append_fp_index(spark, path, fps.drop(h), family)


def test_fp_index_append_feeds_corpus_gate(spark, tmp_path, fam):
    """Survivors-append flow: gate a batch with the artifact's own
    params, append the survivors' fingerprints, and the SAME batch
    re-gated against the grown index drops entirely."""
    family, rig = fam
    path = str(tmp_path / "idx")
    save_fp_index(family.fingerprint(_media(spark, [rig.base])), path, family)

    batch = _media(spark, [rig.near, rig.far], ids=[10, 11])
    index, params = load_fp_index(spark, path, family)
    survivors = _gate(batch, index, family, rig.max_hamming, **params)
    assert [r["media_id"] for r in survivors.collect()] == [11]

    fps = materialize(family.fingerprint(batch, **params))
    surv_fps = fps.join(survivors.select("media_id"), "media_id", "left_semi")
    assert append_fp_index(spark, path, surv_fps, family) == 1

    regate = _gate(
        batch, load_fp_index(spark, path, family)[0], family,
        rig.max_hamming, **params,
    )
    assert regate.count() == 0
    # appending nothing is a no-op, not a corrupt artifact
    assert append_fp_index(spark, path, fps.filter("media_id < 0"), family) == 0
    assert load_fp_index(spark, path, family)[0].count() == 2


def test_fp_index_remove_and_compact(spark, tmp_path, fam):
    """Takedown lifecycle on every family's artifact: remove tombstones
    under the artifact's family (a wrong family is rejected with
    nothing written), load suppresses the id, compact folds it in."""
    family, rig = fam
    hashes = spark.createDataFrame(
        [(1, 11), (2, 22), (3, 33)], f"media_id long, {family.hash_col} long"
    )
    ids = spark.createDataFrame([(2,)], "media_id long")
    path = str(tmp_path / "idx")
    save_fp_index(hashes, path, family, **rig.params)
    wrong = AUDIO if family is not AUDIO else VIDEO
    with pytest.raises(ValueError):
        remove_from_fp_index(spark, path, ids, wrong)
    assert not os.path.isdir(path + "_tombstones")

    rep = remove_from_fp_index(spark, path, ids, family)
    assert rep["tombstones_total"] == 1
    idx, params = load_fp_index(spark, path, family)
    assert params == family.params(**rig.params)
    assert sorted(r["media_id"] for r in idx.collect()) == [1, 3]
    assert compact_fp_index(spark, path, family, force=True)["compacted"]
    idx, _ = load_fp_index(spark, path, family)
    assert sorted(r["media_id"] for r in idx.collect()) == [1, 3]


def _cli(*args: str, ok: bool = True) -> subprocess.CompletedProcess:
    out = subprocess.run(
        [sys.executable, CLI, *args],
        capture_output=True, text=True, timeout=240, cwd=REPO,
    )
    if ok:
        assert out.returncode == 0, out.stderr[-2000:]
    return out


@pytest.mark.parametrize("kind", KINDS)
def test_cli_fp_index_and_filter(tmp_path, kind):
    """Incremental-dedup deployment flow through `fp_index --kind` /
    `fp_filter --kind`: index a corpus, gate a batch (a re-encode of an
    indexed item + a fresh item) — the re-encode drops, the fresh item
    survives and its fingerprint appends to the index, so a SECOND
    batch with the fresh item re-encoded drops too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rig = _RIGS[kind]()

    def lake(name, ids, payloads):
        p = tmp_path / f"{name}.parquet"
        pq.write_table(pa.table({"media_id": ids, "payload": payloads}), p)
        return str(p)

    idx = str(tmp_path / "idx")
    corpus = lake("corpus", [1, 2, 3], [rig.base, rig.other, rig.far])
    out = _cli("fp_index", "--kind", kind, "--input", corpus, "--output", idx)
    assert f"indexed 3 {kind} fingerprints" in out.stdout

    new = lake("new", [10, 11], [rig.base_alt, rig.fresh])
    kept_dir = str(tmp_path / "kept")
    out = _cli(
        "fp_filter", "--kind", kind, "--input", new, "--index", idx,
        "--output", kept_dir, "--append-survivors",
    ).stdout
    assert f"kept 1/2 {kind} items" in out
    # the hot-bucket cap's drop count is visible, never silent
    assert "hot_buckets_dropped=0" in out
    assert "appended 1 survivor fingerprints" in out
    kept = pq.read_table(glob.glob(os.path.join(kept_dir, "*.parquet"))[0])
    assert kept.column("media_id").to_pylist() == [11]

    again = lake("again", [20], [rig.fresh_alt])
    out = _cli(
        "fp_filter", "--kind", kind, "--input", again, "--index", idx,
        "--output", str(tmp_path / "kept2"), "--max-bucket", "0",
    ).stdout
    assert f"kept 0/1 {kind} items" in out


def test_cli_fp_index_rejects_flags_of_other_kinds(tmp_path):
    """A flag the chosen kind does not use is an error, not a silent
    no-op — checked before any Spark session starts."""
    out = _cli(
        "fp_index", "--kind", "audio", "--input", "x", "--output",
        str(tmp_path / "idx"), "--n-samples", "3", ok=False,
    )
    assert out.returncode != 0 and "n_samples" in out.stderr
    out = _cli(
        "fp_index", "--kind", "image", "--input", "x", "--output",
        str(tmp_path / "idx"), "--hash-size", "9", ok=False,
    )
    assert out.returncode != 0 and "hash_size" in out.stderr


def test_legacy_image_index_loads_fscks_and_refuses_append(spark, tmp_path):
    """An image index written in the pre-tag layout (`_phash_algo` /
    `_phash_size` columns, NULL-id sentinel) loads as IMAGE params with
    the same rows as a tagged rebuild and probes identically, fscks ok,
    and refuses appends (two layouts would mix in one dir)."""
    hashes = spark.createDataFrame(
        [(1, 0x0F0F), (2, 0x3333), (3, 0xFFFF)], "media_id long, phash long"
    )
    sentinel = spark.createDataFrame([(None, None)], "media_id long, phash long")
    legacy = str(tmp_path / "legacy")
    (
        hashes.unionByName(sentinel)
        .withColumn("_phash_algo", F.lit("ahash"))
        .withColumn("_phash_size", F.lit(4))
        .write.parquet(legacy)
    )
    tagged = str(tmp_path / "tagged")
    save_fp_index(hashes, tagged, IMAGE, algo="ahash", hash_size=4)

    idx_l, params_l = load_fp_index(spark, legacy, IMAGE)
    idx_t, params_t = load_fp_index(spark, tagged, IMAGE)
    assert params_l == params_t == {"algo": "ahash", "hash_size": 4}
    assert sorted(map(tuple, idx_l.collect())) == sorted(
        map(tuple, idx_t.collect())
    )
    probe = spark.createDataFrame(
        [(10, 0x0F0E), (11, 0x3330), (12, 0x5555)], "media_id long, phash long"
    )

    def matches(index):
        return sorted(
            r["media_id"] for r in IMAGE.match_corpus(
                probe, index, params_l, max_hamming=2
            ).collect()
        )

    assert matches(idx_l) == matches(idx_t) == [10, 11]

    rep = index_fsck(spark, legacy)
    assert rep["ok"] and rep["kind"] == "fp_tagged"
    assert rep["meta"] == {
        "family": "image", "tag": "phash-v1:ahash:4", "legacy_layout": True
    }
    assert (rep["rows"], rep["live_rows"]) == (3, 3)

    with pytest.raises(ValueError, match="rebuild"):
        append_fp_index(spark, legacy, probe, IMAGE)
    assert spark.read.parquet(legacy).count() == 4  # nothing written
