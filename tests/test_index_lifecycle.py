"""Deletion lifecycle for every persisted index.

One engine in `operators/dedup.py` serves the ANN index
(`pq.remove_from_ann_index` / `compact_ann_index`), the tagged media
fingerprint index and the MinHash signature index; `_index_layout` is
the one place that says where an artifact keeps its rows and its
tombstones (`<path>/codes` + `<path>/tombstones` for ANN, `<path>` +
`<path>_tombstones` otherwise). The per-family media lifecycle is
pinned in test_fp_family.py and the ANN search semantics in
test_pq.py; the contracts below run on the image family's artifact
and, where marked, on both layouts:

- remove-then-probe == probe-against-rebuilt-without-ids, per tier;
- the tombstone-vs-reappend contract (a tombstone suppresses its id
  even if re-appended; compaction clears the way);
- a rebuild clears the old index's tombstones, on both layouts;
- torn / wrong-family artifacts reject removal with nothing written;
- compaction is threshold-gated, count-validated, and changes storage
  but never probe or search results; a crash between its two swap
  renames is restored by `recover_index_swap`;
- the CLI exposes --remove / --compact on dedup_index, fp_index and
  ann_index.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
    compact_dedup_index,
    compact_fp_index,
    dedup_against_corpus,
    load_dedup_index,
    load_fp_index,
    minhash_signature_index,
    remove_from_dedup_index,
    remove_from_fp_index,
    append_fp_index,
    save_dedup_index,
    save_fp_index,
    hamming_pairs_against_corpus,
)
from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (
    AUDIO,
    IMAGE,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLI = os.path.join(REPO, "scripts", "run_pipeline.py")

# 16-bit image fingerprints: the probes below band at nbits=16
PARAMS = {"algo": "dhash", "hash_size": 4}


def _fp_frame(spark, rows):
    return spark.createDataFrame(rows, "media_id long, phash long")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "media_id long")


def _probe_ids(probe, index):
    pairs = hamming_pairs_against_corpus(
        probe, index, hash_col="phash", id_col="media_id",
        nbits=16, max_hamming=1,
    )
    return sorted(
        (r["new_id"], r["corpus_id"]) for r in pairs.collect()
    )


def test_fp_remove_then_probe_equals_rebuild(spark, tmp_path):
    """The core takedown contract on the generic tagged artifact:
    after remove(ids), every probe behaves exactly as if the index had
    been rebuilt without those ids — same pairs, same survivors."""
    rows = [(i, i * 16) for i in range(1, 9)]  # distinct, far apart
    full = _fp_frame(spark, rows)
    path = str(tmp_path / "fp")
    save_fp_index(full, path, IMAGE, **PARAMS)

    probe = _fp_frame(spark, [(100 + i, h + 1) for i, h in rows])  # d=1 hits
    idx, _ = load_fp_index(spark, path, IMAGE)
    assert len(_probe_ids(probe, idx)) == 8

    report = remove_from_fp_index(spark, path, _ids(spark, [2, 5]), IMAGE)
    assert report["requested"] == 2
    assert report["tombstones_total"] == 2
    assert report["index_rows"] == 8  # physical rows untouched

    rebuilt_path = str(tmp_path / "fp_rebuilt")
    save_fp_index(
        full.filter(~F.col("media_id").isin(2, 5)), rebuilt_path, IMAGE,
        **PARAMS,
    )
    got = _probe_ids(probe, load_fp_index(spark, path, IMAGE)[0])
    want = _probe_ids(probe, load_fp_index(spark, rebuilt_path, IMAGE)[0])
    assert got == want and len(got) == 6
    assert not any(c in (2, 5) for _, c in got)


def test_fp_tombstone_suppresses_reappend_until_compact(spark, tmp_path):
    """The ANN tombstone-vs-reappend contract, replicated: a removed
    id stays suppressed even if appended again; compaction folds both
    the original and the re-append away, after which a fresh append
    becomes visible."""
    path = str(tmp_path / "fp")
    save_fp_index(
        _fp_frame(spark, [(1, 16), (2, 32), (3, 48)]), path, IMAGE, **PARAMS
    )
    remove_from_fp_index(spark, path, _ids(spark, [3]), IMAGE)
    # re-append id 3: still suppressed (tombstone wins)
    append_fp_index(spark, path, _fp_frame(spark, [(3, 48)]), IMAGE)
    idx, _ = load_fp_index(spark, path, IMAGE)
    assert sorted(r["media_id"] for r in idx.collect()) == [1, 2]

    rep = compact_fp_index(spark, path, IMAGE, force=True)
    assert rep["compacted"] is True
    assert rep["folded_tombstones"] == 1
    # both physical rows for id 3 folded away
    idx, _ = load_fp_index(spark, path, IMAGE)
    assert sorted(r["media_id"] for r in idx.collect()) == [1, 2]

    # tombstones cleared: a fresh append is visible again
    append_fp_index(spark, path, _fp_frame(spark, [(3, 48)]), IMAGE)
    idx, _ = load_fp_index(spark, path, IMAGE)
    assert sorted(r["media_id"] for r in idx.collect()) == [1, 2, 3]


def test_fp_remove_rejects_torn_and_wrong_tag(spark, tmp_path):
    """Removal validates the artifact FIRST: a plain parquet (no tag)
    and a wrong-family tag both reject with no tombstone written."""
    plain = str(tmp_path / "plain")
    _fp_frame(spark, [(1, 16)]).write.parquet(plain)
    with pytest.raises(ValueError, match="_fp_tag"):
        remove_from_fp_index(spark, plain, _ids(spark, [1]), IMAGE)
    assert not os.path.isdir(plain + "_tombstones")

    path = str(tmp_path / "fp")
    save_fp_index(_fp_frame(spark, [(1, 16)]), path, IMAGE, **PARAMS)
    with pytest.raises(ValueError, match="lacks column"):
        remove_from_fp_index(spark, path, _ids(spark, [1]), AUDIO)
    assert not os.path.isdir(path + "_tombstones")
    # the family's columns under another revision's tag
    old_rev = str(tmp_path / "old_rev")
    _fp_frame(spark, [(1, 16)]).withColumn(
        "_fp_tag", F.lit("phash-v0:dhash:4")
    ).write.parquet(old_rev)
    with pytest.raises(ValueError, match="family/revision"):
        remove_from_fp_index(spark, old_rev, _ids(spark, [1]), IMAGE)
    assert not os.path.isdir(old_rev + "_tombstones")
    # the ids frame must carry the index's id column
    bad = spark.createDataFrame([(1,)], "wrong_col long")
    with pytest.raises(ValueError, match="media_id"):
        remove_from_fp_index(spark, path, bad, IMAGE)


def test_fp_compact_threshold_gating_and_report(spark, tmp_path):
    """Compaction is deferred below min_ratio (the per-load anti-join
    is cheaper than the rewrite) and runs under force — with the
    before/after accounting and the tombstone dir cleared."""
    path = str(tmp_path / "fp")
    save_fp_index(
        _fp_frame(spark, [(i, i * 16) for i in range(1, 21)]), path, IMAGE,
        **PARAMS,
    )
    remove_from_fp_index(spark, path, _ids(spark, [7]), IMAGE)  # 5% ratio
    rep = compact_fp_index(spark, path, IMAGE, min_ratio=0.1)
    assert rep["compacted"] is False and "min_ratio" in rep["reason"]
    assert os.path.isdir(path + "_tombstones")

    rep = compact_fp_index(spark, path, IMAGE, min_ratio=0.1, force=True)
    assert rep["compacted"] is True
    assert rep["index_rows_before"] == 20
    assert rep["index_rows_after"] == 19
    assert not os.path.isdir(path + "_tombstones")
    # the artifact survives the swap intact (tag + sentinel + rows)
    idx, params = load_fp_index(spark, path, IMAGE)
    assert params == PARAMS and idx.count() == 19
    # compacting again: nothing to do
    rep = compact_fp_index(spark, path, IMAGE, force=True)
    assert rep["compacted"] is False and rep["reason"] == "no tombstones"


def test_minhash_remove_then_probe_equals_rebuild(spark, tmp_path):
    """Text tier: a removed document stops seeding near-dup verdicts —
    the gate keeps a batch doc that near-dups ONLY the removed corpus
    doc, exactly as a rebuilt-without-it index would."""
    texts = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "how vexingly quick daft zebras jump over fences"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    path = str(tmp_path / "mh")
    idx = minhash_signature_index(docs, num_hashes=32, k=3)
    save_dedup_index(idx, 32, 3, path)

    batch = spark.createDataFrame(
        [(20, "pack my box with five dozen liquor jugs right away")],
        "doc_id long, text string",
    )
    index, nh, k = load_dedup_index(spark, path)
    kept = dedup_against_corpus(batch, index, threshold=0.5, num_hashes=nh, k=k)
    assert kept.count() == 0  # near-dups corpus doc 2 -> dropped

    rep, n_jobs = _jobs_in_group(
        spark, "minhash-remove",
        lambda: remove_from_dedup_index(spark, path, _ids2(spark, [2])),
    )
    assert rep["requested"] == 1 and rep["tombstones_total"] == 1
    assert n_jobs <= REMOVE_JOB_BUDGET["minhash"], n_jobs
    index, nh, k = load_dedup_index(spark, path)
    kept = dedup_against_corpus(batch, index, threshold=0.5, num_hashes=nh, k=k)
    assert [r["doc_id"] for r in kept.collect()] == [20]

    # identical to a rebuild without doc 2
    rb = str(tmp_path / "mh_rb")
    save_dedup_index(
        minhash_signature_index(
            docs.filter("doc_id <> 2"), num_hashes=32, k=3
        ),
        32, 3, rb,
    )
    index_rb, nh, k = load_dedup_index(spark, rb)
    kept_rb = dedup_against_corpus(
        batch, index_rb, threshold=0.5, num_hashes=nh, k=k
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in kept_rb.collect()
    )

    rep, n_jobs = _jobs_in_group(
        spark, "minhash-compact",
        lambda: compact_dedup_index(spark, path, force=True),
    )
    assert rep["compacted"] is True and rep["index_rows_after"] == 2
    assert n_jobs <= COMPACT_JOB_BUDGET["minhash"], n_jobs
    index, nh, k = load_dedup_index(spark, path)
    assert index.count() == 2


def _ids2(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def test_cli_index_remove_and_compact(tmp_path):
    """CLI lifecycle pins: dedup_index --remove tombstones ids (JSON
    report), the filter gate then keeps a near-dup of the removed doc,
    and --compact --compact-force folds the tombstones."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = tmp_path / "docs.parquet"
    pq.write_table(
        pa.table({
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog tonight",
                "pack my box with five dozen liquor jugs right now",
                "how vexingly quick daft zebras jump over fences",
            ],
        }),
        docs,
    )
    idx = str(tmp_path / "mhidx")

    def run(*args):
        out = subprocess.run(
            [sys.executable, CLI, *args],
            capture_output=True, text=True, timeout=240, cwd=REPO,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout

    run("dedup_index", "--input", str(docs), "--output", idx)

    ids = tmp_path / "takedown.parquet"
    pq.write_table(pa.table({"doc_id": [2]}), ids)
    report = json.loads(
        run("dedup_index", "--output", idx, "--remove", str(ids))
        .strip().splitlines()[-1]
    )
    assert report["tombstones_total"] == 1
    assert report["index_rows"] == 3

    batch = tmp_path / "batch.parquet"
    pq.write_table(
        pa.table({
            "doc_id": [20],
            "text": ["pack my box with five dozen liquor jugs right away"],
        }),
        batch,
    )
    out_dir = str(tmp_path / "survivors")
    run(
        "dedup_filter", "--input", str(batch), "--index", idx,
        "--output", out_dir, "--threshold", "0.5",
    )
    import pyarrow.parquet as pq2

    kept = pq2.read_table(out_dir).to_pydict()["doc_id"]
    assert kept == [20]  # its only near-dup was tombstoned

    report = json.loads(
        run(
            "dedup_index", "--output", idx, "--compact", "--compact-force"
        ).strip().splitlines()[-1]
    )
    assert report["compacted"] is True
    assert report["index_rows_after"] == 2


def test_rebuild_clears_stale_tombstones(spark, tmp_path):
    """Regression (round-12 review): tombstones live in a SIBLING dir,
    so a full rebuild via save_*_index must clear them — otherwise a
    legitimately-present id in the brand-new index stays suppressed
    forever (and a later compact physically deletes it)."""
    path = str(tmp_path / "fp")
    save_fp_index(
        _fp_frame(spark, [(1, 16), (2, 32)]), path, IMAGE, **PARAMS
    )
    remove_from_fp_index(spark, path, _ids(spark, [2]), IMAGE)
    assert os.path.isdir(path + "_tombstones")

    # nightly rebuild: id 2 is legitimately in the fresh corpus
    save_fp_index(
        _fp_frame(spark, [(1, 16), (2, 32), (3, 48)]), path, IMAGE, **PARAMS
    )
    assert not os.path.isdir(path + "_tombstones")
    idx, _ = load_fp_index(spark, path, IMAGE)
    assert sorted(r["media_id"] for r in idx.collect()) == [1, 2, 3]

    # same for the MinHash artifact
    mh = str(tmp_path / "mh")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    save_dedup_index(minhash_signature_index(docs), 32, 3, mh)
    remove_from_dedup_index(spark, mh, _ids2(spark, [2]))
    save_dedup_index(minhash_signature_index(docs), 32, 3, mh)
    assert load_dedup_index(spark, mh)[0].count() == 2


def test_remove_casts_ids_to_index_type(spark, tmp_path):
    """Regression (round-12 review): two removes carrying DIFFERENT
    physical id types (int vs long parquet from different tools) must
    not mix schemas in the tombstone dir — every id is cast to the
    index's id type before writing, so the index stays loadable."""
    path = str(tmp_path / "fp")
    save_fp_index(
        _fp_frame(spark, [(1, 16), (2, 32), (3, 48)]), path, IMAGE,
        **PARAMS,
    )
    remove_from_fp_index(spark, path, _ids(spark, [1]), IMAGE)  # long ids
    ints = spark.createDataFrame([(2,)], "media_id int")  # int32 ids
    remove_from_fp_index(spark, path, ints, IMAGE)
    idx, _ = load_fp_index(spark, path, IMAGE)  # must not raise
    assert sorted(r["media_id"] for r in idx.collect()) == [3]
    rep = compact_fp_index(spark, path, IMAGE, force=True)
    assert rep["compacted"] is True and rep["index_rows_after"] == 1


def test_index_fsck_all_kinds(spark, tmp_path):
    """index_fsck detects every artifact kind from its own metadata,
    reports lifecycle state read-only, and reports (never raises) on
    broken artifacts — the fleet-sweep contract."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        index_fsck,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (  # noqa: E501
        VIDEO,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        build_ann_index,
        remove_from_ann_index,
    )

    # media fingerprint artifact, one tombstone
    fp = str(tmp_path / "fp")
    save_fp_index(_fp_frame(spark, [(1, 16), (2, 32)]), fp, IMAGE, **PARAMS)
    remove_from_fp_index(spark, fp, _ids(spark, [2]), IMAGE)
    rep = index_fsck(spark, fp)
    assert rep["ok"] and rep["kind"] == "fp_tagged"
    assert rep["meta"] == {"family": "image", "tag": "phash-v1:dhash:4"}
    assert (rep["rows"], rep["live_rows"], rep["tombstones"]) == (2, 1, 1)

    # minhash artifact (records its own id column)
    mh = str(tmp_path / "mh")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    save_dedup_index(minhash_signature_index(docs), 32, 3, mh)
    rep = index_fsck(spark, mh)
    assert rep["ok"] and rep["kind"] == "minhash"
    assert rep["meta"] == {"num_hashes": 32, "k": 3}
    assert rep["rows"] == 2 and rep["tombstones"] == 0

    # the family comes from the hash column: audio and video artifacts
    for family, params in ((AUDIO, {}), (VIDEO, {"n_samples": 3})):
        p = str(tmp_path / family.name)
        save_fp_index(
            spark.createDataFrame(
                [(1, 11)], f"media_id long, {family.hash_col} long"
            ),
            p, family, **params,
        )
        rep = index_fsck(spark, p)
        assert rep["ok"] and rep["kind"] == "fp_tagged"
        assert rep["meta"] == {
            "family": family.name, "tag": family.tag(family.params(**params))
        }

    # ANN artifact with a tombstone
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.0]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    ann = str(tmp_path / "ann")
    build_ann_index(emb, ann, n_clusters=2, m=2, n_codes=4, iters=1)
    remove_from_ann_index(spark, ann, spark.createDataFrame([(3,)], "vec_id long"))
    rep = index_fsck(spark, ann)
    assert rep["ok"] and rep["kind"] == "ann_ivf_pq"
    assert rep["meta"]["id_col"] == "vec_id"
    assert rep["rows"] == 24 and rep["tombstones"] == 1

    # broken artifacts REPORT, never raise
    plain = str(tmp_path / "plain")
    _fp_frame(spark, [(1, 16)]).write.parquet(plain)
    rep = index_fsck(spark, plain)
    assert rep["ok"] is False and "not a persisted index" in rep["error"]

    # stale swap dir flips ok to False with an actionable error
    os.makedirs(fp + "_compacting", exist_ok=True)
    rep = index_fsck(spark, fp)
    assert rep["ok"] is False and "_compacting" in rep["error"]
    os.rmdir(fp + "_compacting")

    # torn ANN (marker gone) reports too
    os.remove(os.path.join(ann, "_INDEX_OK"))
    rep = index_fsck(spark, ann)
    assert rep["ok"] is False and "_INDEX_OK missing" in rep["error"]


def test_swap_crash_recovery_protects_last_copy(spark, tmp_path):
    """Compact's two-rename swap window (index path missing, last copy
    in `<path>_old` / `<path>_compacting`): recover_index_swap renames
    the right copy back, clear_index_lifecycle_state REFUSES to delete
    the survivors while the path is absent (a rebuild must not destroy
    the only copy), and index_fsck names the state + the fix instead of
    a generic read failure."""
    import shutil

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        clear_index_lifecycle_state,
        index_fsck,
        recover_index_swap,
    )

    rows = [(i, i * 16) for i in range(1, 9)]
    path = str(tmp_path / "fp")
    save_fp_index(_fp_frame(spark, rows), path, IMAGE, **PARAMS)
    remove_from_fp_index(spark, path, _ids(spark, [2]), IMAGE)

    # healthy artifact: recovery is a no-op
    assert recover_index_swap(path)["recovered"] is False

    # simulate a crash between rename(p, old) and rename(compacting, p):
    # _compacting holds the validated post-fold copy, _old the pre-fold
    shutil.copytree(path, path + "_compacting")
    os.rename(path, path + "_old")

    rep = index_fsck(spark, path)
    assert rep["ok"] is False and rep["kind"] == "crashed_swap"
    assert "recover_index_swap" in rep["error"]

    with pytest.raises(ValueError, match="recover_index_swap"):
        clear_index_lifecycle_state(path)
    assert os.path.isdir(path + "_old")  # refusal deleted nothing

    got = recover_index_swap(path)
    assert got == {"recovered": True, "from": "compacting", "path": path}
    # post-fold copy restored, siblings and (already-folded) tombstones gone
    assert os.path.isdir(path)
    assert not os.path.isdir(path + "_old")
    assert not os.path.isdir(path + "_compacting")
    assert not os.path.isdir(path + "_tombstones")
    idx, _ = load_fp_index(spark, path, IMAGE)
    assert idx.count() == 8  # copytree predates the fold in this rig

    # crash window BEFORE compacting existed (only _old survives):
    os.rename(path, path + "_old")
    got = recover_index_swap(path)
    assert got == {"recovered": True, "from": "old", "path": path}
    assert load_fp_index(spark, path, IMAGE)[0].count() == 8

    # nothing anywhere → honest report, no raise
    empty = str(tmp_path / "nothing")
    assert recover_index_swap(empty)["recovered"] is False


def test_index_fsck_covers_every_save_writer(spark, tmp_path):
    """Kind-coverage contract: every `save_*` artifact writer in the
    package (plus the marker-protocol ANN builder) maps to an
    index_fsck kind, enumerated from the SOURCE so a new writer without
    fsck coverage fails here. The Z-order lake layout is deliberately
    absent: it is a row ordering of a data table, not a loadable
    artifact (documented in the fsck docstring). For each
    non-lifecycle kind, build the artifact and assert fsck identifies
    and validates it. Artifacts of kinds the package no longer writes
    (an HLL sketch, the nested n-gram LM tables) are reported as
    not ok, never raised."""
    import glob
    import re

    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        index_fsck,
    )

    pkg = os.path.join(REPO, "hospital_stain_tracker_data_pipeline_spark")
    writers = set()
    for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        writers |= set(re.findall(r"^def (save_\w+)", open(f).read(), re.M))
    expected_kind = {
        "save_dedup_index": "minhash",
        "save_fp_index": "fp_tagged",  # image, audio and video
        "save_ivf_index": "ivf_centroids",
        "save_pq_index": "pq_codebooks",
        "save_text_probe": "text_probe",
    }
    # the enumeration IS the assertion: a new save_* writer must be
    # added to this map (and to fsck) or this test fails
    assert writers == set(expected_kind), (
        sorted(writers ^ set(expected_kind))
    )

    from hospital_stain_tracker_data_pipeline_spark.operators.features import (
        save_text_probe,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        save_pq_index,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        save_ivf_index,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
        hll_registers,
    )

    p = str(tmp_path / "ivf")
    save_ivf_index(spark, np.arange(8, dtype=np.int64).reshape(2, 4), p)
    rep = index_fsck(spark, p)
    assert rep["ok"] and rep["kind"] == "ivf_centroids"
    assert rep["meta"] == {"k": 2, "dim": 4}

    p = str(tmp_path / "pq")
    save_pq_index(spark, np.arange(16, dtype=np.int64).reshape(2, 4, 2), p)
    rep = index_fsck(spark, p)
    assert rep["ok"] and rep["kind"] == "pq_codebooks"
    assert rep["meta"] == {"m": 2, "n_codes": 4, "dsub": 2}

    p = str(tmp_path / "probe.json")
    save_text_probe(p, [0.5, -0.25, 0.125], 0.1, 3)
    rep = index_fsck(spark, p)
    assert rep["ok"] and rep["kind"] == "text_probe"
    assert rep["meta"] == {"dim": 3} and rep["rows"] == 3

    p = str(tmp_path / "hll")
    users = spark.createDataFrame([(f"u{i % 5}",) for i in range(40)], "user string")
    hll_registers(users, "user", p=8).withColumn("_hll_p", F.lit(8)).withColumn(
        "_hll_by", F.lit("[]")
    ).write.parquet(p)
    rep = index_fsck(spark, p)
    assert rep["ok"] is False and "no recognizable index metadata" in rep["error"]
    # the former n-gram LM layout: three nested tables, none at the top
    p = str(tmp_path / "lm")
    for table in ("grams", "contexts", "meta"):
        users.write.parquet(os.path.join(p, table))
    rep = index_fsck(spark, p)
    assert rep["ok"] is False and "no recognizable index metadata" in rep["error"]


def _ann_corpus(spark, ids):
    return spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.0]) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _ann_served(spark, path):
    """Every id a search over all cells serves (k covers the corpus)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        search_ann_index,
    )

    q = _ann_corpus(spark, [0]).withColumnRenamed("vec_id", "query_id")
    got = search_ann_index(spark, path, q, k=64, nprobe=2)
    return sorted(r["vec_id"] for r in got.select("vec_id").collect())


def _ann_ops(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators import pq
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        suppress_index_tombstones,
    )

    def build(path, ids):
        pq.build_ann_index(
            _ann_corpus(spark, ids), path, n_clusters=2, m=2, n_codes=4,
            iters=1,
        )

    def ids_frame(ids):
        return spark.createDataFrame([(i,) for i in ids], "vec_id long")

    def live(path):
        # the suppressed candidate set every search scores (cheaper
        # than a full search, which the tests run where it matters)
        codes = spark.read.parquet(os.path.join(path, "codes"))
        got = suppress_index_tombstones(spark, path, codes, "vec_id")
        return sorted(r["vec_id"] for r in got.collect())

    return dict(
        build=build,
        remove=lambda p, ids: pq.remove_from_ann_index(spark, p, ids_frame(ids)),
        compact=lambda p, **kw: pq.compact_ann_index(spark, p, **kw),
        served=lambda p: _ann_served(spark, p),
        live=live,
        data=lambda p: os.path.join(p, "codes"),
        tombs=lambda p: os.path.join(p, "tombstones"),
    )


def _fp_ops(spark):
    def build(path, ids):
        save_fp_index(
            _fp_frame(spark, [(i, i * 16) for i in ids]), path, IMAGE,
            **PARAMS,
        )

    def served(path):
        idx, _ = load_fp_index(spark, path, IMAGE)
        return sorted(r["media_id"] for r in idx.collect())

    return dict(
        build=build,
        remove=lambda p, ids: remove_from_fp_index(
            spark, p, _ids(spark, ids), IMAGE
        ),
        compact=lambda p, **kw: compact_fp_index(spark, p, IMAGE, **kw),
        served=served,
        live=served,
        data=lambda p: p,
        tombs=lambda p: p + "_tombstones",
    )


# Spark jobs of one remove from a small index (two ids of 8 rows in the
# layout test, one of 3 in the MinHash test), as measured with the data
# dir read (and its schema inferred) once; reading it a second time for
# the counts ran 11 (ANN) and 14 (fp). The fp and MinHash counts hold
# 2 more: the distinct collect that validates the artifact, whose read
# the engine reuses (fp ran 13 when the engine read it again; MinHash
# 15 when it re-read the dir for _mh_id_col).
REMOVE_JOB_BUDGET = {"ann": 10, "fp": 12, "minhash": 12}
# Spark jobs of one forced compaction of that index, 2 more for fp and
# MinHash as above (21 and 23 when the wrapper's validating read was
# thrown away and the engine read the dir again).
COMPACT_JOB_BUDGET = {"ann": 17, "fp": 19, "minhash": 19}
# Spark jobs of one append of two fingerprints to that 8-row image
# index, without and with a tombstone dir: the artifact read once and
# validated, the batch materialized with its count observed, and the
# write. Reading the artifact through load_fp_index (tombstone
# suppression included), inferring its schema again for the legacy
# check and counting the batch in a job of its own ran 8 and 9.
APPEND_JOB_BUDGET = {"plain": 5, "tombstoned": 5}


def _jobs_in_group(spark, group, fn):
    """``(fn(), number of Spark jobs it ran)``, counted through a job group."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
        sc.setLocalProperty("spark.job.description", outer)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("tombstoned", [False, True], ids=["plain", "tombstoned"])
def test_fp_append_job_budget(spark, tmp_path, tombstoned):
    """An append stays in its job budget, returns the rows it appended
    (NULL ids and hashes dropped) and serves them; an empty batch
    appends nothing."""
    ops = _fp_ops(spark)
    path = str(tmp_path / "fp")
    ops["build"](path, range(1, 9))
    if tombstoned:
        ops["remove"](path, [3])
    batch = _fp_frame(spark, [(9, 144), (10, 160), (None, 176), (11, None)])
    n, n_jobs = _jobs_in_group(
        spark, f"fp-append-{tombstoned}",
        lambda: append_fp_index(spark, path, batch, IMAGE),
    )
    assert n == 2
    assert n_jobs <= APPEND_JOB_BUDGET["tombstoned" if tombstoned else "plain"], n_jobs
    assert append_fp_index(spark, path, _fp_frame(spark, []), IMAGE) == 0
    assert ops["served"](path) == [i for i in range(1, 11) if not (tombstoned and i == 3)]


@pytest.mark.parametrize(
    "layout,uri",
    [
        pytest.param(layout, uri, id=layout + ("-uri" if uri else ""))
        for uri in (False, True)
        for layout in ("ann", "fp")
    ],
)
def test_lifecycle_engine_on_both_layouts(spark, tmp_path, monkeypatch, layout, uri):
    """The one lifecycle engine, run through each layout's public
    wrappers, at a plain path and at a ``file://`` URI: a rebuild
    clears the old index's tombstones and serves every id again (the
    ANN tombstones live inside the artifact dir, which a rebuild
    overwrites piece by piece, so this once failed there), remove
    suppresses at search/load time, a compaction whose rewrite loses
    rows is refused with the artifact intact, a clean compaction
    changes storage but not results, and a crash between the swap
    renames is reported by fsck, refuses an ANN append and is restored
    by recover_index_swap. A remove and a compaction stay in
    their job budgets."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hospital_stain_tracker_data_pipeline_spark.operators import dedup
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        index_fsck,
        recover_index_swap,
    )

    ops = (_ann_ops if layout == "ann" else _fp_ops)(spark)
    local = str(tmp_path / layout)  # what the os.path checks below inspect
    path = "file://" + local if uri else local
    data, tombs = ops["data"](local), ops["tombs"](local)
    ids = list(range(1, 9))
    ops["build"](path, ids)
    ops["remove"](path, [3])
    ops["build"](path, ids)
    assert not os.path.isdir(tombs)
    assert ops["live"](path) == ids

    rep, n_jobs = _jobs_in_group(
        spark, f"lifecycle-remove-{layout}-{uri}",
        lambda: ops["remove"](path, [2, 5]),
    )
    assert (rep["requested"], rep["tombstones_total"], rep["index_rows"]) == (
        2, 2, 8
    )
    assert n_jobs <= REMOVE_JOB_BUDGET[layout], n_jobs
    live = [1, 3, 4, 6, 7, 8]
    assert ops["served"](path) == live

    # a rewrite that loses rows fails the count check before any swap
    real_parquet = DataFrameWriter.parquet

    def lossy(self, p, *a, **k):
        if p.endswith("_compacting"):
            return real_parquet(self._df.limit(1).write.mode("overwrite"), p)
        return real_parquet(self, p, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", lossy)
    with pytest.raises(ValueError, match="compaction rewrite produced"):
        ops["compact"](path, force=True)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    assert os.path.isdir(tombs) and ops["live"](path) == live

    # a clean compaction folds the tombstones; results are unchanged
    crep, n_jobs = _jobs_in_group(
        spark, f"lifecycle-compact-{layout}-{uri}",
        lambda: ops["compact"](path, force=True),
    )
    assert n_jobs <= COMPACT_JOB_BUDGET[layout], n_jobs
    assert crep["compacted"] is True
    assert (crep["index_rows_before"], crep["index_rows_after"]) == (8, 6)
    assert ops["live"](path) == live
    for leftover in (tombs, data + "_compacting", data + "_old"):
        assert not os.path.isdir(leftover)

    # crash between rename(data, old) and rename(compacting, data)
    ops["remove"](path, [7])
    real_rename, calls = dedup.fs_rename, []

    def crash_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("simulated crash inside the swap")
        real_rename(src, dst)

    monkeypatch.setattr(dedup, "fs_rename", crash_second)
    with pytest.raises(OSError, match="simulated"):
        ops["compact"](path, force=True)
    monkeypatch.setattr(dedup, "fs_rename", real_rename)
    assert not os.path.isdir(data) and os.path.isdir(data + "_compacting")
    fsck = index_fsck(spark, path)
    assert fsck["kind"] == "crashed_swap" and fsck["ok"] is False
    assert "recover_index_swap" in fsck["error"]
    if layout == "ann":
        # the marker stays on through compact: an append into the
        # half-swapped artifact must refuse, not write a delta-only codes
        from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
            append_ann_index,
        )

        with pytest.raises(ValueError, match="recover_index_swap"):
            append_ann_index(spark, path, _ann_corpus(spark, [9]))
        assert not os.path.isdir(data)
    rec = recover_index_swap(path)
    assert rec == {"recovered": True, "from": "compacting", "path": path}
    assert not os.path.isdir(tombs) and not os.path.isdir(data + "_old")
    assert ops["live"](path) == [1, 3, 4, 6, 8]


# Filesystem-seam calls (``session._fs``, one FileSystem resolution
# each) of each lifecycle operation on an 8-row image index with two
# tombstoned ids. ``_index_layout`` answers from one listing of the
# artifact dir, and each operation resolves it once and hands it to
# ``_tombstone_state``.
SEAM_CALL_BUDGET = {"load": 2, "remove": 2, "compact": 7, "fsck": 7}


def test_lifecycle_seam_calls(spark, tmp_path, monkeypatch):
    """Each lifecycle operation stays in its filesystem-seam budget."""
    from hospital_stain_tracker_data_pipeline_spark import session
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        index_fsck,
    )

    ops = _fp_ops(spark)
    path = str(tmp_path / "fp")
    ops["build"](path, list(range(1, 9)))
    ops["remove"](path, [2])
    real, calls = session._fs, []

    def counted(*args):
        calls.append(args[0])
        return real(*args)

    monkeypatch.setattr(session, "_fs", counted)
    runs = {
        "load": lambda: load_fp_index(spark, path, IMAGE),
        "remove": lambda: ops["remove"](path, [5]),
        "fsck": lambda: index_fsck(spark, path),
        "compact": lambda: ops["compact"](path, force=True),
    }
    seen = {}
    for op, run in runs.items():
        calls.clear()
        run()
        seen[op] = len(calls)
    assert all(seen[op] <= SEAM_CALL_BUDGET[op] for op in runs), seen
