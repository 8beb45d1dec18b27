"""Product quantization: deterministic fit, bit-exact encode/ADC
replay in numpy, code packing round-trip, and recall pins for the
ADC full-scan and IVF-PQ composed searches against the exact
brute-force cosine baseline (embeddings fixture is L2-normalized, so
squared-L2 ranking == cosine ranking up to quantization error)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators import pq
from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
    knn_ivf_pq,
    knn_pq,
    pack_codes,
    pq_decode,
    pq_encode,
    pq_fit_codebooks,
    unpack_codes,
)
from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
    QUANT_SCALE,
    knn_brute_force,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_fixture_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def codebooks(spark, emb):
    return pq_fit_codebooks(emb, m=8, n_codes=16, iters=2)


def _np_quantize(vecs: np.ndarray) -> np.ndarray:
    return np.floor(vecs.astype(np.float64) * QUANT_SCALE).astype(np.int64)


def test_pq_fit_shape_and_partitioning_determinism(spark, emb, codebooks):
    assert codebooks.shape == (8, 16, 8)
    assert codebooks.dtype == np.int64
    again = pq_fit_codebooks(
        emb.repartition(17).sortWithinPartitions("vec_id"),
        m=8,
        n_codes=16,
        iters=2,
    )
    assert np.array_equal(codebooks, again)


def test_pq_fit_validation(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit_codebooks(emb, m=7)
    few = emb.limit(5)
    with pytest.raises(ValueError, match="to seed"):
        pq_fit_codebooks(few, m=8, n_codes=16)


def test_pq_encode_exact_numpy_replay(spark, emb, codebooks):
    """The Spark encode IS the integer argmin — replay it bit-exactly
    in numpy from the same rows."""
    rows = emb.orderBy("vec_id").limit(100).collect()
    got = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq_encode(
            emb.orderBy("vec_id").limit(100), codebooks
        ).collect()
    }
    m, k, dsub = codebooks.shape
    cnorm2 = (codebooks * codebooks).sum(axis=2)
    for r in rows:
        x = _np_quantize(np.array(r["embedding"])).reshape(m, dsub)
        want = [
            int(np.argmin(cnorm2[s] - 2 * (codebooks[s] @ x[s])))
            for s in range(m)
        ]
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_pq_code_pack_roundtrip(spark, emb, codebooks):
    codes = pq_encode(emb.limit(50), codebooks)
    back = codes.select(
        "vec_id",
        "pq_code",
        unpack_codes(pack_codes(F.col("pq_code")), m=8).alias("rt"),
    )
    assert back.filter(F.col("pq_code") != F.col("rt")).count() == 0
    # packed width is exactly m bytes
    w = codes.select(
        F.length(pack_codes(F.col("pq_code"))).alias("w")
    ).distinct().collect()
    assert [r["w"] for r in w] == [8]


def test_pq_decode_reconstruction_error_bounded(spark, emb, codebooks):
    """Decoded vectors approximate the originals: mean squared
    reconstruction error well below the variance of the data (the
    codebook actually learned something)."""
    joined = (
        pq_decode(pq_encode(emb, codebooks), codebooks)
        .withColumnRenamed("embedding", "approx")
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    err = joined.select(
        F.aggregate(
            F.zip_with(
                "embedding",
                "approx",
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("se")
    ).agg(F.avg("se").alias("mse")).collect()[0]["mse"]
    # normalized 64-dim vectors have |x|^2 = 1, so MSE 1.0 == learned
    # nothing. The fixture is near-structureless synthetic data — the
    # hardest case for VQ — and an 8x16 codebook still has to explain
    # a solid fraction of the energy (measured 0.574 at iters=2)
    assert err < 0.8, err


def test_pq_adc_exact_numpy_replay(spark, emb, codebooks):
    """ADC distances are exact integers on the 1e-12 grid: the Spark
    pipeline (explode + broadcast join + sum) equals the numpy table
    lookup bit-for-bit after the same final rounding."""
    queries = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus_codes = pq_encode(emb, codebooks)
    got = {
        (r["query_id"], r["vec_id"]): r["adc_dist"]
        for r in knn_pq(corpus_codes, queries, codebooks, k=5).collect()
    }
    m, k, dsub = codebooks.shape
    all_rows = emb.select("vec_id", "embedding").collect()
    codes = {
        r["vec_id"]: np.array(r["pq_code"])
        for r in corpus_codes.collect()
    }
    for q in queries.collect():
        qv = _np_quantize(np.array(q["embedding"])).reshape(m, dsub)
        table = np.array(
            [
                [((qv[s] - codebooks[s, c]) ** 2).sum() for c in range(k)]
                for s in range(m)
            ],
            dtype=np.int64,
        )
        dists = {}
        for r in all_rows:
            if r["vec_id"] == q["query_id"]:
                continue
            c = codes[r["vec_id"]]
            dists[r["vec_id"]] = int(
                sum(table[s, c[s]] for s in range(m))
            )
        top = sorted(dists.items(), key=lambda kv: (kv[1], kv[0]))[:5]
        for vid, d in top:
            want = round(d / (QUANT_SCALE * QUANT_SCALE), 6)
            assert got[(q["query_id"], vid)] == want, (q["query_id"], vid)


def test_pq_adc_table_over_driver_limit_raises(spark, emb, codebooks, monkeypatch):
    """The q × m × n_codes int64 ADC table is built on the driver: past
    the module's byte limit the search raises, naming the table's size,
    instead of collecting it; a query set that fits still runs."""
    m, n_codes, _ = codebooks.shape
    per_query = m * n_codes * 8
    monkeypatch.setattr(pq, "_ADC_TABLE_MAX_BYTES", 3 * per_query)
    queries = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus_codes = pq_encode(emb, codebooks)
    with pytest.raises(
        ValueError,
        match=f"4 queries x {m} subspaces x {n_codes} codes is {4 * per_query} bytes",
    ):
        knn_pq(corpus_codes, queries, codebooks, k=5)
    out = knn_pq(corpus_codes, queries.limit(3), codebooks, k=5)
    assert out.select("query_id").distinct().count() == 3


def test_pq_index_roundtrip_and_corruption(spark, codebooks, tmp_path):
    """save/load round-trips the codebook tensor bit-exactly; a
    truncated artifact fails loudly (the load_ivf_index contract)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        load_pq_index,
        save_pq_index,
    )

    path = str(tmp_path / "pq_index")
    save_pq_index(spark, codebooks, path)
    back = load_pq_index(spark, path)
    assert np.array_equal(codebooks, back)

    truncated = str(tmp_path / "pq_trunc")
    spark.read.parquet(path).limit(100).coalesce(1).write.parquet(truncated)
    with pytest.raises(ValueError, match="not dense"):
        load_pq_index(spark, truncated)


def _recall_vs_brute(spark, emb, result, k=10, n_queries=8):
    queries = emb.orderBy("vec_id").limit(n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in knn_brute_force(emb, queries, k=k).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in result.collect()}
    return len(got & truth) / len(truth)


def test_pq_adc_recall_scales_with_code_budget(spark, emb):
    """The PQ quality dial works: recall@10 against exact cosine rises
    monotonically with bits-per-vector, and a 16x64 codebook clears
    0.5 even on this near-structureless synthetic fixture (random
    normalized vectors have razor-thin neighbor margins — the hardest
    recall case; real embedding manifolds quantize far better).
    Deterministic fit => these are exact pins, not flaky bounds
    (measured: 8x16 -> 0.175, 16x64 -> 0.5125)."""
    def recall_at(m, n_codes, iters):
        cb = pq_fit_codebooks(emb, m=m, n_codes=n_codes, iters=iters)
        queries = emb.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        res = knn_pq(pq_encode(emb, cb), queries, cb, k=10)
        return _recall_vs_brute(spark, emb, res)

    coarse = recall_at(8, 16, 2)
    fine = recall_at(16, 64, 3)
    assert fine > coarse, (coarse, fine)
    assert fine >= 0.5, fine


def test_knn_ivf_pq_recall_and_shape(spark, emb):
    """The composed IVF-PQ search returns <= k rows per query with
    ascending distances; at nprobe=8 of 16 cells with a 16x64
    codebook, recall loss = cell misses + PQ distortion stays within
    the expected band (deterministic => exact)."""
    res = knn_ivf_pq(
        emb,
        emb.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=10,
        n_clusters=16,
        nprobe=8,
        m=16,
        n_codes=64,
        iters=3,
    )
    rows = res.collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["adc_dist"])
    assert all(len(v) <= 10 for v in per_q.values())
    assert all(v == sorted(v) for v in per_q.values())
    recall = _recall_vs_brute(spark, emb, res)
    assert recall >= 0.35, recall


def test_knn_pq_exclude_self_gate(spark, emb, codebooks):
    """exclude_self=True (default, queries ARE corpus rows) drops the
    query_id == vec_id row; exclude_self=False keeps it — an external
    query domain must not lose a real neighbor to a coincidental id
    collision (ADVICE r8)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        knn_ivf_pq,
        knn_pq,
        pq_encode,
    )

    codes = pq_encode(emb, codebooks)
    # the "external" query reuses a corpus row's id + vector: under the
    # default it can never match itself; with the gate off the encoded
    # self row is ADC-distance 0 and must appear
    q = emb.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    on = knn_pq(codes, q, codebooks, k=5)
    off = knn_pq(codes, q, codebooks, k=5, exclude_self=False)
    self_on = on.filter(F.col("query_id") == F.col("vec_id")).count()
    self_off = off.filter(F.col("query_id") == F.col("vec_id")).count()
    assert self_on == 0
    assert self_off == 2  # each query's own row, ADC distance 0

    ivf_off = knn_ivf_pq(
        emb, q, k=5, n_clusters=4, nprobe=4, m=8, n_codes=16, iters=1,
        exclude_self=False,
    )
    assert ivf_off.filter(F.col("query_id") == F.col("vec_id")).count() == 2


def test_ann_index_build_search_matches_in_process(spark, emb, tmp_path):
    """A persisted build_ann_index artifact searched via
    search_ann_index must return EXACTLY what an in-process knn_ivf_pq
    with the same parameters returns (the fits are deterministic —
    md5-ordered seeds, exact-integer Lloyd), and the search path must
    never read the raw embedding lake (it only gets the artifact
    path)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        build_ann_index,
        knn_ivf_pq,
        search_ann_index,
    )

    params = dict(n_clusters=4, m=8, n_codes=16, iters=2)
    idx = str(tmp_path / "ann")
    build_ann_index(emb, idx, **params)

    q = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        map(tuple, search_ann_index(
            spark, idx, q, k=5, nprobe=2, exclude_self=True
        ).collect())
    )
    want = sorted(
        map(tuple, knn_ivf_pq(
            emb, q, k=5, nprobe=2, exclude_self=True, **params
        ).collect())
    )
    assert got == want and len(got) > 0

    # external-query default: self ids are NOT dropped
    ext = search_ann_index(spark, idx, q, k=5, nprobe=2)
    assert ext.filter(F.col("query_id") == F.col("vec_id")).count() == 4

    # a non-artifact codes dir fails loudly
    import pytest as _pytest

    bad = str(tmp_path / "bad")
    build_ann_index(emb, bad, **params)
    spark.read.parquet(f"{bad}/codes").drop("cell").write.mode(
        "overwrite"
    ).parquet(f"{bad}/codes2")
    import shutil

    shutil.rmtree(f"{bad}/codes")
    shutil.move(f"{bad}/codes2", f"{bad}/codes")
    with _pytest.raises(ValueError, match="expected"):
        search_ann_index(spark, bad, q)


def test_ann_index_torn_artifact_rejected(spark, emb, tmp_path):
    """The three ANN sub-artifacts are mutually dependent; a build
    that did not reach the _INDEX_OK marker (crash mid-rebuild) must
    be rejected loudly, not served as a silently-wrong ivf/pq/codes
    mix (round-9 review)."""
    import os

    import pytest as _pytest

    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        build_ann_index,
        search_ann_index,
    )

    idx = str(tmp_path / "ann")
    build_ann_index(emb, idx, n_clusters=4, m=8, n_codes=16, iters=1)
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    assert search_ann_index(spark, idx, q, k=3, nprobe=2).count() == 3

    os.remove(os.path.join(idx, "_INDEX_OK"))
    with _pytest.raises(ValueError, match="_INDEX_OK"):
        search_ann_index(spark, idx, q)


def test_ann_index_append_equals_full_encode(spark, emb, tmp_path):
    """build(base) + append(delta) must serve EXACTLY what a full
    re-encode of base ∪ delta under the SAME frozen fits serves — the
    append is pure O(delta) encoding, never a semantic shortcut. (A
    full re-FIT would move the centroids; the contract is equality at
    identical centroids/codebooks, per the incremental-index design.)"""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        _encode_cells,
        append_ann_index,
        build_ann_index,
        load_ivf_index,
        load_pq_index,
        search_ann_index,
    )

    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    params = dict(n_clusters=4, m=8, n_codes=16, iters=2)

    inc = str(tmp_path / "inc")
    build_ann_index(base, inc, **params)
    report = append_ann_index(spark, inc, delta)
    assert report["appended"] == delta.filter(
        F.col("embedding").isNotNull()
    ).count()
    assert report["appends"] == 1

    # reference artifact: same deterministic fits (built on base), codes
    # overwritten with a full encode of base ∪ delta under those fits
    full = str(tmp_path / "full")
    build_ann_index(base, full, **params)
    cents = load_ivf_index(spark, f"{full}/ivf")
    cb = load_pq_index(spark, f"{full}/pq")
    _encode_cells(emb, cents, cb, "vec_id", "embedding").write.mode(
        "overwrite"
    ).parquet(f"{full}/codes")

    q = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(map(tuple, search_ann_index(
        spark, inc, q, k=5, nprobe=2, exclude_self=True
    ).collect()))
    want = sorted(map(tuple, search_ann_index(
        spark, full, q, k=5, nprobe=2, exclude_self=True
    ).collect()))
    assert got == want and len(got) > 0
    # appended ids are genuinely searchable: query a delta vector for
    # itself with self-matches kept
    dq = delta.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hit = search_ann_index(spark, inc, dq, k=1, nprobe=4)
    assert hit.filter(F.col("query_id") == F.col("vec_id")).count() == 1


def test_ann_index_append_drift_report(spark, emb, tmp_path):
    """The drift report separates a same-distribution delta (no refit)
    from a shifted one (refit recommended): quantization error of a
    3x-scaled batch under codebooks fit at 1x must blow past the 2x
    ratio threshold, while a uniform slice of the fit corpus stays
    near ratio 1 and near-zero occupancy shift."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        append_ann_index,
        build_ann_index,
    )

    base = emb.filter(F.col("vec_id") % 10 != 0)
    same = emb.filter(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "ann")
    build_ann_index(base, idx, n_clusters=4, m=8, n_codes=16, iters=2)

    rep_same = append_ann_index(spark, idx, same)
    assert rep_same["refit_recommended"] is False
    assert rep_same["err_ratio"] is not None
    assert 0.5 < rep_same["err_ratio"] < 2.0
    assert rep_same["occupancy_shift_tv"] < 0.25
    assert abs(
        sum(c["append_frac"] for c in rep_same["cells"]) - 1.0
    ) < 1e-4

    shifted = same.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias(
            "embedding"
        ),
    )
    rep_shift = append_ann_index(spark, idx, shifted)
    assert rep_shift["err_ratio"] > 2.0
    assert rep_shift["refit_recommended"] is True
    assert rep_shift["appends"] == 2

    # an EMPTY delta is a no-op with a quiet drift report: shift 0.0
    # (not the raw formula's 0.5), no refit, appends counter unmoved
    rep_empty = append_ann_index(spark, idx, same.filter("vec_id < 0"))
    assert rep_empty["appended"] == 0
    assert rep_empty["occupancy_shift_tv"] == 0.0
    assert rep_empty["refit_recommended"] is False
    assert rep_empty["appends"] == 2


def test_ann_index_append_guards(spark, emb, tmp_path):
    """Append validation never tears the artifact: a bad delta fails
    BEFORE the marker comes off (the index stays servable); appending
    to a markerless or pre-append-era (no stats) artifact is rejected;
    a crash inside the codes append itself leaves the loudly-rejected
    torn state."""
    import os
    import shutil

    import pytest as _pytest

    from hospital_stain_tracker_data_pipeline_spark.operators import pq

    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "ann")
    pq.build_ann_index(base, idx, n_clusters=4, m=8, n_codes=16, iters=1)
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")

    # wrong id column: rejected up front, marker intact, still servable
    with _pytest.raises(ValueError, match="lacks column"):
        pq.append_ann_index(
            spark, idx, delta.withColumnRenamed("vec_id", "doc_id")
        )
    assert os.path.exists(os.path.join(idx, "_INDEX_OK"))
    assert pq.search_ann_index(spark, idx, q, k=3, nprobe=2).count() == 3

    # no marker at all
    with _pytest.raises(ValueError, match="_INDEX_OK"):
        pq.append_ann_index(spark, str(tmp_path / "nope"), delta)

    # pre-append-era artifact (no fit-time stats)
    old = str(tmp_path / "old")
    pq.build_ann_index(base, old, n_clusters=4, m=8, n_codes=16, iters=1)
    shutil.rmtree(os.path.join(old, "stats"))
    with _pytest.raises(ValueError, match="stats"):
        pq.append_ann_index(spark, old, delta)

    # crash INSIDE the codes append (after validation) => torn, rejected.
    # Since round 14 the delta is validated/encoded in ONE materialized
    # pass (so a bad batch still fails before the marker comes off) and
    # the only post-marker-removal step is the codes parquet write —
    # inject the crash there.
    torn = str(tmp_path / "torn")
    pq.build_ann_index(base, torn, n_clusters=4, m=8, n_codes=16, iters=1)
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet
    try:
        def _boom(self, p, *a, **k):
            if p.rstrip("/").endswith("/codes"):
                raise RuntimeError("simulated executor loss")
            return real(self, p, *a, **k)

        DataFrameWriter.parquet = _boom
        with _pytest.raises(RuntimeError, match="simulated"):
            pq.append_ann_index(spark, torn, delta)
    finally:
        DataFrameWriter.parquet = real
    assert not os.path.exists(os.path.join(torn, "_INDEX_OK"))
    with _pytest.raises(ValueError, match="_INDEX_OK"):
        pq.search_ann_index(spark, torn, q)


def test_ann_index_drift_probe_is_read_only(spark, emb, tmp_path):
    """ann_index_drift reports exactly what append_ann_index would
    (same stats, same thresholds) while mutating NOTHING — the
    monitoring half of the refit loop: probe first, append (or refit)
    on the verdict."""
    import os

    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        ann_index_drift,
        append_ann_index,
        build_ann_index,
    )

    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "ann")
    build_ann_index(base, idx, n_clusters=4, m=8, n_codes=16, iters=1)
    n0 = spark.read.parquet(f"{idx}/codes").count()

    probe = ann_index_drift(spark, idx, delta.select("embedding"))
    assert probe["appends"] == 0
    assert spark.read.parquet(f"{idx}/codes").count() == n0  # untouched
    assert os.path.exists(os.path.join(idx, "_INDEX_OK"))

    applied = append_ann_index(spark, idx, delta)
    for k in (
        "appended",
        "fit_n",
        "fit_mean_err",
        "append_mean_err",
        "err_ratio",
        "occupancy_shift_tv",
        "cells",
        "refit_recommended",
    ):
        assert probe[k] == applied[k], k
    assert applied["appends"] == 1

    # probing a markerless dir is rejected like every other artifact op
    import pytest as _pytest

    with _pytest.raises(ValueError, match="_INDEX_OK"):
        ann_index_drift(spark, str(tmp_path / "nope"), delta)


def test_ann_index_remove_matches_rebuild_without_ids(spark, emb, tmp_path):
    """Tombstone semantics: search-after-remove serves EXACTLY what an
    index whose codes were re-encoded WITHOUT the removed ids (same
    frozen fits) serves — a takedown changes the candidate set, never
    the ranking math. Unknown ids tombstone harmlessly."""
    import os

    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        _encode_cells,
        build_ann_index,
        load_ivf_index,
        load_pq_index,
        remove_from_ann_index,
        search_ann_index,
    )

    params = dict(n_clusters=4, m=8, n_codes=16, iters=2)
    idx = str(tmp_path / "ann")
    build_ann_index(emb, idx, **params)
    removed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    n_removed = removed.count()

    rep = remove_from_ann_index(spark, idx, removed)
    assert rep["requested"] == n_removed
    assert rep["tombstones_total"] == n_removed
    assert rep["removes"] == 1
    assert rep["compact_recommended"] == (rep["tombstone_ratio"] >= 0.1)
    assert os.path.exists(os.path.join(idx, "_INDEX_OK"))

    q = emb.orderBy("vec_id").limit(6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_df = search_ann_index(spark, idx, q, k=5, nprobe=2)
    assert (
        got_df.join(removed, got_df["vec_id"] == removed["vec_id"]).count()
        == 0
    )
    got = sorted(map(tuple, got_df.collect()))

    # reference: identical deterministic fits, codes re-encoded minus ids
    ref = str(tmp_path / "ref")
    build_ann_index(emb, ref, **params)
    cents = load_ivf_index(spark, f"{ref}/ivf")
    cb = load_pq_index(spark, f"{ref}/pq")
    _encode_cells(
        emb.join(removed, "vec_id", "left_anti"), cents, cb,
        "vec_id", "embedding",
    ).write.mode("overwrite").parquet(f"{ref}/codes")
    want = sorted(map(tuple, search_ann_index(
        spark, ref, q, k=5, nprobe=2
    ).collect()))
    assert got == want and len(got) > 0

    # unknown ids: harmless tombstones (results unchanged), ratio grows
    ghost = spark.range(3).select((F.col("id") + 10_000_000).alias("vec_id"))
    rep2 = remove_from_ann_index(spark, idx, ghost)
    assert rep2["removes"] == 2
    assert rep2["tombstones_total"] == n_removed + 3
    still = sorted(map(tuple, search_ann_index(
        spark, idx, q, k=5, nprobe=2
    ).collect()))
    assert still == got


def test_ann_index_compact_folds_tombstones(spark, emb, tmp_path):
    """Compaction is storage-only: identical search results before and
    after, codes rows shrink by the live tombstone count, the
    tombstone dir clears, the ratio gate defers a premature rewrite,
    and remove/compact refuse a torn artifact."""
    import json
    import os

    import pytest as _pytest

    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        build_ann_index,
        compact_ann_index,
        remove_from_ann_index,
        search_ann_index,
    )

    params = dict(n_clusters=4, m=8, n_codes=16, iters=2)
    idx = str(tmp_path / "ann")
    build_ann_index(emb, idx, **params)
    n_all = spark.read.parquet(f"{idx}/codes").count()
    removed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    n_removed = removed.count()
    remove_from_ann_index(spark, idx, removed)

    q = emb.orderBy("vec_id").limit(6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = sorted(map(tuple, search_ann_index(
        spark, idx, q, k=5, nprobe=2
    ).collect()))

    # ratio gate: ~1/7 of ids tombstoned — a 0.5 floor must defer
    deferred = compact_ann_index(spark, idx, min_ratio=0.5)
    assert deferred["compacted"] is False
    assert os.path.isdir(os.path.join(idx, "tombstones"))

    crep = compact_ann_index(spark, idx, min_ratio=0.1)
    assert crep["compacted"] is True
    assert crep["index_rows_before"] == n_all
    assert crep["index_rows_after"] == n_all - n_removed
    assert not os.path.isdir(os.path.join(idx, "tombstones"))
    with open(os.path.join(idx, "_INDEX_OK")) as f:
        assert json.load(f)["compactions"] == 1

    after = sorted(map(tuple, search_ann_index(
        spark, idx, q, k=5, nprobe=2
    ).collect()))
    assert after == before

    # nothing left to fold: explicit no-op, not an error
    noop = compact_ann_index(spark, idx, force=True)
    assert noop["compacted"] is False and noop["reason"] == "no tombstones"

    # torn artifact: both lifecycle ops refuse; a bad ids frame fails
    # BEFORE the marker comes off (artifact stays intact)
    with _pytest.raises(ValueError, match="lacks column"):
        remove_from_ann_index(
            spark, idx, spark.range(1).select(F.col("id").alias("wrong"))
        )
    assert os.path.exists(os.path.join(idx, "_INDEX_OK"))
    os.remove(os.path.join(idx, "_INDEX_OK"))
    with _pytest.raises(ValueError, match="_INDEX_OK"):
        remove_from_ann_index(spark, idx, removed)
    with _pytest.raises(ValueError, match="_INDEX_OK"):
        compact_ann_index(spark, idx)


def test_ann_index_tombstone_suppresses_reappend_until_compacted(
    spark, emb, tmp_path
):
    """The documented lifecycle contract: a tombstone wins over a later
    APPEND of the same id (compaction folds the re-append away too);
    re-adding a removed id works only after a compaction has cleared
    its tombstone."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        append_ann_index,
        build_ann_index,
        compact_ann_index,
        remove_from_ann_index,
        search_ann_index,
    )

    target = emb.orderBy("vec_id").limit(1)
    [tid] = [r["vec_id"] for r in target.select("vec_id").collect()]
    build_ann_index(emb, str(tmp_path / "ann"), n_clusters=4, m=8,
                    n_codes=16, iters=1)
    idx = str(tmp_path / "ann")
    q = target.select(F.col("vec_id").alias("query_id"), "embedding")

    def serves_target():
        return (
            search_ann_index(spark, idx, q, k=3, nprobe=4)
            .filter(F.col("vec_id") == tid)
            .count()
            > 0
        )

    assert serves_target()
    remove_from_ann_index(spark, idx, target.select("vec_id"))
    assert not serves_target()
    # re-append the same id: the tombstone still suppresses it
    append_ann_index(spark, idx, target)
    assert not serves_target()
    # compaction folds the re-append away too (documented), clearing
    # the tombstone — an append AFTER compaction serves again
    compact_ann_index(spark, idx, force=True)
    assert not serves_target()
    append_ann_index(spark, idx, target)
    assert serves_target()
