"""Quantitative recall check for the ANN scale path: against the exact
blocked ground truth, the multi-table LSH must recover a stable,
non-trivial fraction of true pairs with ZERO false positives. Planes are
deterministic (seeded LCG), so recall is exact and reproducible — this is
a regression test, not a statistical one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
    ann_lsh_pairs,
    cosine,
    quantize_vec,
)


def _exact_pairs(emb, threshold):
    # ground truth in the operator's own similarity measure (quantized
    # cosine, see ann_lsh_pairs docstring) so the zero-false-positive
    # assertion is exact, not subject to 1e-6 boundary flips
    v = emb.select("vec_id", quantize_vec(F.col("embedding")).alias("_v"))
    a = v.select(F.col("vec_id").alias("id_a"), F.col("_v").alias("v_a"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("_v").alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("c"),
        )
        .filter(F.col("c") >= threshold)
    )


def test_ann_zero_false_positives_and_reasonable_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    threshold = 0.3
    truth = {
        (r.id_a, r.id_b) for r in _exact_pairs(emb, threshold).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in ann_lsh_pairs(
            emb, threshold=threshold, nbits=4, tables=8, dim=64
        ).collect()
    }
    assert truth, "fixture should contain pairs above threshold"
    # exact verify ⇒ every reported pair is a true pair
    assert got <= truth
    recall = len(got) / len(truth)
    # deterministic planes ⇒ exact reproducible recall; 8 tables × 4
    # bits at cosine ~0.3 gives p=1-θ/π≈0.60, 1-(1-p^4)^8 ≈ 0.67 —
    # assert a conservative floor
    assert recall >= 0.3, recall


def test_ivf_recall_scales_with_nprobe(spark, sf_dir):
    """IVF probed search: recall@10 must rise with nprobe, overlap
    values must be bit-identical to brute force (same cosine
    expression), and the fit must be deterministic (hash-order init,
    no RNG) so these are regression numbers, not statistics."""
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        knn_brute_force,
        knn_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        r.vec_id: r.cosine_sim
        for r in knn_brute_force(emb, query, k=10).collect()
    }

    def recall(nprobe):
        rows = knn_ivf(
            emb, query, k=10, n_clusters=16, nprobe=nprobe, iters=3
        ).collect()
        assert len(rows) == 10
        for r in rows:  # overlap values bit-identical to brute force
            if r.vec_id in exact:
                assert r.cosine_sim == exact[r.vec_id]
        return len({r.vec_id for r in rows} & set(exact)) / 10

    r4, r8 = recall(4), recall(8)
    assert r4 >= 0.4, r4
    assert r8 >= 0.7, r8
    assert r8 >= r4


def test_ivf_partitioning_determinism(spark, sf_dir):
    """The IVF fit must be bit-identical under any input partitioning:
    init is hash-ordered (no RNG) and the Lloyd update sums 1e-6
    quantized components as LONGs (integer += is associative, float +=
    is not), so repartitioning the corpus cannot perturb centroids,
    cell assignment, or the final neighbor list."""
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import knn_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run(corpus):
        return [
            (r.vec_id, r.cosine_sim)
            for r in knn_ivf(
                corpus, query, k=10, n_clusters=16, nprobe=4, iters=3
            )
            .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .collect()
        ]

    assert run(emb) == run(emb.repartition(7))


def test_ivf_golden_neighbors(spark, sf_dir):
    """Pin the exact top-10 ids+similarities at sf0.001 — any change to
    init order, quantization step, or probe logic must show up as a
    conscious golden update, not silent drift."""
    import pytest

    if not sf_dir.rstrip("/").endswith("sf0.001"):
        pytest.skip("golden list is pinned to the sf0.001 fixture")
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import knn_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        (r.vec_id, r.cosine_sim)
        for r in knn_ivf(
            emb, query, k=10, n_clusters=16, nprobe=4, iters=3
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .collect()
    ]
    # regenerated in round 7 when the fit moved to md5-ordered seeds +
    # exact-integer Lloyd updates (the change that made the operator
    # DuckDB-oracle-replayable); recall floors are pinned separately
    assert got == [
        (225, 0.315127), (483, 0.300451), (73, 0.297238),
        (212, 0.281399), (347, 0.274508), (402, 0.2745),
        (299, 0.268713), (497, 0.252082), (59, 0.248708),
        (394, 0.248665),
    ]


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup-style embedding-space deduplication
# ---------------------------------------------------------------------------


def test_semantic_dedup_pairs_match_numpy_within_cluster_replay(spark, sf_dir):
    """The pair set must equal a numpy brute-force replay RESTRICTED to
    the operator's own cluster assignment: collect the (deterministic)
    cell per id, compute exact cosines within each cell in numpy, and
    compare ids AND rounded similarity values exactly."""
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        as_double_array,
        ivf_assign_udf,
        ivf_fit_centroids,
        quantize_vec_long,
        semantic_dedup_pairs,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    emb = load_fixture_table(spark, sf_dir, "embeddings")
    thr = 0.3  # fixture max pairwise cosine ~0.479: non-trivial pair set
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in semantic_dedup_pairs(
            emb, threshold=thr, n_clusters=8, iters=2
        ).collect()
    }
    cents = ivf_fit_centroids(emb, n_clusters=8, iters=2)
    rows = emb.select(
        "vec_id",
        as_double_array(F.col("embedding")).alias("v"),
    ).withColumn(
        "cell", ivf_assign_udf(cents)(quantize_vec_long(F.col("v")))
    ).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append((r["vec_id"], np.array(r["v"])))
    want = {}
    for members in by_cell.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ia, va), (ib, vb) = members[i], members[j]
                if ia > ib:
                    (ia, va), (ib, vb) = (ib, vb), (ia, va)
                sim = round(
                    float(
                        va @ vb
                        / (np.linalg.norm(va) * np.linalg.norm(vb))
                    ),
                    6,
                )
                if sim >= thr:
                    want[(ia, ib)] = sim
    assert want, "replay should produce a non-empty pair set at thr=0.3"
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-6)


def test_semantic_dedup_pairs_partitioning_invariant(spark, sf_dir):
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    emb = load_fixture_table(spark, sf_dir, "embeddings")
    # the fixture's max pairwise cosine is ~0.479 (random-ish unit
    # vectors); 0.35 yields a real pair set without being trivial
    thr = 0.35

    def pairs(df):
        return {
            (r["id_a"], r["id_b"], r["cosine_sim"])
            for r in semantic_dedup_pairs(
                df, threshold=thr, n_clusters=8, iters=2
            ).collect()
        }

    got = pairs(emb)
    assert got, "fixture should contain semantic near-dups at thr=0.35"
    assert all(a < b for a, b, _ in got)
    # partitioning invariance (integer-exact fit + rounded cosines)
    assert pairs(emb.repartition(7)) == got


def test_semantic_dedup_pairs_golden_tiny(spark):
    """Hand-built corpus: two near-duplicate groups plus a singleton.
    n_clusters=1 makes the within-cluster step exhaustive, so this
    golden pins the pair set independent of clustering quality — which
    the fixture replay test covers. (With k≥2 on 5 points, the
    deterministic init can seed the two halves of a dup group as
    separate centroids: the documented SemDeDup cross-cluster miss,
    meaningless at corpus scale but dominant at n=5.)"""
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.999, 0.001]),   # near-dup of 3
        (5, [0.0, 0.0, 1.0]),       # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df, threshold=0.99, n_clusters=1, iters=2
        ).collect()
    }
    assert got == {(1, 2), (3, 4)}


def test_semantic_dedup_cluster_size_guard(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    df = spark.createDataFrame(
        [(i, [1.0, float(i % 3) * 1e-4]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_block_rows"):
        # one direction -> one cluster holds ~all rows; guard must fire
        semantic_dedup_pairs(
            df, threshold=0.9, n_clusters=2, iters=1, max_cluster_rows=10
        ).collect()


def test_lsh_candidate_growth_is_bounded(spark):
    """Executable form of the 100 TB scaling contract the ann_lsh
    docstrings state: candidate count per table ≈ n²/2^nbits, so (a)
    at 4× the corpus, raising nbits by 4 keeps the candidate set FLAT
    (the knob a scale-up turns), and (b) each +2 bits at fixed corpus
    cuts candidates by ≥ 2× (fan-out halves per bit). Deterministic
    planes ⇒ these are regression numbers, not statistics."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        ann_lsh_candidates,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    small = emb.filter(F.col("vec_id") % 4 == 0)  # 500 of 2000
    c_small_4 = ann_lsh_candidates(small, nbits=4).count()
    c_full_4 = ann_lsh_candidates(emb, nbits=4).count()
    c_full_6 = ann_lsh_candidates(emb, nbits=6).count()
    c_full_8 = ann_lsh_candidates(emb, nbits=8).count()
    assert c_small_4 > 0
    # (a) 4x corpus + 4 more bits ≈ flat (allow 2x slack)
    assert c_full_8 <= 2 * c_small_4, (c_full_8, c_small_4)
    # (b) each +2 bits at fixed corpus halves candidates (at least)
    assert c_full_6 <= c_full_4 / 2, (c_full_6, c_full_4)
    assert c_full_8 <= c_full_6 / 2, (c_full_8, c_full_6)


def test_ivf_full_oracle_replay(spark, sf_dir):
    """The round-7 upgrade: the whole knn_ivf pipeline — md5-seeded
    exact-integer Lloyd fit, final cell assignment, nprobe probing,
    exact-cosine verify, top-10 — must match the generated DuckDB SQL
    hash-exactly (values, not just ids). This is the local twin of the
    driver's CORRECTNESS gate for the ``knn_ivf`` catalog entry."""
    import duckdb

    from hospital_stain_tracker_data_pipeline_spark.plans.vectors import (
        SQL_KNN_IVF,
        q_knn_ivf,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = [
        (int(a), int(b), float(c))
        for a, b, c in con.execute(SQL_KNN_IVF).fetchall()
    ]
    got = [
        (r.query_id, r.vec_id, r.cosine_sim)
        for r in q_knn_ivf(spark, sf_dir).collect()
    ]
    assert len(got) == 10
    assert got == want


def test_ivf_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        ivf_fit_centroids,
        load_ivf_index,
        save_ivf_index,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    emb = load_fixture_table(spark, sf_dir, "embeddings")
    cents = ivf_fit_centroids(emb, n_clusters=4, iters=1)
    path = str(tmp_path / "ivf_idx")
    save_ivf_index(spark, cents, path)
    back = load_ivf_index(spark, path)
    assert np.array_equal(back, cents)
    # corrupted artifact (an interior cell missing) fails loudly
    spark.read.parquet(path).filter(
        ~((F.col("cluster") == 1) & (F.col("pos") == 1))
    ).write.mode("overwrite").parquet(path + "2")
    with pytest.raises(ValueError, match="not dense"):
        load_ivf_index(spark, path + "2")


def test_ivf_index_rejects_legacy_float_artifact(spark, tmp_path):
    """A pre-round-7 artifact (val double, normalized floats) must be
    rejected loudly — loading it into the int64 grid would truncate
    every |v|<1 component to 0 and silently assign everything to
    cluster 0."""
    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        load_ivf_index,
    )

    path = str(tmp_path / "legacy_idx")
    spark.createDataFrame(
        [(0, 0, 0.31, 1, 2), (0, 1, -0.95, 1, 2)],
        "cluster int, pos int, val double, k int, dim int",
    ).write.parquet(path)
    with pytest.raises(ValueError, match="non-integer val"):
        load_ivf_index(spark, path)


def test_ann_verify_guards_float32_exactness(spark):
    """Round-14 narrowing: ann_lsh_pairs ships the quantized pair legs
    as array<float>, exact only while every component is below 2^24
    (|x| < ~16.78). The guard must fail LOUDLY on an out-of-contract
    embedding instead of silently rounding a cosine, and in-contract
    magnitudes (well beyond unit norm) must still verify exactly."""
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
        ann_lsh_pairs,
    )

    dim = 64
    ok_rows = [
        (0, [1.0] * dim),
        (1, [1.0] * dim),
        (2, [16.0] * dim),  # in contract: floor(16e6) < 2^24
    ]
    got = ann_lsh_pairs(
        spark.createDataFrame(ok_rows, "vec_id long, embedding array<double>"),
        threshold=0.9,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(0, 1), (0, 2), (1, 2)}
    assert all(r["cosine_sim"] == 1.0 for r in got)

    bad_rows = [(0, [1.0] * dim), (1, [17.0] * dim)]  # 17e6 > 2^24
    with pytest.raises(Exception, match="2\\^24|16\\.7"):
        ann_lsh_pairs(
            spark.createDataFrame(
                bad_rows, "vec_id long, embedding array<double>"
            ),
            threshold=0.9,
        ).collect()
