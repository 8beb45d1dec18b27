"""Bounded-memory sketches: heavy_hitters' exact-and-complete contract
(vs a full DuckDB GROUP BY oracle, under adversarial repartitioning and
tight capacities)."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
    _mg_merge,
    heavy_hitters,
)


def _exploded_words(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")


def _oracle_heavy(sf_dir, phi):
    """DuckDB ground truth; the threshold is computed with the same
    exact rational arithmetic as the operator (float ceil(phi*N) would
    reproduce the operator's OWN former bug, hiding it)."""
    from fractions import Fraction

    con = duckdb.connect()
    n = con.execute(
        f"""
        SELECT count(*) FROM (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM read_parquet('{sf_dir}/documents.parquet')
        ) WHERE w <> ''
        """
    ).fetchone()[0]
    threshold = math.ceil(Fraction(str(phi)) * n)
    rows = con.execute(
        f"""
        WITH words AS (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM read_parquet('{sf_dir}/documents.parquet')
        ), nonblank AS (SELECT w FROM words WHERE w <> '')
        SELECT w, count(*) AS n FROM nonblank
        GROUP BY w
        HAVING count(*) >= {threshold}
        ORDER BY n DESC, w
        """
    ).fetchall()
    con.close()
    return rows


def test_heavy_hitters_matches_duckdb_oracle(spark, sf_dir):
    """Exact + complete against the full GROUP BY ground truth at a
    phi where several words qualify."""
    phi = 0.01
    words = _exploded_words(spark, sf_dir)
    got = [(r["item"], r["n"]) for r in heavy_hitters(words, "w", phi).collect()]
    want = _oracle_heavy(sf_dir, phi)
    assert got == want
    assert len(got) > 0, "fixture should have at least one 1%-heavy word"


def test_heavy_hitters_partitioning_invariant(spark):
    """The MG candidate union depends on partitioning; the final exact
    answer must not. Tight capacity exercises real decrements."""
    rows = (
        [("a",)] * 40 + [("b",)] * 25 + [("c",)] * 10
        + [(f"x{i}",) for i in range(25)]
    )
    base = spark.createDataFrame(rows, "w string")
    want = [("a", 40), ("b", 25), ("c", 10)]
    for nparts in (1, 3, 8):
        df = base.repartition(nparts)
        got = [
            (r["item"], r["n"])
            for r in heavy_hitters(df, "w", phi=0.1, capacity=20).collect()
        ]
        assert got == want, nparts


def test_heavy_hitters_threshold_edge_and_nulls(spark):
    """Items exactly AT ceil(phi*N) are included; below it excluded;
    NULLs are not an item class and do not count toward N."""
    # N = 10 non-null, phi = 0.3 -> threshold ceil(3.0) = 3
    rows = [("a",)] * 3 + [("b",)] * 2 + [("c",)] * 5 + [(None,)] * 4
    df = spark.createDataFrame(rows, "w string")
    got = [(r["item"], r["n"]) for r in heavy_hitters(df, "w", phi=0.3).collect()]
    assert got == [("c", 5), ("a", 3)]


def test_heavy_hitters_empty_and_bad_phi(spark):
    df = spark.createDataFrame([], "w string")
    assert heavy_hitters(df, "w", phi=0.5).count() == 0
    with pytest.raises(ValueError):
        heavy_hitters(df, "w", phi=0.0)
    with pytest.raises(ValueError):
        heavy_hitters(df, "w", phi=1.5)
    # a capacity at or below ceil(1/phi) would silently break
    # completeness — Misra-Gries retention is strict (> n_p/m), so an
    # exactly-phi-heavy item can vanish at the old ceil(1/phi) floor
    with pytest.raises(ValueError, match="completeness"):
        heavy_hitters(df, "w", phi=0.5, capacity=1)
    with pytest.raises(ValueError, match="completeness"):
        heavy_hitters(df, "w", phi=0.5, capacity=2)  # == ceil(1/phi)


def test_heavy_hitters_exact_rational_threshold(spark):
    """Regression: 0.07 * 100 = 7.000000000000001 in floats; an item
    occurring exactly 7/100 times IS 0.07-heavy and must be returned
    (the threshold is computed on the decimal value of phi, never a
    float product)."""
    rows = [("x",)] * 7 + [(f"f{i}",) for i in range(93)]
    df = spark.createDataFrame(rows, "w string")
    got = [(r["item"], r["n"]) for r in heavy_hitters(df, "w", phi=0.07).collect()]
    assert got == [("x", 7)]


def test_mg_merge_retention_bound():
    """Pure-python MG property: after streaming any sequence through
    batch merges, every item with true count > n/(capacity+1) is
    retained — the bound the distributed guarantee rests on."""
    import random

    rng = random.Random(7)
    capacity = 8
    universe = [f"k{i}" for i in range(50)]
    weights = [1 + (50 - i) ** 2 for i in range(50)]
    stream = rng.choices(universe, weights=weights, k=5000)
    true: dict = {}
    for x in stream:
        true[x] = true.get(x, 0) + 1
    summary: dict = {}
    for i in range(0, len(stream), 137):  # uneven batches
        batch = stream[i : i + 137]
        counts: dict = {}
        for x in batch:
            counts[x] = counts.get(x, 0) + 1
        summary = _mg_merge(summary, counts, capacity)
    n = len(stream)
    for k, c in true.items():
        if c > n / (capacity + 1):
            assert k in summary, (k, c, n / (capacity + 1))
            # counts are underestimates by at most n/(capacity+1)
            assert summary[k] >= c - math.ceil(n / (capacity + 1))

