"""HyperLogLog distinct sketch: bit-exact pure-Python register replay,
estimator parity, merge algebra (the mergeability invariant that makes
the sketch incremental), and accuracy vs exact distinct counts."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
    hll_estimate,
    hll_merge,
    hll_registers,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def _replay_registers(items, p):
    """Pure-python twin of hll_registers: md5 -> 60-bit value ->
    (top-p-bit register, leading-zero rank of the rest)."""
    wbits = 60 - p
    regs: dict[int, int] = {}
    for it in items:
        if it is None:
            continue
        h = int(hashlib.md5(str(it).encode()).hexdigest()[:15], 16)
        reg = h >> wbits
        w = h & ((1 << wbits) - 1)
        rho = (wbits + 1) - w.bit_length()  # bit_length(0)=0 -> wbits+1
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def _replay_estimate(regs, p):
    m = 1 << p
    big_r = 61 - p
    alpha = (
        0.7213 / (1.0 + 1.079 / m)
        if m >= 128
        else {16: 0.673, 32: 0.697, 64: 0.709}[m]
    )
    z_present = sum(1 << (big_r - rho) for rho in regs.values())
    zeros = m - len(regs)
    znum = z_present + (zeros << big_r)
    e_raw = alpha * m * m * float(1 << big_r) / float(znum)
    if e_raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros), "linear_counting"
    return e_raw, "hll"


def _words(spark, sf_dir):
    docs = load_fixture_table(spark, sf_dir, "documents")
    return docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")


def test_hll_registers_match_python_replay(spark, sf_dir):
    words = _words(spark, sf_dir)
    for p in (6, 12):
        got = {
            r["register"]: r["max_rho"]
            for r in hll_registers(words, "w", p=p).collect()
        }
        want = _replay_registers(
            [r["w"] for r in words.collect()], p
        )
        assert got == want


def test_hll_registers_ignore_nulls(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",), ("a",)], "item string"
    )
    got = {
        r["register"]: r["max_rho"]
        for r in hll_registers(df, "item", p=8).collect()
    }
    assert got == _replay_registers(["a", "b", "a"], 8)


def test_hll_estimate_matches_python_replay(spark, sf_dir):
    words = _words(spark, sf_dir)
    for p in (4, 8, 12):
        [row] = hll_estimate(hll_registers(words, "w", p=p), p).collect()
        regs = _replay_registers([r["w"] for r in words.collect()], p)
        want_est, want_method = _replay_estimate(regs, p)
        assert row["method"] == want_method
        assert row["estimate"] == pytest.approx(want_est, rel=1e-12)
        assert row["n_registers_set"] == len(regs)
        assert row["n_zero_registers"] == (1 << p) - len(regs)


def test_hll_accuracy_vs_exact(spark, sf_dir):
    """p=12 standard error is ~1.6%; require 5%. Small cardinalities
    land in the linear-counting regime and must be near-exact."""
    words = _words(spark, sf_dir)
    exact = words.distinct().count()
    [row] = hll_estimate(hll_registers(words, "w", p=12), p=12).collect()
    assert abs(row["estimate"] - exact) / exact < 0.05

    small = spark.createDataFrame(
        [(f"item-{i}",) for i in range(50) for _ in range(3)],
        "item string",
    )
    [srow] = hll_estimate(hll_registers(small, "item", p=12), p=12).collect()
    assert srow["method"] == "linear_counting"
    assert abs(srow["estimate"] - 50) < 2


def test_hll_merge_equals_union_sketch(spark, sf_dir):
    """The mergeability contract: sketch(A ∪ B) == merge(sketch(A),
    sketch(B)) bit-for-bit — what lets shard sketches answer union
    cardinality without rescanning."""
    words = _words(spark, sf_dir)
    a = words.filter(F.length("w") <= 5)
    b = words.filter(F.length("w") > 4)  # overlaps at length 5
    p = 10
    merged = {
        r["register"]: r["max_rho"]
        for r in hll_merge(
            hll_registers(a, "w", p=p), hll_registers(b, "w", p=p)
        ).collect()
    }
    whole = {
        r["register"]: r["max_rho"]
        for r in hll_registers(a.unionByName(b), "w", p=p).collect()
    }
    assert merged == whole
    # idempotent: merging a sketch with itself is a no-op
    sa = hll_registers(a, "w", p=p)
    twice = {
        r["register"]: r["max_rho"] for r in hll_merge(sa, sa).collect()
    }
    assert twice == {
        r["register"]: r["max_rho"] for r in sa.collect()
    }


def test_hll_incremental_snapshot_estimate(spark, tmp_path):
    """The advertised workflow: persist a snapshot's registers, later
    merge with a refresh's registers, estimate the union — compare to
    the exact distinct of the union."""
    old = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(4000)], "k string"
    )
    new = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(3000, 6000)], "k string"
    )
    path = str(tmp_path / "sketch")
    hll_registers(old, "k", p=12).write.parquet(path)
    merged = hll_merge(
        spark.read.parquet(path), hll_registers(new, "k", p=12)
    )
    [row] = hll_estimate(merged, p=12).collect()
    assert abs(row["estimate"] - 6000) / 6000 < 0.05


def test_hll_validation(spark):
    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError, match=r"p must be in \[4, 16\]"):
        hll_registers(df, "item", p=3)
    with pytest.raises(ValueError, match=r"p must be in \[4, 16\]"):
        hll_estimate(df, p=17)
    with pytest.raises(ValueError, match="at least one"):
        hll_merge()


def test_hll_estimate_rejects_larger_p_sketch(spark):
    """Estimating a p=14 sketch at the default p=12 must raise, not
    return a silently wrong number (registers exceed 2^12)."""
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(f"item-{i}",) for i in range(20000)], "item string"
    )
    sk = hll_registers(df, "item", p=14)
    with pytest.raises(SparkRuntimeException, match="larger p"):
        hll_estimate(sk, p=12).collect()


def test_hll_grouped_registers_and_estimate(spark, sf_dir):
    """Grouped sketch: per-group registers equal the per-group replay,
    per-group estimates match the global estimator applied to each
    group's items, NULL group key is a real group, and grouped merge
    across shards equals the whole-corpus grouped sketch."""
    words = _words(spark, sf_dir).withColumn(
        "grp",
        F.when(F.length("w") % 3 == 0, F.lit(None)).otherwise(
            (F.length("w") % 3).cast("string")
        ),
    )
    p = 10
    got = {}
    for r in hll_registers(words, "w", p=p, by="grp").collect():
        got.setdefault(r["grp"], {})[r["register"]] = r["max_rho"]
    rows = words.collect()
    want = {}
    for grp in {r["grp"] for r in rows}:
        want[grp] = _replay_registers(
            [r["w"] for r in rows if r["grp"] == grp], p
        )
    assert got == want
    assert None in got and len(got) == 3

    ests = {
        r["grp"]: (r["estimate"], r["method"])
        for r in hll_estimate(
            hll_registers(words, "w", p=p, by="grp"), p, by="grp"
        ).collect()
    }
    for grp, regs in want.items():
        e, meth = _replay_estimate(regs, p)
        assert ests[grp][1] == meth
        assert ests[grp][0] == pytest.approx(e, rel=1e-12)

    # grouped shard merge == grouped whole sketch
    a = words.filter(F.col("w") <= "m")
    b = words.filter(F.col("w") > "m")
    merged = {
        (r["grp"], r["register"]): r["max_rho"]
        for r in hll_merge(
            hll_registers(a, "w", p=p, by="grp"),
            hll_registers(b, "w", p=p, by="grp"),
            by="grp",
        ).collect()
    }
    whole = {
        (r["grp"], r["register"]): r["max_rho"]
        for r in hll_registers(words, "w", p=p, by="grp").collect()
    }
    assert merged == whole


def test_hll_estimate_rejects_grouped_sketch_without_by(spark):
    """A grouped sketch estimated without its by= keys repeats
    registers across groups (n_set > m) — must raise, not return a
    negative/garbage estimate."""
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(f"item-{i}", f"g{i % 40}") for i in range(20000)],
        "item string, grp string",
    )
    sk = hll_registers(df, "item", p=6, by="grp")
    with pytest.raises(SparkRuntimeException, match="grouped"):
        hll_estimate(sk, p=6).collect()


def test_hll_empty_sketch_merges_like_any_other(spark):
    """An empty register table (all-NULL shard) has no registers, and
    merging it into another sketch leaves the estimate unchanged."""
    df = spark.createDataFrame(
        [("g1", "u1"), ("g2", "u2")], "domain string, url string"
    )
    p = 8

    empty = hll_registers(df.filter(F.lit(False)), "url", p=p)
    assert empty.count() == 0
    merged = hll_merge(empty, hll_registers(df, "url", p=p))
    [row] = hll_estimate(merged, p).collect()
    assert round(row["estimate"]) == 2
