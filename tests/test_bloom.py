"""Bloom membership sketch: bit-exact pure-Python word replay, the
no-false-negatives guarantee, FPP sanity against bloom_fpp, grouped
(by=) semantics incl. NULL group keys, the filter_unseen ingest gate,
artifact round-trip guards, and validation edges — the membership leg
of the mergeable-sketch trio next to tests/test_hll.py and
tests/test_cms.py."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
    BLOOM_BROADCAST_MAX_BITS,
    bloom_fpp,
    bloom_query,
    bloom_sketch,
    filter_unseen,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def _positions(item, m_bits, k):
    hx = hashlib.md5(str(item).encode()).hexdigest()
    h1 = int(hx[:15], 16) % m_bits
    h2 = (int(hx[15:30], 16) % m_bits) | 1
    return [(h1 + i * h2) % m_bits for i in range(k)]


def _replay_words(items, m_bits, k):
    words: dict[int, int] = {}
    for it in items:
        if it is None:
            continue
        for pos in _positions(it, m_bits, k):
            w, off = pos >> 6, pos & 63
            words[w] = words.get(w, 0) | (1 << off)
    return words


def _replay_query(words, item, m_bits, k):
    return all(
        words.get(pos >> 6, 0) & (1 << (pos & 63)) for pos in _positions(item, m_bits, k)
    )


def _words(spark, sf_dir):
    docs = load_fixture_table(spark, sf_dir, "documents")
    return docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")


def test_bloom_words_match_python_replay(spark, sf_dir):
    stream = _words(spark, sf_dir)
    m_bits, k = 1 << 12, 4
    # Spark's BIGINT is signed: shiftleft(1, 63) wraps negative, so
    # compare in unsigned space
    got = {
        r["word"]: r["bits"] % (1 << 64)
        for r in bloom_sketch(stream, "w", m_bits, k).collect()
    }
    want = _replay_words([r["w"] for r in stream.collect()], m_bits, k)
    assert got == want


def test_bloom_no_false_negatives_and_fpp_bound(spark, sf_dir):
    """Every inserted item probes true (the Bloom guarantee); absent
    items probe true at roughly the bloom_fpp rate (generous ceiling —
    the point is 'mostly false', the exact rate is hash luck)."""
    stream = _words(spark, sf_dir)
    m_bits, k = 1 << 14, 5
    sk = bloom_sketch(stream, "w", m_bits, k)

    present = stream.distinct()
    probes = bloom_query(sk, present, "w", m_bits, k)
    assert probes.filter(~F.col("maybe_present")).count() == 0

    n = present.count()
    absent = spark.range(2000).select(
        F.concat(F.lit("never-seen-token-"), F.col("id")).alias("w")
    )
    fp = bloom_query(sk, absent, "w", m_bits, k).filter(
        F.col("maybe_present")
    ).count()
    expected = bloom_fpp(m_bits, k, n)
    assert fp / 2000 <= max(5 * expected, 0.02)


def test_bloom_grouped_semantics_and_null_group(spark):
    """by= keeps one filter per group (an item present in group A only
    probes false in group B); NULL group keys are real groups and join
    null-safely; a group the sketch never saw probes false."""
    rows = [("a", "x"), ("a", "y"), (None, "z")]
    df = spark.createDataFrame(rows, "g string, w string")
    m_bits, k = 1 << 10, 3
    sk = bloom_sketch(df, "w", m_bits, k, by="g")
    items = spark.createDataFrame(
        [("a", "x"), ("b", "x"), (None, "z"), (None, "x"), ("c", "q")],
        "g string, w string",
    )
    got = {
        (r["g"], r["w"]): r["maybe_present"]
        for r in bloom_query(sk, items, "w", m_bits, k, by="g").collect()
    }
    assert got[("a", "x")] is True
    assert got[("b", "x")] is False       # x never inserted under b
    assert got[(None, "z")] is True       # NULL group joins null-safely
    assert got[(None, "x")] is False
    assert got[("c", "q")] is False       # unseen group


def test_filter_unseen_gate(spark):
    """filter_unseen never passes a seen item (one-sided guarantee)
    and, at a generous bits/item budget, passes essentially all new
    ones; NULL items pass through."""
    seen = spark.range(500).select(
        F.concat(F.lit("url-"), F.col("id")).alias("u")
    )
    m_bits, k = 1 << 16, 5
    sk = bloom_sketch(seen, "u", m_bits, k)
    batch = (
        spark.range(400, 900)
        .select(F.concat(F.lit("url-"), F.col("id")).alias("u"))
        .unionByName(spark.sql("SELECT CAST(NULL AS STRING) AS u"))
    )
    out = filter_unseen(batch, sk, "u", m_bits, k)
    got = {r["u"] for r in out.collect()}
    seen_set = {f"url-{i}" for i in range(500)}
    assert not (got & seen_set), "a seen item passed the gate"
    new_set = {f"url-{i}" for i in range(500, 900)}
    assert len(got & new_set) >= int(0.99 * len(new_set))
    assert None in got  # NULL items are not a membership class


def test_bloom_validation_and_plan_shape(spark):
    with pytest.raises(ValueError, match="power of two"):
        bloom_sketch(spark.range(1), "id", m_bits=1000)
    with pytest.raises(ValueError, match="k must be"):
        bloom_sketch(spark.range(1), "id", m_bits=1 << 10, k=0)
    with pytest.raises(ValueError, match="n_items"):
        bloom_fpp(1 << 10, 3, -1)
    assert bloom_fpp(1 << 20, 5, 0) == 0.0
    # ~10 bits/item, k=5 → ~1% (the sizing rule the docstring quotes)
    assert 0.005 < bloom_fpp(1 << 13, 5, 819) < 0.02

    items = spark.createDataFrame([("x",)], "w string")
    small = bloom_sketch(items, "w", 1 << 10, 3)
    plan = (
        bloom_query(small, items, "w", 1 << 10, 3)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" in plan
    assert (1 << 10) <= BLOOM_BROADCAST_MAX_BITS
    big = bloom_sketch(items, "w", 1 << 30, 3)
    plan_big = (
        bloom_query(big, items, "w", 1 << 30, 3)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in plan_big


def test_bloom_reserved_column_names_rejected(spark):
    """item/key columns named after the sketch's internal word/bits
    columns would make the probe join ambiguous — fail loudly up front
    (round-9 review)."""
    df = spark.createDataFrame([("x", "g")], "word string, bits string")
    with pytest.raises(ValueError, match="collide"):
        bloom_sketch(df, "word")
    with pytest.raises(ValueError, match="collide"):
        bloom_query(bloom_sketch(df.selectExpr("word AS w"), "w"),
                    df, "bits")
    with pytest.raises(ValueError, match="collide"):
        bloom_sketch(df.selectExpr("word AS w", "bits"), "w", by="bits")
