"""Count-min sketch: bit-exact pure-Python cell replay, the
never-underestimate guarantee against exact counts, the 2N/w error
bound, merge algebra, and validation edges."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
    cms_merge,
    cms_query,
    cms_sketch,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def _hashes(item, width):
    hx = hashlib.md5(str(item).encode()).hexdigest()
    h1 = int(hx[:15], 16) % width
    h2 = (int(hx[15:30], 16) % width) | 1
    return h1, h2


def _replay_cells(items, width, depth):
    cells: dict[tuple[int, int], int] = {}
    for it in items:
        if it is None:
            continue
        h1, h2 = _hashes(it, width)
        for r in range(depth):
            key = (r, (h1 + r * h2) % width)
            cells[key] = cells.get(key, 0) + 1
    return cells


def _replay_query(cells, item, width, depth):
    h1, h2 = _hashes(item, width)
    return min(
        cells.get((r, (h1 + r * h2) % width), 0) for r in range(depth)
    )


def _words(spark, sf_dir):
    docs = load_fixture_table(spark, sf_dir, "documents")
    return docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")


def test_cms_cells_match_python_replay(spark, sf_dir):
    words = _words(spark, sf_dir)
    width, depth = 256, 4
    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_sketch(words, "w", width, depth).collect()
    }
    want = _replay_cells([r["w"] for r in words.collect()], width, depth)
    assert got == want


def test_cms_never_underestimates_and_error_bound(spark, sf_dir):
    words = _words(spark, sf_dir)
    width, depth = 2048, 5
    sk = cms_sketch(words, "w", width, depth)
    exact = {
        r["w"]: r["n"]
        for r in words.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {
        r["w"]: r["est"]
        for r in cms_query(sk, words, "w", width, depth).collect()
    }
    n_total = sum(exact.values())
    assert set(est) == set(exact)
    assert all(est[w] >= exact[w] for w in exact)
    # expected overestimate is N/width per row, min over depth rows —
    # allow the standard 2N/width for every item (violations would be
    # a hashing-quality bug, not bad luck, at depth 5)
    bound = 2 * n_total / width
    bad = [w for w in exact if est[w] - exact[w] > bound]
    assert not bad, bad[:5]


def test_cms_absent_item_estimates_zero_or_bound(spark):
    df = spark.createDataFrame(
        [(f"in-{i % 20}",) for i in range(200)], "item string"
    )
    sk = cms_sketch(df, "item", 1024, 5)
    probes = spark.createDataFrame(
        [(f"absent-{i}",) for i in range(50)], "item string"
    )
    est = {
        r["item"]: r["est"]
        for r in cms_query(sk, probes, "item", 1024, 5).collect()
    }
    # never inserted -> almost surely some row has an empty cell
    assert sum(est.values()) == 0


def test_cms_merge_equals_union_sketch(spark, sf_dir):
    words = _words(spark, sf_dir)
    a = words.filter(F.length("w") <= 5)
    b = words.filter(F.length("w") > 5)
    width, depth = 512, 4
    merged = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_merge(
            cms_sketch(a, "w", width, depth),
            cms_sketch(b, "w", width, depth),
        ).collect()
    }
    whole = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_sketch(a.unionByName(b), "w", width, depth).collect()
    }
    assert merged == whole


def test_cms_query_handles_multiplicity_and_nulls(spark):
    df = spark.createDataFrame(
        [("x",), ("x",), ("y",), (None,)], "item string"
    )
    sk = cms_sketch(df, "item", 64, 3)
    # duplicated + NULL probes: output is one row per distinct non-NULL
    probes = spark.createDataFrame(
        [("x",), ("x",), (None,)], "item string"
    )
    rows = cms_query(sk, probes, "item", 64, 3).collect()
    assert len(rows) == 1 and rows[0]["item"] == "x"
    assert rows[0]["est"] >= 2
    cells = _replay_cells(["x", "x", "y"], 64, 3)
    assert rows[0]["est"] == _replay_query(cells, "x", 64, 3)


def test_cms_validation(spark):
    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError, match="power of two"):
        cms_sketch(df, "item", width=1000)
    with pytest.raises(ValueError, match="depth"):
        cms_sketch(df, "item", depth=0)
    with pytest.raises(ValueError, match="at least one"):
        cms_merge()


def test_cms_query_rejects_larger_geometry_sketch(spark):
    """Querying a width-4096 sketch at width 512 would UNDERestimate —
    the one broken guarantee — so it must raise instead."""
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(f"item-{i}",) for i in range(5000)], "item string"
    )
    sk = cms_sketch(df, "item", width=4096, depth=5)
    with pytest.raises(SparkRuntimeException, match="larger parameters"):
        cms_query(sk, df, "item", width=512, depth=5).collect()


# ------------------------------------------------------- grouped (by=)


def _grouped_words(spark):
    rows = []
    for dom, words in [
        ("a.com", ["x"] * 5 + ["y"] * 2),
        ("b.com", ["x"] * 3 + ["z"] * 7),
    ]:
        rows += [(dom, w) for w in words]
    return spark.createDataFrame(rows, "domain string, w string")


def test_cms_grouped_equals_per_group_sketches(spark):
    """A by= sketch is exactly one independent sketch per group —
    bit-for-bit the sketch of that group's subset."""
    df = _grouped_words(spark)
    width, depth = 64, 3
    grouped = {
        (r["domain"], r["row"], r["col"]): r["cnt"]
        for r in cms_sketch(df, "w", width, depth, by="domain").collect()
    }
    for dom in ("a.com", "b.com"):
        solo = {
            (dom, r["row"], r["col"]): r["cnt"]
            for r in cms_sketch(
                df.filter(F.col("domain") == dom), "w", width, depth
            ).collect()
        }
        assert solo == {k: v for k, v in grouped.items() if k[0] == dom}


def test_cms_grouped_query_and_merge(spark):
    """Per-(group, item) estimates never underestimate, match the
    pure-Python replay, and a sharded grouped merge equals the
    one-shot grouped sketch; a group the sketch never saw estimates 0."""
    df = _grouped_words(spark)
    width, depth = 64, 3
    sk = cms_sketch(df, "w", width, depth, by="domain")

    items = spark.createDataFrame(
        [("a.com", "x"), ("a.com", "z"), ("b.com", "z"), ("c.com", "x")],
        "domain string, w string",
    )
    got = {
        (r["domain"], r["w"]): r["est"]
        for r in cms_query(sk, items, "w", width, depth, by="domain").collect()
    }
    # replay each group's cells independently
    truth = {("a.com", "x"): 5, ("a.com", "z"): 0, ("b.com", "z"): 7}
    per_group = {
        dom: _replay_cells(
            [r["w"] for r in df.filter(F.col("domain") == dom).collect()],
            width,
            depth,
        )
        for dom in ("a.com", "b.com")
    }
    for (dom, w), est in got.items():
        if dom == "c.com":
            assert est == 0  # group never sketched
        else:
            assert est == _replay_query(per_group[dom], w, width, depth)
            assert est >= truth.get((dom, w), 0)

    # sharded merge == one-shot (same by keys)
    a = cms_sketch(df.limit(8), "w", width, depth, by="domain")
    b = cms_sketch(
        df.exceptAll(df.limit(8)), "w", width, depth, by="domain"
    )
    merged = {
        (r["domain"], r["row"], r["col"]): r["cnt"]
        for r in cms_merge(a, b, by="domain").collect()
    }
    oneshot = {
        (r["domain"], r["row"], r["col"]): r["cnt"]
        for r in sk.collect()
    }
    assert merged == oneshot


def test_cms_query_broadcast_hint_is_size_bounded(spark):
    """The sketch side is broadcast-HINTED only while the declared
    geometry fits CMS_BROADCAST_MAX_CELLS — a dense 2^26-wide merged
    sketch must not be forced onto the driver (ADVICE r8). Grouped
    sketches never get the hint (group count multiplies the size)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
        CMS_BROADCAST_MAX_CELLS,
    )

    items = spark.createDataFrame([("x",)], "w string")
    small = cms_sketch(items, "w", 2048, 5)
    plan_small = (
        cms_query(small, items, "w", 2048, 5)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" in plan_small
    assert 2048 * 5 <= CMS_BROADCAST_MAX_CELLS

    big_w, big_d = 1 << 26, 64
    big = cms_sketch(items, "w", big_w, big_d)
    plan_big = (
        cms_query(big, items, "w", big_w, big_d)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in plan_big

    grouped = cms_sketch(
        items.withColumn("g", F.lit("a")), "w", 64, 3, by="g"
    )
    plan_grouped = (
        cms_query(
            grouped, items.withColumn("g", F.lit("a")), "w", 64, 3, by="g"
        )
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in plan_grouped


def test_cms_grouped_null_group_key_never_underestimates(spark):
    """A NULL group key is a real group (groupBy semantics) — the
    grouped query must join it NULL-SAFELY; plain equality would make
    every NULL-group item estimate 0, a silent underestimate (round-9
    review finding)."""
    rows = [(None, "x")] * 7 + [(None, "y")] * 2 + [("a.com", "x")] * 3
    df = spark.createDataFrame(rows, "domain string, w string")
    width, depth = 64, 3
    sk = cms_sketch(df, "w", width, depth, by="domain")
    items = spark.createDataFrame(
        [(None, "x"), (None, "y"), ("a.com", "x")], "domain string, w string"
    )
    got = {
        (r["domain"], r["w"]): r["est"]
        for r in cms_query(sk, items, "w", width, depth, by="domain").collect()
    }
    assert got[(None, "x")] >= 7
    assert got[(None, "y")] >= 2
    assert got[("a.com", "x")] >= 3


def test_cms_empty_sketch_merges_like_any_other(spark):
    """An EMPTY sketch (all-NULL shard) has no cells, and merging it
    into another sketch leaves every estimate unchanged."""
    df = _grouped_words(spark)
    width, depth = 64, 3

    empty = cms_sketch(df.filter(F.lit(False)), "w", width, depth)
    assert empty.count() == 0
    full = cms_sketch(df, "w", width, depth)
    items = df.select("w").distinct()

    def estimates(sketch):
        return {
            (r["w"], r["est"])
            for r in cms_query(sketch, items, "w", width, depth).collect()
        }

    want = estimates(full)
    assert want
    assert estimates(cms_merge(empty, full)) == want


def test_cms_reserved_column_names_rejected(spark):
    """item/key columns named row/col/cnt collide with the sketch's
    internal columns — fail loudly up front (round-9 review)."""
    df = spark.createDataFrame([("x", "g")], "row string, col string")
    with pytest.raises(ValueError, match="collide"):
        cms_sketch(df, "row")
    with pytest.raises(ValueError, match="collide"):
        cms_query(
            cms_sketch(df.selectExpr("row AS w"), "w"), df, "col"
        )
