"""Dyadic rank/quantile sketch (CMS-per-level, Cormode-Muthukrishnan
range sums) — the quantile member of the mergeable-summaries family.

Pins:
- the ONE-SIDED guarantee: estimated rank NEVER underestimates the
  true rank, and the overcount stays within the analytic bound
  2 * (levels+1) * N / width on a real skewed fixture;
- quantile rank-accuracy: the returned value's TRUE rank is within
  the same bound of q*N;
- merge algebra: sketch(A ⊎ B ⊎ C) == merge of shard sketches
  BIT-FOR-BIT (cells are exact counts of deterministic buckets);
- total exactness: rank at the domain max is exactly N (the
  whole-domain block shares its level with nothing);
- grouped ``by=`` variant == per-group standalone sketches;
- fail-fast guards: out-of-range values raise in-row (never clamp),
  NULLs are ignored, internal column-name clashes rejected;
- artifact round-trip with parameters + corrupt-artifact guards.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
    dyadic_rank_merge,
    dyadic_rank_sketch,
    quantiles_from_sketch,
    rank_from_cells,
)

LEVELS, WIDTH, DEPTH = 16, 2048, 5
N = 5000


def _values():
    """Skewed integer fixture (lognormal-ish doc lengths)."""
    rng = np.random.RandomState(7)
    v = np.minimum(
        (np.exp(rng.normal(5.5, 1.2, size=N))).astype(np.int64),
        (1 << LEVELS) - 1,
    )
    return v


def _cells_dict(sketch):
    return {
        (r["lvl"], r["row"], r["col"]): r["cnt"] for r in sketch.collect()
    }


def _sketch_of(spark, vals, **kw):
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    return dyadic_rank_sketch(
        df, "v", levels=LEVELS, width=WIDTH, depth=DEPTH, **kw
    )


def test_rank_never_underestimates_and_total_exact(spark):
    vals = _values()
    cells = _cells_dict(_sketch_of(spark, vals))
    s = np.sort(vals)
    bound = 2 * (LEVELS + 1) * N / WIDTH
    probes = [0, 1, 50, 200, 1000, 5000, 20000, (1 << LEVELS) - 2]
    for x in probes:
        true = int(np.searchsorted(s, x, side="right"))
        est = rank_from_cells(cells, x, LEVELS, WIDTH, DEPTH)
        assert est >= true, (x, est, true)
        assert est - true <= bound, (x, est, true)
    # the whole-domain block shares its level with nothing: exact N
    assert rank_from_cells(cells, (1 << LEVELS) - 1, LEVELS, WIDTH, DEPTH) == N
    assert rank_from_cells(cells, -1, LEVELS, WIDTH, DEPTH) == 0
    with pytest.raises(ValueError, match="outside"):
        rank_from_cells(cells, 1 << LEVELS, LEVELS, WIDTH, DEPTH)


def test_quantiles_rank_accuracy(spark):
    vals = _values()
    sketch = _sketch_of(spark, vals)
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    got = quantiles_from_sketch(sketch, qs, LEVELS, WIDTH, DEPTH)
    s = np.sort(vals)
    bound = 2 * (LEVELS + 1) * N / WIDTH
    for q in qs:
        xhat = got[q]
        true_rank = int(np.searchsorted(s, xhat, side="right"))
        # the estimator finds the smallest x with est-rank >= ceil(qN);
        # est never undercounts, so the true rank can undershoot by at
        # most the overcount and can overshoot only by the mass tied
        # at xhat
        assert true_rank >= q * N - bound, (q, xhat, true_rank)
        prev_rank = int(np.searchsorted(s, xhat - 1, side="right"))
        assert prev_rank <= q * N, (q, xhat, prev_rank)
    with pytest.raises(ValueError, match="outside"):
        quantiles_from_sketch(sketch, [1.5], LEVELS, WIDTH, DEPTH)
    # a grouped sketch must be filtered to one group first — collapsing
    # groups would silently mix their cells
    grouped = dyadic_rank_sketch(
        spark.createDataFrame(
            pd.DataFrame({"v": vals, "grp": ["a"] * N})
        ),
        "v", levels=LEVELS, width=WIDTH, depth=DEPTH, by="grp",
    )
    with pytest.raises(ValueError, match="group column"):
        quantiles_from_sketch(grouped, [0.5], LEVELS, WIDTH, DEPTH)
    # empty sketch -> None quantiles
    empty = dyadic_rank_sketch(
        spark.createDataFrame([], "v long"),
        "v",
        levels=LEVELS,
        width=WIDTH,
        depth=DEPTH,
    )
    assert quantiles_from_sketch(empty, [0.5], LEVELS, WIDTH, DEPTH) == {
        0.5: None
    }


def test_merge_equals_whole_bit_exact(spark):
    vals = _values()
    whole = _sketch_of(spark, vals)
    shards = [
        _sketch_of(spark, vals[i::3]) for i in range(3)
    ]
    merged = dyadic_rank_merge(*shards)
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b


def test_grouped_by_variant(spark):
    vals = _values()
    pdf = pd.DataFrame({"v": vals, "grp": (vals % 2 == 0).astype(str)})
    df = spark.createDataFrame(pdf)
    grouped = dyadic_rank_sketch(
        df, "v", levels=LEVELS, width=WIDTH, depth=DEPTH, by="grp"
    )
    for g in ("True", "False"):
        sub = _sketch_of(spark, vals[(vals % 2 == 0) == (g == "True")])
        got = sorted(
            map(
                tuple,
                grouped.filter(F.col("grp") == g)
                .drop("grp")
                .collect(),
            )
        )
        assert got == sorted(map(tuple, sub.collect())), g


def test_guards(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"v": [1, 5, None, 9]}).astype({"v": "Int64"})
    )
    # NULLs ignored
    cells = _cells_dict(
        dyadic_rank_sketch(df, "v", levels=4, width=64, depth=3)
    )
    assert rank_from_cells(cells, 15, 4, 64, 3) == 3
    # out-of-range fails in-row, never clamps
    bad = spark.createDataFrame(pd.DataFrame({"v": [3, 99]}))
    with pytest.raises(Exception, match="outside \\[0, 2\\^4\\)"):
        dyadic_rank_sketch(bad, "v", levels=4, width=64, depth=3).collect()
    neg = spark.createDataFrame(pd.DataFrame({"v": [-1]}))
    with pytest.raises(Exception, match="outside"):
        dyadic_rank_sketch(neg, "v", levels=4, width=64, depth=3).collect()
    # internal column clash
    clash = spark.createDataFrame(pd.DataFrame({"lvl": [1]}))
    with pytest.raises(ValueError, match="collide"):
        dyadic_rank_sketch(clash, "lvl", levels=4, width=64, depth=3)
    with pytest.raises(ValueError, match="levels"):
        dyadic_rank_sketch(bad, "v", levels=0)
