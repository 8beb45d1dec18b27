"""Connected components: the max_iter=0 proof-round semantics on
degenerate graphs."""

from __future__ import annotations

import pytest


def test_cc_max_iter_zero_degenerate_graphs_still_converge(spark):
    """max_iter=0 semantics are the identity-init ones (pre-round-14):
    the single available round is the PROOF round, so an empty or
    self-loop-only edge set converges (labels are already the fixpoint)
    while any real edge still raises. The round-14 fused first round
    must not consume that proof round."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        connected_components_min_label,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    tel: dict = {}
    out = connected_components_min_label(empty, max_iter=0, telemetry=tel)
    assert out.count() == 0 and tel["converged"]

    loops = spark.createDataFrame([(5, 5), (9, 9)], "src long, dst long")
    tel = {}
    out = connected_components_min_label(loops, max_iter=0, telemetry=tel)
    assert {(r["node"], r["cluster_id"]) for r in out.collect()} == {
        (5, 5),
        (9, 9),
    }
    assert tel["converged"] and tel["iterations"] == 1

    edge = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="did not converge"):
        connected_components_min_label(edge, max_iter=0)
