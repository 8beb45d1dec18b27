"""``LakeTable.upsert`` dedups its batch inside the merge window. Each
case below is checked against the two-step reference the upsert folds
together: ``dedup_last_writer`` over the batch (``dropDuplicates``
without a version column), then ``upsert_last_writer_wins`` of the
deduped batch into the stored table. The table after the upsert equals
the reference's rows, and the upsert returns the reference's deduped
batch count: the batch's distinct keys, a stale incoming row that
loses to a newer stored one included."""

from __future__ import annotations

import csv
import datetime as dt
import os

import pytest

from hospital_stain_tracker_data_pipeline_spark.operators.upsert import (
    dedup_last_writer,
    upsert_last_writer_wins,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    compute_metrics,
    ingest_capacity_csv,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable

D1, D2, D3 = dt.date(2026, 1, 1), dt.date(2026, 1, 2), dt.date(2026, 1, 3)
STORED = [(D1, 1, 5, "a"), (D1, 2, 5, "b"), (D2, 1, 5, "c")]

# case -> (stored rows, batch rows, the table's version column); rows
# are (date, k, v, x) with the natural key (date, k)
CASES = {
    # within-batch duplicates: distinct versions (the newest wins), a
    # NULL version beside a set one (NULL loses), two NULL-version
    # copies of one row, on stored and new partitions
    "duplicate-keys": (
        STORED,
        [
            (D1, 1, 7, "new"), (D1, 1, 9, "newest"), (D1, 1, 6, "old"),
            (D2, 1, None, "null"), (D2, 1, 6, "set"),
            (D3, 4, None, "same"), (D3, 4, None, "same"),
        ],
        "v",
    ),
    # an incoming row older than the stored one loses the merge but is
    # still one of the batch's keys
    "stale-incoming": (STORED, [(D1, 1, 3, "stale"), (D1, 3, 1, "fresh")], "v"),
    "no-version-identical-duplicates": (
        STORED,
        [(D1, 1, 0, "same"), (D1, 1, 0, "same"), (D3, 2, 1, "new"), (D3, 2, 1, "new")],
        None,
    ),
    "empty-batch": (STORED, [], "v"),
    "only-new-partitions": (
        STORED, [(D3, 1, 1, "x"), (D3, 1, 2, "y"), (D3, 2, None, "z")], "v"
    ),
}


def _frame(spark, rows):
    return spark.createDataFrame(rows, "date date, k long, v int, x string")


def _sorted(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((v is None, "" if v is None else str(v)) for v in r),
    )


def _tree(path):
    """``{relative file path: (mtime_ns, size)}`` of every file under path."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.relpath(os.path.join(root, f), path)] = (st.st_mtime_ns, st.st_size)
    return out


@pytest.mark.parametrize("case", CASES)
def test_upsert_equals_dedup_then_merge(spark, tmp_path, case):
    stored, rows, version = CASES[case]
    t = LakeTable(spark, str(tmp_path / "t"), keys=["date", "k"], version_col=version)
    t.overwrite(_frame(spark, stored))
    batch = _frame(spark, rows)

    deduped = (
        dedup_last_writer(batch, t.keys, version) if version else batch.dropDuplicates(t.keys)
    )
    columns = ["date", "k", "v", "x"]
    want_rows = _sorted(
        upsert_last_writer_wins(t.read(), deduped, t.keys, version).select(columns).collect()
    )
    want_count = deduped.count()
    before = _tree(t.path)

    assert t.upsert(batch) == want_count
    assert _sorted(t.read().select(columns).collect()) == want_rows
    if not rows:
        assert want_count == 0 and _tree(t.path) == before


def test_full_metrics_recompute_keeps_every_row(spark, tmp_path):
    """A full ``compute_metrics()`` over an existing silver table touches
    every partition: each key keeps one row with the same values, now
    from the new run, and the run reports one row per key."""
    path = tmp_path / "capacity.csv"
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([
            "date", "state", "inpatient_beds", "inpatient_beds_used",
            "total_staffed_adult_icu_beds", "staffed_adult_icu_bed_occupancy",
        ])
        for d in range(6):
            for i, region in enumerate(["CA", "NY", "TX"]):
                w.writerow([D1 + dt.timedelta(d), region, 1000, 500 + d + i, 100, 40 + i])
    lake_dir = str(tmp_path / "lake")
    ingest_capacity_csv(spark, str(path), "t", lake_dir)
    assert compute_metrics(spark, lake_dir).rows_in == 18

    silver = os.path.join(lake_dir, "metrics_daily")
    values = ["date", "region_id", "bed_occ_pct", "icu_occ_pct", "strain_index"]
    before = _sorted(spark.read.parquet(silver).select(values).collect())
    again = compute_metrics(spark, lake_dir)
    after = spark.read.parquet(silver)
    assert again.rows_in == 18
    assert _sorted(after.select(values).collect()) == before
    assert {r.source_run_id for r in after.select("source_run_id").collect()} == {
        again.run_id
    }
