"""stream_ann_ingest: the ANN append lifecycle as a stream (round 12).

Pins: each landed embedding file appends O(delta) under the frozen
fits; the resulting artifact is BIT-EQUIVALENT to batch appends of the
same deltas (identical search results); a second wave processes only
new files (checkpointed exactly-once for the ledger); and a REPLAYED
delta (same ids landing again) appends 0 instead of double-appending —
the id-immutability guard that makes foreachBatch's at-least-once
delivery safe for an artifact-mutating sink. An empty landing
directory reads back as the typed empty ledger.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
    append_ann_index,
    build_ann_index,
    search_ann_index,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)
from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
    stream_ann_ingest,
)


def _land(df, path):
    pdf = df.toPandas()
    pq.write_table(
        pa.table({
            "vec_id": pdf["vec_id"].astype("int64"),
            "embedding": pa.array(
                [list(map(float, v)) for v in pdf["embedding"]],
                type=pa.list_(pa.float32()),
            ),
        }),
        path,
    )


def _search_rows(spark, idx, queries):
    out = search_ann_index(spark, idx, queries, k=5, nprobe=4)
    return sorted(map(tuple, out.collect()))


def test_stream_ann_ingest_matches_batch_appends(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    emb = load_fixture_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    d1 = emb.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") % 20 == 0))
    d2 = emb.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") % 20 != 0))
    n_base, n_d1, n_d2 = base.count(), d1.count(), d2.count()
    assert n_d1 > 0 and n_d2 > 0

    idx = str(tmp_path / "idx")
    build_ann_index(base, idx, n_clusters=8, m=8, n_codes=16, iters=2)

    landing = tmp_path / "landing"
    landing.mkdir()
    # nothing landed yet: no sink partition is written, and the
    # read-back is the typed empty ledger, not UNABLE_TO_INFER_SCHEMA
    empty = stream_ann_ingest(
        spark, str(landing), idx, str(tmp_path / "empty_ledger")
    )
    assert empty.count() == 0
    assert empty.columns == [
        "appended", "occupancy_shift_tv", "err_ratio", "refit_recommended"
    ]

    sink = str(tmp_path / "ledger")
    _land(d1, str(landing / "delta-1.parquet"))

    ledger1 = stream_ann_ingest(spark, str(landing), idx, sink)
    rows1 = ledger1.collect()
    assert sum(r["appended"] for r in rows1) == n_d1
    assert (
        spark.read.parquet(f"{idx}/codes").count() == n_base + n_d1
    )

    # wave 2: one genuinely new delta + one REPLAY of delta-1's ids —
    # only the new ids append (the anti-join makes the replay a
    # counted no-op, not a double-append)
    _land(d2, str(landing / "delta-2.parquet"))
    _land(d1, str(landing / "delta-1-replayed.parquet"))
    ledger2 = stream_ann_ingest(spark, str(landing), idx, sink)
    assert sum(r["appended"] for r in ledger2.collect()) == n_d1 + n_d2
    assert (
        spark.read.parquet(f"{idx}/codes").count() == n_base + n_d1 + n_d2
    )

    # artifact equivalence: the streamed index answers searches
    # exactly like one maintained by BATCH appends of the same deltas
    idx_batch = str(tmp_path / "idx_batch")
    build_ann_index(base, idx_batch, n_clusters=8, m=8, n_codes=16, iters=2)
    append_ann_index(spark, idx_batch, d1)
    append_ann_index(spark, idx_batch, d2)
    queries = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert _search_rows(spark, idx, queries) == _search_rows(
        spark, idx_batch, queries
    )

    # a third pass with nothing new: checkpoint skips the old files,
    # codes unchanged
    ledger3 = stream_ann_ingest(spark, str(landing), idx, sink)
    assert (
        spark.read.parquet(f"{idx}/codes").count() == n_base + n_d1 + n_d2
    )
    assert sum(r["appended"] for r in ledger3.collect()) == n_d1 + n_d2


def test_stream_ann_ingest_requires_built_index(spark, tmp_path):
    import pytest

    landing = tmp_path / "landing"
    landing.mkdir()
    with pytest.raises(ValueError, match="_INDEX_OK"):
        stream_ann_ingest(
            spark, str(landing), str(tmp_path / "noidx"),
            str(tmp_path / "ledger"),
        )
    assert not os.path.isdir(str(tmp_path / "ledger"))

