"""Schema registry: the raw HHS CSV contract (the reference's
``backend/app/etl/ingest_capacity.py:106-113``) and the ``pipeline_runs``
run log (its ``models.py:14-27``). The lake's fact and dimension tables
take their schema from the frames the pipeline writes.

UUIDs are strings (Spark has no UUID type); TIMESTAMPTZ columns are
TimestampType with the session pinned to UTC.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw ingest contract: HHS CSV column -> canonical name
# (reference: backend/app/etl/ingest_capacity.py:106-113)
# ---------------------------------------------------------------------------
HHS_COLUMN_MAPPING: dict[str, str] = {
    "date": "date",
    "state": "region",
    "inpatient_beds": "total_beds",
    "inpatient_beds_used": "occupied_beds",
    "total_staffed_adult_icu_beds": "icu_beds",
    "staffed_adult_icu_bed_occupancy": "icu_occupied",
}

# pipeline_runs run log (models.py:14-27)
PIPELINE_RUNS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("ended_at", T.TimestampType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_loaded", T.LongType(), True),
        T.StructField("rows_rejected", T.LongType(), True),
        T.StructField("notes", T.StringType(), True),
    ]
)
