"""Schema-validated CSV scan (SURVEY.md §2.1 op-scan-csv, §2.2
op-schema-check).

The reference fails the whole batch when any required HHS column is
missing (``backend/app/etl/ingest_capacity.py:115-120``). We read with
header=True (no schema inference in the hot path), check the header set,
then project+rename in one ``select`` so Catalyst prunes unused columns
at the scan.

S3 variant (op-scan-s3): the reference stages the object to /tmp via
boto3 (``ingest_capacity_s3.py:22-45``); on Spark the same call reads
``s3a://bucket/key`` directly — no staging copy — so ``read_hhs_csv``
takes any Hadoop-compatible path/URI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import HHS_COLUMN_MAPPING


class MissingColumnsError(ValueError):
    pass


def read_hhs_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read an HHS capacity CSV (local path or s3a:// URI), enforce the
    required-column contract, and project+rename to canonical names.

    Numeric columns are try_cast to double (raw HHS data can carry
    fractional averages; a non-numeric value becomes NULL and is then
    rejected by op-validate-row's "is required" rule rather than
    aborting the batch under ANSI mode); the date stays a string for
    the parse step to validate (op-parse-date routes bad dates to
    rejects instead of failing the batch — an improvement over the
    reference, which raises on first bad value,
    ingest_capacity.py:15-20,126).
    """
    raw = spark.read.option("header", True).csv(path)
    missing = [c for c in HHS_COLUMN_MAPPING if c not in raw.columns]
    if missing:
        raise MissingColumnsError(f"Missing required columns: {missing}")
    numeric = {
        "inpatient_beds",
        "inpatient_beds_used",
        "total_staffed_adult_icu_beds",
        "staffed_adult_icu_bed_occupancy",
    }
    cols = [
        (F.col(src).try_cast("double") if src in numeric else F.col(src)).alias(dst)
        for src, dst in HHS_COLUMN_MAPPING.items()
    ]
    # _source_row: the distributed analog of the reference's reject
    # `_original_index` (ingest_capacity.py:140-152) — unique and
    # monotonic WITHIN each input split (id = partition << 33 | offset),
    # not a global contiguous index (no such thing exists in a
    # distributed scan without a total sort). Reject rows carry it to
    # the rejects CSV so a row can be traced back to its file position.
    return raw.select(
        *cols, F.monotonically_increasing_id().alias("_source_row")
    )
