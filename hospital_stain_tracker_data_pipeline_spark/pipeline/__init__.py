"""The reference's ETL + query-API layer, Spark-first.

- ``lake``            — minimal partitioned-parquet table with idempotent
                        natural-key upsert (the portable stand-in for
                        Postgres ON CONFLICT / Delta MERGE)
- ``ingest_capacity`` — raw CSV → validate/reject split → region
                        get-or-create → bronze upsert (+ run log)
- ``compute_metrics`` — bronze → derived metrics → silver upsert
- ``api_queries``     — the 7 REST endpoints as DataFrame functions
"""

from .lake import (  # noqa: F401
    LakeTable,
    file_skipping_report,
    zorder_write,
)
from .ingest_capacity import ingest_capacity_csv  # noqa: F401
from .compute_metrics import compute_metrics, metrics_from_capacity  # noqa: F401
from . import api_queries  # noqa: F401
from .curate import (  # noqa: F401
    curate_documents,
    curate_media,
    unpersist_curated,
)
