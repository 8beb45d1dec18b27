"""Idempotent upsert by natural key (SURVEY.md §2.1 op-sink-upsert).

The reference relies on Postgres ``INSERT ... ON CONFLICT (date,
region_id) DO UPDATE`` (``backend/app/etl/ingest_capacity.py:178-193``,
``compute_metrics.py:75-89``). The portable lakehouse equivalent is
last-writer-wins dedup over the natural key: union existing + incoming,
rank by an explicit version ordering, keep rank 1.

Scale notes:
- The window shuffles on the natural key — the same shuffle a MERGE
  would need. Partition the stored table by a key prefix (e.g. ``date``)
  so only touched partitions are rewritten (dynamic partition
  overwrite), instead of rewriting 100 TB per micro-batch.
- Determinism requires an explicit version column (``ingest_ts`` or run
  sequence); ties broken by preferring the incoming side.
- The merge window also does the batch's within-batch dedup: it keeps
  one row per key over the union, so duplicate incoming keys collapse
  in the same shuffle (newest version first, NULL versions last) and a
  separate ``dedup_last_writer`` pass before it would be redundant.
  ``LakeTable.upsert`` merges in that one window, and counts the
  batch's distinct keys in it (``_last_writer_rows``' ``flag``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PRIORITY = "_upsert_priority"


def upsert_last_writer_wins(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    version_col: str | None = None,
) -> DataFrame:
    """Merge ``incoming`` into ``existing`` with ON CONFLICT DO UPDATE
    semantics: one row per ``keys``, incoming wins conflicts.

    ``version_col`` (e.g. an ingest timestamp) orders writers when both
    sides carry history; the incoming side additionally gets priority so
    equal versions still prefer the new write — matching the reference's
    unconditional DO UPDATE.
    """
    return _last_writer_rows(existing, incoming, keys, version_col)


def _last_writer_rows(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    version_col: str | None,
    flag: str | None = None,
) -> DataFrame:
    """``upsert_last_writer_wins``' rows; with ``flag``, each row also
    carries a boolean column of that name, true when the row's key
    group holds an incoming row (whether or not that row won). Counting
    it on the result counts the batch's distinct keys, in the same
    window and so the same shuffle."""
    incoming = incoming.withColumn(_PRIORITY, F.lit(1))
    if existing is None:
        unioned = incoming
    else:
        # schema evolution: a batch may ADD columns (rows already
        # stored read NULL for them — the ALTER TABLE ADD COLUMN
        # semantics every lake format gives) or arrive from an older
        # producer missing recent columns (NULL-filled the same way).
        unioned = existing.withColumn(_PRIORITY, F.lit(0)).unionByName(
            incoming, allowMissingColumns=True
        )

    order = [F.desc(_PRIORITY)]
    if version_col is not None:
        order.insert(0, F.desc_nulls_last(version_col))
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    ranked = unioned.withColumn("_rn", F.row_number().over(w))
    if flag is not None:
        # the whole group as the frame: same partitioning and order as
        # the rank, so Spark computes both in one window operator
        group = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ranked = ranked.withColumn(flag, F.max(_PRIORITY).over(group) == 1)
    return ranked.filter(F.col("_rn") == 1).drop("_rn", _PRIORITY)


def dedup_last_writer(
    df: DataFrame, keys: Sequence[str], version_col: str | None = None
) -> DataFrame:
    """Within one batch: keep the newest row per natural key.

    WITHOUT ``version_col`` there is no notion of "newest": the winner
    is a deterministic struct-max over the non-key columns (stable
    under repartitioning, unlike ``dropDuplicates``) but ARBITRARY with
    respect to write order — a frame that carries a version/timestamp
    column must pass it, or a stale row can win silently. A keys-only
    frame degenerates to plain key-distinct (all duplicate rows are
    identical)."""
    keys = list(keys)
    if version_col is not None:
        order = F.desc_nulls_last(version_col)
    else:
        non_keys = [c for c in df.columns if c not in set(keys)]
        if not non_keys:
            # every column is a key → duplicates are identical rows
            return df.dropDuplicates(keys)
        order = F.struct(*[F.col(c) for c in non_keys]).desc()
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
