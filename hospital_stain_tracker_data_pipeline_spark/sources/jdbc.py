"""JDBC sink — parity with the reference's Postgres layer
(``backend/app/db.py``, ``ingest_capacity.py:178-193``).

The lake tables (``pipeline/lake.py``) are the primary storage; these
helpers exist for deployments that keep Postgres as the serving store,
matching the reference's architecture. No database ships in this
environment, so the functions are exercised only for plan construction —
the write path mirrors the reference's single multi-row
``INSERT ... ON CONFLICT (keys) DO UPDATE`` statement per partition.

Scale notes:
- Writes batch per partition (one connection per partition, multi-row
  VALUES) — the JDBC analog of the reference's batched upsert; size
  partitions so each transaction stays in the DB's sweet spot.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

# Re-exported for sink callers: Postgres ON CONFLICT DO UPDATE raises
# 'cannot affect row a second time' if one statement touches a key
# twice, so every upsert batch MUST be key-unique first.
from ..operators.upsert import dedup_last_writer  # noqa: F401


def upsert_statement(table: str, columns: Sequence[str], keys: Sequence[str]) -> str:
    """The reference's upsert SQL shape (ingest_capacity.py:178-193):
    INSERT ... ON CONFLICT (keys) DO UPDATE SET <non-key cols>."""
    cols = ", ".join(columns)
    params = ", ".join(["%s"] * len(columns))
    conflict = ", ".join(keys)
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c not in set(keys)
    )
    return (
        f"INSERT INTO {table} ({cols}) VALUES ({params}) "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def write_jdbc_upsert(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    connect,  # Callable[[], DBAPI connection]
    batch_size: int = 1000,
    version_col: str | None = None,
) -> None:
    """Batched idempotent upsert via foreachPartition: one connection
    and one executemany per ``batch_size`` rows per partition. This is
    the distributed form of the reference's single-statement batch
    upsert — same ON CONFLICT semantics, N partitions in parallel.

    The frame is key-deduplicated (``dedup_last_writer``) before the
    write: a batch with a repeated natural key would make Postgres
    ON CONFLICT DO UPDATE raise 'cannot affect row a second time'.
    PASS ``version_col`` whenever the frame carries one — without it
    the surviving row per key is deterministic but arbitrary with
    respect to write order (struct-max of the value columns), which
    can send a stale version to the database.

    ``connect`` is a zero-arg factory returning a DBAPI connection
    (psycopg2 etc.); passed as a callable so each executor partition
    opens its own connection (connections don't serialize).
    """
    df = dedup_last_writer(df, keys, version_col)
    columns = df.columns
    sql = upsert_statement(table, columns, keys)

    def write_partition(rows) -> None:
        conn = connect()
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    batch.clear()
            if batch:
                cur.executemany(sql, batch)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.foreachPartition(write_partition)
