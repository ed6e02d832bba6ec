"""JDBC sinks: append (K3), ensure-DDL (K4), and the custom upsert (K6).

K6 is the one sink Spark has no primitive for (reference
huggingface_extract.py:140-156 (pyc) does a per-row
``INSERT … ON CONFLICT (model_id) DO UPDATE`` round-trip). Here it's a
distributed writer: ``df.foreachPartition`` opens one DBAPI connection
per partition, sends the same ON CONFLICT statement in ``executemany``
batches, and commits per partition — N_partitions round-trip streams
instead of N_rows round-trips. The connection factory is injected (any
DBAPI2 driver: psycopg2 in production, sqlite3 in tests), so the writer
itself is engine-agnostic; only the SQL dialect fragment differs.

Scale notes:
- batch size bounds executor memory per flush; per-partition commit
  makes a retry re-write exactly one partition — combined with the
  idempotent upsert, the whole job is safely re-runnable (contrast the
  reference's P1/P2 append sinks, which duplicate on rerun).
- write parallelism = partition count: ``df.repartition(n)`` upstream
  throttles the connection fan-in to what the database can absorb.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame


def jdbc_append_options(
    url: str, table: str, driver: str, batchsize: int = 10_000
) -> dict[str, str]:
    """K3 — options for Spark's native JDBC append writer
    (``df.write.format("jdbc").options(**these).mode("append")``).
    Spark's PostgresDialect maps ArrayType(StringType) → TEXT[] natively,
    covering the reference's array columns (dags/bigbookapi.py:172-176).

    Delivery is at least once: an append is not idempotent. Spark
    inserts each partition in one transaction and rolls back a failed
    attempt, but rows committed by an attempt that Spark then runs
    again (a task lost after its commit, a speculative duplicate, a
    re-run stage, or any retry with ``isolationLevel`` ``NONE`` or on a
    database without transactions) are inserted twice, and re-running
    the whole job duplicates every row. Where a retry must converge,
    load through :class:`JdbcUpsertWriter` on a key.
    """
    return {
        "url": url,
        "dbtable": table,
        "driver": driver,
        "batchsize": str(batchsize),
        # server-side batching: rewrite multi-row INSERTs where supported
        "reWriteBatchedInserts": "true",
    }


def ensure_table_sql(table: str, columns: Sequence[tuple[str, str]], primary_key: str | None = None) -> str:
    """K4 — idempotent DDL (reference dags/bigbookapi.py:149-160)."""
    cols = [f"{name} {typ}" for name, typ in columns]
    if primary_key:
        cols.append(f"PRIMARY KEY ({primary_key})")
    return f"CREATE TABLE IF NOT EXISTS {table} (\n  " + ",\n  ".join(cols) + "\n)"


def upsert_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    paramstyle: str = "%s",
) -> str:
    """The reference's upsert statement (huggingface_extract.py:140-148
    (pyc)), parameterized: INSERT … ON CONFLICT (keys) DO UPDATE SET
    non-key = EXCLUDED.non-key. Valid for PostgreSQL and SQLite (≥3.24).
    """
    collist = ", ".join(columns)
    params = ", ".join([paramstyle] * len(columns))
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c not in key_cols
    )
    keylist = ", ".join(key_cols)
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({params}) "
        f"ON CONFLICT ({keylist}) DO UPDATE SET {updates}"
    )


class JdbcUpsertWriter:
    """K6 — distributed idempotent upsert sink.

    Parameters
    ----------
    connection_factory : picklable zero-arg callable returning a DBAPI2
        connection — executed on the executors, so it must not capture
        driver-only state (pass DSN strings, not live connections).
    table, key_cols : target table and conflict key.
    batch_size : rows per ``executemany`` flush.
    paramstyle : "%s" (psycopg2) or "?" (sqlite3).
    ensure_columns : optional DDL column list → CREATE TABLE IF NOT
        EXISTS runs once on the driver before the distributed write.
    """

    def __init__(
        self,
        connection_factory: Callable[[], Any],
        table: str,
        key_cols: Sequence[str],
        batch_size: int = 1_000,
        paramstyle: str = "%s",
        ensure_columns: Sequence[tuple[str, str]] | None = None,
    ) -> None:
        self.connection_factory = connection_factory
        self.table = table
        self.key_cols = list(key_cols)
        self.batch_size = batch_size
        self.paramstyle = paramstyle
        self.ensure_columns = list(ensure_columns or [])

    def write(self, df: DataFrame, num_partitions: int | None = None) -> None:
        """Upsert ``df`` into the target table. Empty input is a no-op
        (K7 empty-guard, reference huggingface_extract.py:121-123 (pyc)).
        """
        if df.isEmpty():
            return
        if self.ensure_columns:
            conn = self.connection_factory()
            try:
                conn.execute(
                    ensure_table_sql(
                        self.table,
                        self.ensure_columns,
                        primary_key=", ".join(self.key_cols),
                    )
                )
                conn.commit()
            finally:
                conn.close()

        if num_partitions is not None:
            df = df.repartition(num_partitions, *self.key_cols)

        sql = upsert_sql(self.table, df.columns, self.key_cols, self.paramstyle)
        factory = self.connection_factory
        batch_size = self.batch_size

        def write_partition(rows) -> None:
            conn = factory()
            try:
                cur = conn.cursor()
                batch: list[tuple] = []
                for row in rows:
                    batch.append(tuple(row))
                    if len(batch) >= batch_size:
                        cur.executemany(sql, batch)
                        batch.clear()
                if batch:
                    cur.executemany(sql, batch)
                conn.commit()
            finally:
                conn.close()

        df.foreachPartition(write_partition)
