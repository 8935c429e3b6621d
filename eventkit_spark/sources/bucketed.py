"""Bucketed managed tables: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a fact-fact join is shuffling both sides
on the key. Bucketing pays that shuffle ONCE at write time: rows are
hash-partitioned into a fixed number of buckets on disk, and every later
equi-join or aggregation on the bucket keys reads co-located bucket
pairs with NO exchange in the plan (Spark's bucketed scan reports the
hash partitioning to Catalyst, which then elides the shuffle). This is
the standard warehouse layout for repeatedly-joined event streams —
e.g. events bucketed by user_id joined against per-user aggregates.

Bucket count guidance: ~target_table_size / (buckets * replication)
should land each bucket under an executor's comfortable input split
(128-512 MB); both join sides must share the bucket count (or one be a
divisor) for the shuffle to be elided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.audit import physical_plan, shuffles


def save_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str] | str,
    buckets: int = 32,
    sort_by: list[str] | str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist ``df`` as a bucketed managed parquet table and return a
    DataFrame reading it back. Joins/aggregations on ``keys`` between
    tables bucketed with the same count plan zero shuffle exchanges."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort_by is not None:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)
    return df.sparkSession.table(table)


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def assert_colocated(df: DataFrame) -> None:
    """Assert the plan contains no shuffle exchange of any partitioning
    (hash, range, round-robin, single) — broadcast exchanges are
    allowed, since they don't move the fact side."""
    moved = shuffles(df)
    if moved:
        raise AssertionError(
            f"shuffle exchanges {dict(moved)} in supposedly co-located plan:\n"
            + physical_plan(df)
        )
