"""Bucketed tables: pre-shuffled, co-located storage for repeated
large-×-large joins.

At 100 TB the dominant cost of ``fact ⋈ fact`` (e.g. lineitem ⋈
orders on orderkey) is the shuffle of both sides on every query. If
both tables are written bucketed by the join key into the same bucket
count, Spark's scan reports a compatible HashPartitioning and the
join plans with **zero Exchange** — the shuffle was paid once at
write time and amortized over every subsequent join.

Bucketed output requires the session catalog (``saveAsTable``); the
warehouse dir is local in tests and a lake path in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 16,
    sort_by: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Write ``df`` as catalog table ``table`` bucketed by
    ``bucket_by``: under the warehouse dir, or at ``path`` (an
    external table, whose files a DROP TABLE keeps)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key. With
    matching bucket specs this is exchange-free (verify with
    tests/test_bucketing.py's plan assertion)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
