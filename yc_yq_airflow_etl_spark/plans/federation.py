"""The federation verification query (reference README_en.md:238-246):

.. code-block:: sql

    $a =
    select id, cast(payment_date as datetime) as pdate, 'pg' as src
      from `pg-finance`.payments
    union all
    select id, payment_date as pdate, 's3' as src from etl_object_storage;

    select dyear, src, count(1) from $a
    group by DateTime::GetYear(pdate) as dyear, src order by dyear;

Covers S1, S2, P1-P3, U1, A2, F2, F5, O1 of SURVEY.md §2 in one plan.

Scale notes: the union is projection-first (2 columns enter the
shuffle, not 8-9 — this is the 25.96 MB column-pruning behavior the
reference's engine showed), the aggregate is partial+final
(HashAggregate map-side combine), and the final sort is a
single-partition sort over ≤ #years × #sources rows: the aggregate is
coalesced to one partition and sorted within it, so the total order
costs no range exchange (no sampling job, no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import get_year, to_datetime


def federated_counts_by_year(
    hot: DataFrame,
    cold: DataFrame,
    id_col: str = "id",
    ts_col: str = "payment_date",
    hot_tag: str = "pg",
    cold_tag: str = "s3",
) -> DataFrame:
    """Union hot+cold stores, count rows per (year, source).

    Output columns: ``dyear int, src string, cnt long, id_sum long`` —
    the reference leaves the aggregate unnamed (YQL shows ``column2``);
    we alias it ``cnt`` explicitly so oracles can match.

    ``id_sum`` is a deepened pin (r12): the exact membership checksum
    of WHICH ids landed in each (year, source) cell. A row routed to
    the wrong store (hot↔cold boundary bug) or mis-dated to the
    neighboring year keeps the global total balanced — counts alone
    move in offsetting pairs — but can never preserve both cells'
    id checksums. This also restores the reference's own read width:
    its federation query scans exactly (id, payment_date) — the
    25.96 MB two-column read — so summing id costs no extra scan
    relative to the system being matched.
    """
    h = hot.select(
        F.col(id_col).alias("id"),
        to_datetime(ts_col).alias("pdate"),
        F.lit(hot_tag).alias("src"),
    )
    c = cold.select(
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("pdate"),
        F.lit(cold_tag).alias("src"),
    )
    a = h.unionByName(c)
    return (
        a.groupBy(get_year("pdate").alias("dyear"), F.col("src"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .coalesce(1)
        .sortWithinPartitions("dyear", "src")
    )


def split_hot_cold(
    df: DataFrame, ts_col: str, cold_before_year: int
) -> tuple[DataFrame, DataFrame]:
    """Split a timestamped table into a 'hot' (recent) and 'cold'
    (historical) relation — the testdata stand-in for the reference's
    PG/S3 split at the capture point (3 years cooled, 2+ hot).

    Written as a raw range predicate (not ``year(col) < y``) so it
    reaches the scan as a min/max-prunable PushedFilter — a
    year()-wrapped column defeats row-group and partition pruning."""
    boundary = F.lit(f"{cold_before_year}-01-01").cast("timestamp")
    cond: Column = F.col(ts_col) < boundary
    # a split must PARTITION the input: for a NULL timestamp both
    # `cond` and `~cond` evaluate NULL and the row would vanish from
    # both halves. Unknown-age rows stay HOT (never silently retired
    # to the cold store).
    return df.filter(~cond | F.col(ts_col).isNull()), df.filter(cond)
