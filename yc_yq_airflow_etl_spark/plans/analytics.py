"""Analytic operator coverage over the TPC-H-ish testdata — the
SURVEY.md §2.12 extension rows (joins beyond exclusion, windows,
distinct/rollup/grouping sets, set ops, top-k, json/array functions,
approx sketches), each with a DuckDB oracle where SQL-expressible.

Numeric-parity convention (see registry docstring): money math is done
entirely in DECIMAL (exact, order-independent across partitions/
engines) and cast to DOUBLE at the output boundary; ratios/averages
are rounded to 6 decimals on both sides.

Scale notes, applied throughout:
- dimension tables (region/nation/customer/supplier/part) are
  broadcast-joined — at 100 TB the fact side never shuffles for them;
- aggregations are expressed so Catalyst plans partial+final
  HashAggregate (map-side combine before the exchange);
- top-k is ORDER BY + LIMIT, which Spark executes as TakeOrdered
  (per-partition heaps + driver merge), not a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import round6
from ..catalog import artifact, data_tag, load_testdata
from ..operators.checkpoints import materialize
from ..schemas import EVENT_PROPS
from ..session import local_frame

DEC = "decimal(18,2)"


def _dec(c: str) -> F.Column:
    return F.col(c).cast(DEC)


# --- aggregations -------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregate over lineitem with computed
    measures. Partial aggregation handles the heavy lifting; only
    (flag, status) groups cross the exchange."""
    t = load_testdata(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            round6(F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             * 1e6 + 0.5) / 1e6 AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group (Catalyst expands to a two-
    phase aggregate) — the exact twin of the approx sketch below."""
    t = load_testdata(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            # deepened pins (r9): multi-distinct in ONE aggregate
            # (Catalyst expands via Expand, one pass) + key span
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            # deepened pin (r12): the distinct SET itself, not just its
            # cardinality — one customer traded for another inside a
            # status group preserves every count; the distinct-sum
            # rides the same Expand pass for free.
            F.sum_distinct(F.col("o_custkey")).cast("long").alias(
                "custkey_distinct_sum"
            ),
        )
        .orderBy("o_orderstatus")
    )


DISTINCT_ORACLE = """
SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       count(DISTINCT o_orderpriority) AS n_priorities,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key,
       CAST(sum(DISTINCT o_custkey) AS BIGINT) AS custkey_distinct_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the scale path: HyperLogLog++ distinct
    counting and GK approximate percentiles, one pass, fixed memory,
    no exact-distinct shuffle explosion.

    Raw sketch values are engine-specific, so the error CONTRACT is
    surfaced as data instead: each group emits the exact value plus a
    boolean per sketch saying the estimate honors its published bound
    (±2% for HLL at rsd=0.01, the exact 0.49..0.51 quantile envelope
    for percentile_approx at accuracy=1000). The DuckDB twin
    recomputes the exact values and expects TRUE — a sketch drifting
    out of contract flips the boolean and fails the hash. The exact
    aggregates here are gate-only cost; the production operator is the
    sketch alone."""
    t = load_testdata(spark, sf_dir)
    g = (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", 0.01).alias("_approx"),
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.percentile_approx("o_totalprice", 0.5, 1000).alias("_p50"),
            F.expr("percentile(o_totalprice, 0.49)").alias("_lo"),
            F.expr("percentile(o_totalprice, 0.51)").alias("_hi"),
            # deepened pins (r9): group volume and an exact money sum
            # alongside the sketch contracts
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
    )
    return g.select(
        "o_orderstatus",
        "exact_customers",
        "n_orders",
        "sum_price",
        (
            F.abs(F.col("_approx") - F.col("exact_customers"))
            <= F.col("exact_customers") * 0.02
        ).alias("hll_within_2pct"),
        ((F.col("_p50") >= F.col("_lo")) & (F.col("_p50") <= F.col("_hi"))).alias(
            "p50_within_rank_eps"
        ),
    ).orderBy("o_orderstatus")


APPROX_DISTINCT_ORACLE = """
SELECT o_orderstatus,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       TRUE AS hll_within_2pct,
       TRUE AS p50_within_rank_eps
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer dim (broadcast) ⋈
    orders ⋈ lineitem with date predicates on BOTH fact scans (each
    pushed to its own parquet scan), revenue aggregate per order,
    top-10 by revenue — join + agg + TakeOrdered in one plan, the
    canonical 'give me the urgent work' analytics query."""
    t = load_testdata(spark, sf_dir)
    cutoff = F.lit("1997-06-30").cast("timestamp")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") > cutoff)
        .join(
            t["orders"].filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            # deepened pin (r11): line count behind each top order.
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
            "n_lines",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q3_ORACLE = """
SELECT l_orderkey AS o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-30'
  AND l_shipdate > TIMESTAMP '1997-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-side query — every predicate
    (date range, discount band, quantity cap) pushes to the parquet
    scan, no join, one decimal-exact global aggregate. The query whose
    entire cost at 100 TB is I/O after pruning — the benchmark of
    filter pushdown working."""
    t = load_testdata(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_rows"),
            # deepened pins (r9): the matched set itself, not just its
            # revenue — a predicate drifting off by one row or one day
            # flips these even when the money happens to round the same
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.min(F.to_date("l_shipdate")).alias("first_ship_day"),
            F.max(F.to_date("l_shipdate")).alias("last_ship_day"),
        )
    )


Q6_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue_delta,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(min(l_shipdate) AS DATE) AS first_ship_day,
       CAST(max(l_shipdate) AS DATE) AS last_ship_day
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe two-phase aggregation (operators/skew.salted_agg):
    per-type event counts AND a decimal-exact value sum, where phase 1
    spreads each key over 16 salt shards before any exchange — the
    explicit-salting shape for keys too hot even for AQE. The
    contract is exact equivalence with the plain groupBy, which IS
    the DuckDB oracle (deepened r11: the salted SUM is the harder
    half of the claim — a double would drift with shard order; the
    DECIMAL partial-merge must be bit-identical to single-pass)."""
    from ..operators.skew import salted_agg

    t = load_testdata(spark, sf_dir)
    out = salted_agg(
        t["events"],
        ["event_type"],
        # deepened pin (r12): event_id rides the same salted partial
        # merge — a salt shard that drops or double-counts a row moves
        # this exact integer even when the decimal value sum coincides
        sum_cols=("value", "event_id"),
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "cnt",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("sum_event_id").cast("bigint").alias("event_id_sum"),
    ).orderBy("event_type")


SALTED_COUNTS_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM events GROUP BY event_type ORDER BY event_type
"""


def histogram_quantile_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile store (operators/sketches.build_histogram):
    per-year equi-width histograms of order totals merged into global
    p50/p90/p99 estimates — the percentile analogue of the HLL sketch
    store, answering quantile questions after the raw partitions are
    retired. Every step is exact integer bin counts (estimate error ≤
    one bin width), so the DuckDB twin replays it exactly."""
    from ..operators.sketches import (
        build_histogram,
        histogram_quantiles,
        merge_histograms,
    )

    t = load_testdata(spark, sf_dir)
    o = t["orders"].withColumn("yr", F.year("o_orderdate"))
    per_year = build_histogram(
        o, "o_totalprice", 0.0, 600000.0, 256, group_cols=["yr"]
    )
    # materialize the merged histogram ONCE (r18, guide §5.3):
    # histogram_quantiles references its input in FOUR subtrees (the
    # total job plus one cum-filter branch per quantile) and the mass
    # pin adds a fifth — each used to re-run the full orders scan +
    # histogram aggregation. The whole point of a mergeable sketch
    # store is that the merged sheet is metadata: one eager
    # localCheckpoint of the ≤256-row sheet (coalesced to one block —
    # the downstream cum-window needs a single partition anyway) makes
    # every downstream reference metadata-scale, with one base scan
    # total. (A collect + local re-create was measured SLOWER at bench
    # SF — the driver round-trip beat five warm 150k-row scans — while
    # the checkpoint wins both locally and at scale.)
    merged = materialize(merge_histograms(per_year).coalesce(1), "merged histogram")
    # deepened pins (r13): merge LINEARITY as data — the merged
    # histogram's total mass (a lost or double-merged year's sheet
    # moves it even where the three quantile bins survive) and its
    # occupied-bin count (the merged SHAPE beyond the quantile bins);
    # both ride a broadcast 1-row cross join, never a collect
    mass = F.broadcast(
        merged.agg(
            F.sum("cnt").cast("bigint").alias("total_count"),
            F.count(F.lit(1)).cast("int").alias("n_nonempty_bins"),
            # deepened pins (r16), two classes total_count/bin-count
            # lack: EXTREMUM — the heaviest bin's mass (compensating
            # cross-bin count swaps preserve totals but move the
            # mode); PARITY — bit_xor over the occupied-bin id set (a
            # swapped pair of occupied bins preserves the count and
            # can balance the mass; xor membership can't be balanced)
            F.max("cnt").cast("bigint").alias("max_bin_count"),
            F.expr("bit_xor(bin)").cast("int").alias("bin_xor"),
        )
    )
    return (
        histogram_quantiles(merged, [0.5, 0.9, 0.99], 0.0, 600000.0, 256)
        .crossJoin(mass)
        .orderBy("q")
    )


HISTOGRAM_QUANTILES_ORACLE = """
WITH h AS (
    SELECT least(255, greatest(0,
               CAST(floor((o_totalprice - 0.0) / 600000.0 * 256) AS INT))) AS bin,
           count(*) AS cnt
    FROM orders GROUP BY 1
), c AS (
    SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM h
), n AS (
    SELECT count(*) AS total FROM orders
), mass AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS total_count,
           CAST(count(*) AS INT) AS n_nonempty_bins,
           CAST(max(cnt) AS BIGINT) AS max_bin_count,
           CAST(bit_xor(bin) AS INT) AS bin_xor
    FROM h
), pick AS (
    SELECT qs.q AS q, min(c.bin) AS bin
    FROM (VALUES (0.5), (0.9), (0.99)) qs(q), c, n
    WHERE c.cum >= ceil(n.total * qs.q)
    GROUP BY qs.q
)
SELECT CAST(p.q AS DOUBLE) AS q,
       0.0 + p.bin * (600000.0 / 256) AS estimate,
       CAST(p.bin AS INT) AS bin,
       CAST((SELECT cum FROM c WHERE c.bin = p.bin) AS BIGINT) AS cum_count,
       m.total_count, m.n_nonempty_bins, m.max_bin_count, m.bin_xor
FROM pick p, mass m ORDER BY q
"""


def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(year, status): hierarchical totals with NULL-filled
    grouping levels normalized to 'ALL' sentinels."""
    t = load_testdata(spark, sf_dir)
    o = t["orders"].select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderstatus").alias("status"),
        _dec("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
    )
    return (
        o.rollup("yr", "status")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("price").cast("double").alias("total"),
            # deepened pin (r10): grouping-set provenance — a real NULL
            # coalesced into the 'ALL' sentinel would keep yr/status
            # identical but flip lvl, and a wrong Expand (missing or
            # duplicated grouping set) shifts the lvl distribution
            F.grouping_id().cast("int").alias("lvl"),
            # deepened pin (r12): per-cell membership checksum — rows
            # landing in the wrong cell can balance every count; the
            # orderkey sum can't balance across a swap
            F.sum("okey").cast("bigint").alias("orderkey_sum"),
            # deepened pin (r15): distinct-cardinality — an independent
            # invariant CLASS: compensating row swaps can balance both
            # counts and sums, but not the per-cell distinct customer
            # set's size
            F.countDistinct("ckey").cast("bigint").alias("n_custs"),
        )
        .select(
            F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("yr"),
            F.coalesce(F.col("status"), F.lit("ALL")).alias("status"),
            "cnt",
            "total",
            "lvl",
            "orderkey_sum",
            "n_custs",
        )
        .orderBy("yr", "status")
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(priority, status): all four grouping combinations in one
    Expand + aggregate pass (completes the rollup/grouping-sets/cube
    trio from SURVEY §2.12)."""
    t = load_testdata(spark, sf_dir)
    o = t["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        _dec("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
    )
    return (
        o.cube("priority", "status")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("price").cast("double").alias("total"),
            # deepened pin (r10): same grouping-set provenance pin as
            # rollup_orders — all four CUBE levels must be present with
            # the exact (priority, status) bit order
            F.grouping_id().cast("int").alias("lvl"),
            # deepened pin (r12): per-cell membership checksum (see
            # rollup_orders)
            F.sum("okey").cast("bigint").alias("orderkey_sum"),
            # deepened pin (r15): distinct-cardinality (see
            # rollup_orders — an invariant class sums can't cover)
            F.countDistinct("ckey").cast("bigint").alias("n_custs"),
        )
        .select(
            F.coalesce(F.col("priority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("status"), F.lit("ALL")).alias("status"),
            "cnt",
            "total",
            "lvl",
            "orderkey_sum",
            "n_custs",
        )
        .orderBy("priority", "status")
    )


CUBE_ORACLE = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS cnt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
           AS lvl,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY priority, status
"""


ROLLUP_ORACLE = """
SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS cnt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS INT)
           AS lvl,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
ORDER BY yr, status
"""


# --- joins --------------------------------------------------------------


def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ snowflaked dims. Every dimension is
    explicitly broadcast — the lineitem/orders join is the only
    shuffle, on o_orderkey."""
    t = load_testdata(spark, sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        # range predicate, not year()==1997: pushes to the scan
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            # deepened pins (r9): join reach (distinct customers and
            # orders surviving the snowflake) — a dropped/duplicated
            # join row flips these even when revenue rounds the same
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            # deepened pin (r12): WHICH orders reached the group
            # through the snowflake — a row swapped between two
            # (region, nation) cells can balance both distinct counts
            # but never both cells' key checksums.
            F.sum_distinct(F.col("o_orderkey")).cast("long").alias(
                "orderkey_distinct_sum"
            ),
        )
        .orderBy("r_name", "n_name")
    )


REGION_REVENUE_ORACLE = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems,
       count(DISTINCT o_orderkey) AS n_orders,
       count(DISTINCT c_custkey) AS n_customers,
       CAST(sum(DISTINCT o_orderkey) AS BIGINT) AS orderkey_distinct_sum
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE year(o_orderdate) = 1997
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join keeping order-less customers (count = 0)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total_spent"
            ),
            # deepened pin (r10): per-customer max — count and sum can
            # both survive a swapped pair of rows across customers;
            # the envelope cannot
            F.coalesce(round6(F.max("o_totalprice")), F.lit(0.0)).alias(
                "max_order"
            ),
        )
        .orderBy("c_custkey")
    )


CUSTOMER_ORDER_STATS_ORACLE = """
SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
           AS total_spent,
       coalesce(floor(max(o_totalprice) * 1e6 + 0.5) / 1e6, 0.0)
           AS max_order
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
ORDER BY c_custkey
"""


def semi_anti_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins: per nation, customers with and
    without 1998 orders. Both joins share one shuffled build side."""
    t = load_testdata(spark, sf_dir)
    orders_98 = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    cust = t["customer"]
    with_orders = (
        cust.join(orders_98, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("with_orders"),
            # deepened pin (r11): WHO sits on each side — a customer
            # traded between semi and anti (both counts preserved)
            # moves both checksums; with + without checksums must also
            # sum to the nation's full custkey total.
            F.sum("c_custkey").alias("with_custkey_sum"),
        )
    )
    without_orders = (
        cust.join(orders_98, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("without_orders"),
            F.sum("c_custkey").alias("without_custkey_sum"),
        )
    )
    # deepened pin (r10): semi and anti must PARTITION each nation's
    # customers — n_customers is computed independently from the raw
    # table, so a row leaked into (or dropped from) either side breaks
    # the with + without = total identity the hash now carries
    totals = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return (
        with_orders.join(without_orders, "c_nationkey", "full_outer")
        .join(totals, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).alias("without_orders"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("with_custkey_sum", F.lit(0)).alias("with_custkey_sum"),
            F.coalesce("without_custkey_sum", F.lit(0)).alias(
                "without_custkey_sum"
            ),
        )
        .orderBy("c_nationkey")
    )


SEMI_ANTI_ORACLE = """
WITH w AS (
    SELECT c_nationkey, count(*) AS with_orders,
           CAST(sum(c_custkey) AS BIGINT) AS with_custkey_sum
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1998)
    GROUP BY c_nationkey
), wo AS (
    SELECT c_nationkey, count(*) AS without_orders,
           CAST(sum(c_custkey) AS BIGINT) AS without_custkey_sum
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND year(o_orderdate) = 1998)
    GROUP BY c_nationkey
), t AS (
    SELECT c_nationkey, count(*) AS n_customers FROM customer
    GROUP BY c_nationkey
)
SELECT t.c_nationkey AS c_nationkey,
       coalesce(with_orders, 0) AS with_orders,
       coalesce(without_orders, 0) AS without_orders,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(with_custkey_sum, 0) AS with_custkey_sum,
       coalesce(without_custkey_sum, 0) AS without_custkey_sum
FROM t
LEFT JOIN w ON w.c_nationkey = t.c_nationkey
LEFT JOIN wo ON wo.c_nationkey = t.c_nationkey
ORDER BY c_nationkey
"""


def cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN of two tiny relations (region × order-status
    rollup) — the only safe cardinality class for cross joins; both
    sides broadcastable. Deepened pins (r12): ``r_key`` fixes WHICH
    region row pairs with each name (grid membership was previously
    name-only), and ``status_orders`` carries each status's exact
    global order count through the grid — a wrong distinct, a
    dropped status, or a miscounted rollup now all fail the hash."""
    t = load_testdata(spark, sf_dir)
    statuses = t["orders"].groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("status_orders")
    )
    return (
        t["region"]
        .crossJoin(statuses)
        .select(
            F.col("r_regionkey").cast("int").alias("r_key"),
            "r_name",
            F.col("o_orderstatus").alias("status"),
            "status_orders",
        )
        .orderBy("r_name", "status")
    )


CROSS_JOIN_ORACLE = """
SELECT CAST(r_regionkey AS INTEGER) AS r_key, r_name,
       o_orderstatus AS status, status_orders
FROM region CROSS JOIN (
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS status_orders
    FROM orders GROUP BY 1
)
ORDER BY r_name, status
"""


# --- window functions ---------------------------------------------------


def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows (row_number/rank) with deterministic tiebreak;
    rn <= 3 filter is pushed into a WindowGroupLimit by Catalyst, so
    each partition keeps a top-3 heap instead of fully sorting."""
    t = load_testdata(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            # deepened pin (r10): the third ranking variant — dense_rank
            # differs from rank exactly on tie runs, so the trio pins
            # tie semantics; same window spec, WindowGroupLimit intact
            F.dense_rank().over(w).alias("drk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


WINDOW_TOP_ORACLE = """
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER w AS INT) AS rn,
           CAST(rank() OVER w AS INT) AS rk,
           CAST(dense_rank() OVER w AS INT) AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
)
WHERE rn <= 3 ORDER BY o_custkey, rn
"""


def window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running DECIMAL sum + lag over each
    customer's order history."""
    t = load_testdata(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec("o_totalprice")).over(run).cast("double").alias("running_total"),
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
            F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_orderkey, 1) OVER w AS next_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


def range_frame_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based window frames (RANGE, not ROWS): each order's
    trailing-90-day revenue for its customer. A ROWS frame cannot
    express this — customers place several orders per day and have
    multi-month gaps, so "the last k rows" is not "the last 90 days".
    The frame orders by an epoch-day integer and spans
    ``rangeBetween(-89, 0)``; RANGE frames include ALL peers of the
    boundary values, which also makes the sum deterministic under
    same-day ties without any tiebreak column. One hash exchange on
    o_custkey + one sort — identical plan shape to a ROWS frame; the
    frame kind only changes the running-buffer logic inside the window
    operator, not the shuffle structure, so it scales the same way."""
    t = load_testdata(spark, sf_dir)
    o = t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("day_num"),
        _dec("o_totalprice").alias("_price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-89, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day_num",
        F.sum("_price").over(w).cast("double").alias("trailing_90d_revenue"),
        # deepened pins (r11): the frame's EXTENT, not just its sum.
        # n_in_frame pins RANGE-includes-peers — two same-day orders
        # must count each other (a ROWS frame or a broken peer rule
        # changes the count even where the sum survives rounding);
        # frame_min_day pins the -89 lower bound exactly (an
        # off-by-one frame start moves it on every customer with a
        # >90-day order history).
        F.count(F.lit(1)).over(w).cast("int").alias("n_in_frame"),
        F.min("day_num").over(w).cast("int").alias("frame_min_day"),
    ).orderBy("o_custkey", "o_orderkey")


RANGE_FRAME_ORACLE = """
WITH o AS (
    SELECT o_custkey, o_orderkey,
           date_diff('day', DATE '1992-01-01',
                     CAST(o_orderdate AS DATE)) AS day_num,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
)
SELECT o_custkey, o_orderkey, CAST(day_num AS INT) AS day_num,
       CAST(sum(price) OVER (
            PARTITION BY o_custkey ORDER BY day_num
            RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS trailing_90d_revenue,
       CAST(count(*) OVER (
            PARTITION BY o_custkey ORDER BY day_num
            RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS INT)
           AS n_in_frame,
       CAST(min(day_num) OVER (
            PARTITION BY o_custkey ORDER BY day_num
            RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS INT)
           AS frame_min_day
FROM o
ORDER BY o_custkey, o_orderkey
"""


def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranking (ntile) done scale-correctly: spend
    quartiles are computed WITHIN each nation — a partitioned window —
    never as one global ntile, whose single un-partitioned sort
    serializes the whole table into one task at 100 TB. (A global
    quartile at scale would instead bucket against approx-quantile
    boundaries — no total order needed.) Tiebreak (spend desc,
    custkey asc) pinned on both sides so tile edges agree exactly."""
    t = load_testdata(spark, sf_dir)
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("_spend"))
        .join(
            F.broadcast(
                t["customer"].select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("_spend").desc(), F.col("o_custkey").asc()
    )
    tiled = spend.select(
        "c_nationkey", "o_custkey", "_spend", F.ntile(4).over(w).alias("quartile")
    )
    return (
        tiled.groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("_spend").cast("double").alias("total_spend"),
            F.min("_spend").cast("double").alias("min_spend"),
            # deepened pins (r11): tile MEMBERSHIP, not just tile
            # aggregates. custkey_sum is an exact integer checksum of
            # who landed in the tile — a tie at a quartile boundary
            # resolved by the wrong tiebreak swaps two customers
            # between tiles, preserving n_customers (and often the
            # rounded spends) but never both tiles' checksums.
            # max_spend pins the tile's upper edge against the
            # neighbor's min_spend.
            F.sum("o_custkey").alias("custkey_sum"),
            F.max("_spend").cast("double").alias("max_spend"),
        )
        .orderBy("c_nationkey", "quartile")
    )


NTILE_QUARTILES_ORACLE = """
WITH spend AS (
    SELECT o_custkey, c_nationkey,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
), tiled AS (
    SELECT c_nationkey, o_custkey, spend,
           CAST(ntile(4) OVER (PARTITION BY c_nationkey
                               ORDER BY spend DESC, o_custkey ASC) AS INT)
               AS quartile
    FROM spend
)
SELECT c_nationkey, quartile, count(*) AS n_customers,
       CAST(sum(spend) AS DOUBLE) AS total_spend,
       CAST(min(spend) AS DOUBLE) AS min_spend,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
       CAST(max(spend) AS DOUBLE) AS max_spend
FROM tiled GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- sorts / top-k / set ops -------------------------------------------


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 by price: ORDER BY + LIMIT → TakeOrderedAndProject
    (no global sort; unique-key tiebreak keeps it deterministic).
    Deepened pin (r10): the driver's value hash is ORDER-INSENSITIVE,
    so the top-k's actual ranking was previously unpinned — `rn` makes
    the order itself data. Computed AFTER the limit (a 20-row window,
    not a global sort), so the scan plan stays TakeOrderedAndProject."""
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir)
    top = (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20)
    )
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return top.withColumn("rn", F.row_number().over(w).cast("int"))


TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
            AS INT) AS rn
FROM (SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20)
"""


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct semantics in both engines):
    BUILDING-segment customers vs customers with 1998 orders."""
    t = load_testdata(spark, sf_dir)
    building = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    active98 = (
        t["orders"].filter(F.year("o_orderdate") == 1998).select(
            F.col("o_custkey").alias("c_custkey")
        )
    )
    both = building.intersect(active98).withColumn("tag", F.lit("both"))
    only_building = building.exceptAll(active98.distinct()).distinct().withColumn(
        "tag", F.lit("building_only")
    )
    # deepened pin (r10): the third partition class — EXCEPT in the
    # other direction — completes the set algebra: the three tags now
    # partition distinct(building ∪ active98), so a key leaking across
    # any set-op boundary lands in the wrong class (or two classes)
    # and flips the hash
    only_active = active98.subtract(building).withColumn(
        "tag", F.lit("active98_only")
    )
    return (
        both.unionByName(only_building)
        .unionByName(only_active)
        .orderBy("tag", "c_custkey")
    )


SET_OPS_ORACLE = """
WITH building AS (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), active98 AS (
    SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 1998
)
SELECT c_custkey, 'both' AS tag FROM (
    SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM active98)
UNION ALL
SELECT c_custkey, 'building_only' AS tag FROM (
    SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM active98)
UNION ALL
SELECT c_custkey, 'active98_only' AS tag FROM (
    SELECT c_custkey FROM active98 EXCEPT SELECT c_custkey FROM building)
ORDER BY tag, c_custkey
"""


# --- json / array functions --------------------------------------------


def json_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json over the events props payload + grouped aggregation
    of an extracted field."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].withColumn("k", F.from_json("props", EVENT_PROPS).getField("k"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            # deepened pins (r9): parse-miss count (from_json's
            # null-on-absent must agree with the oracle's regex miss)
            # and per-type reach
            F.min("k").alias("min_k"),
            F.sum(F.col("k").isNull().cast("bigint")).alias("n_null_k"),
            F.countDistinct("user_id").alias("n_users"),
            # deepened pin (r12): per-type event membership — an event
            # parsed under the wrong type (or dropped by a bad parse)
            # can balance counts between two types but not both id
            # checksums.
            F.sum("event_id").cast("long").alias("event_id_sum"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS max_k,
       min(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS min_k,
       CAST(sum(CASE WHEN TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1)
                              AS BIGINT) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM events GROUP BY event_type ORDER BY event_type
"""


def json_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingest audit — the quarantine-count every
    real JSON ingest runs before trusting a feed: a deterministic
    subset of the events props payloads is corrupted in-flight
    (event_id % 7 == 0 → the closing brace is truncated, the same
    transformation the oracle applies), then one pass counts parsed
    vs malformed per event type and aggregates the salvageable field
    from the PARSED remainder only. from_json's null-on-malformed is
    the PERMISSIVE-mode contract — a bad record must never kill the
    scan, only land in the reject counts. Map-only + partial-agg
    rollup; no Python, no shuffle before the group-by."""
    t = load_testdata(spark, sf_dir)
    corrupted = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 1),
    ).otherwise(F.col("props"))
    parsed = F.from_json(corrupted, EVENT_PROPS)
    return (
        t["events"]
        .select("event_type", "event_id", parsed.getField("k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
            F.sum(F.col("k").isNull().cast("int"))
            .cast("bigint")
            .alias("n_malformed"),
            F.sum("k").cast("bigint").alias("sum_k_parsed"),
            # deepened pin (r13): WHICH records quarantined — a parser
            # rejecting the right NUMBER of wrong records per type
            # passes the counts; the reject-set id checksum does not
            F.sum(F.when(F.col("k").isNull(), F.col("event_id")))
            .cast("bigint")
            .alias("malformed_id_sum"),
        )
        .orderBy("event_type")
    )


JSON_MALFORMED_ORACLE = """
WITH c AS (
    SELECT event_type, event_id,
           CASE WHEN event_id % 7 = 0
                THEN substr(props, 1, length(props) - 1)
                ELSE props END AS props
    FROM events
)
SELECT event_type,
       count(*) AS n_records,
       CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT)
           AS n_malformed,
       CAST(sum(CASE WHEN json_valid(props)
                     THEN CAST(json_extract(props, '$.k') AS BIGINT)
                     END) AS BIGINT) AS sum_k_parsed,
       CAST(sum(CASE WHEN NOT json_valid(props) THEN event_id END)
            AS BIGINT) AS malformed_id_sum
FROM c GROUP BY event_type ORDER BY event_type
"""


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view → click after first view →
    purchase after that click): per-user stage timestamps computed as
    CASCADED tiny aggregates — stage N's per-user min-time joins back
    to the events ONCE to qualify stage N+1 — never by buffering a
    user's whole event history in one task (the collect_list
    formulation a hot user breaks at 100 TB). Each stage is a
    partial-aggregated groupBy on user_id plus an AQE-broadcastable
    join of a shrinking user set; timestamps compare at SECOND
    granularity on both engines (the testdata's ts physical type is
    ns in DuckDB, µs in Spark — sub-second comparisons would tie-break
    differently)."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].select(
        "user_id", F.unix_timestamp("ts").alias("ep"), "event_type"
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ep").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ep") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ep") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t_purchase"))
    )
    return (
        ev.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
        .crossJoin(
            v.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_viewed"),
                # deepened pins (r11): per-stage MEMBERSHIP checksums —
                # a user qualifying the wrong stage (a > that became
                # >=, a min over the wrong event set) swaps members
                # between stages while the counts can survive.
                F.sum("user_id").alias("viewed_id_sum"),
                # deepened pin (r14): the stage TIMES themselves — a
                # min over a superset (e.g. clicks no longer gated on
                # t_view) can keep the same member set but move some
                # users' stage timestamps; the id sums are blind to it.
                F.sum("t_view").cast("bigint").alias("viewed_t_sum"),
            )
        )
        .crossJoin(
            c.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_clicked_after_view"),
                F.sum("user_id").alias("clicked_id_sum"),
                F.sum("t_click").cast("bigint").alias("clicked_t_sum"),
            )
        )
        .crossJoin(
            p.agg(
                F.count(F.lit(1))
                .cast("bigint")
                .alias("n_purchased_after_click"),
                F.sum("user_id").alias("purchased_id_sum"),
                F.sum("t_purchase").cast("bigint").alias("purchased_t_sum"),
            )
        )
    )


EVENT_FUNNEL_ORACLE = """
WITH e AS (
    SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ep,
           event_type
    FROM events
), v AS (
    SELECT user_id, min(ep) AS t_view FROM e
     WHERE event_type = 'view' GROUP BY 1
), c AS (
    SELECT e.user_id, min(e.ep) AS t_click
      FROM e JOIN v USING (user_id)
     WHERE e.event_type = 'click' AND e.ep > v.t_view GROUP BY 1
), p AS (
    SELECT e.user_id, min(e.ep) AS t_purchase
      FROM e JOIN c USING (user_id)
     WHERE e.event_type = 'purchase' AND e.ep > c.t_click GROUP BY 1
)
SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
       (SELECT count(*) FROM v) AS n_viewed,
       (SELECT CAST(sum(user_id) AS BIGINT) FROM v) AS viewed_id_sum,
       (SELECT CAST(sum(t_view) AS BIGINT) FROM v) AS viewed_t_sum,
       (SELECT count(*) FROM c) AS n_clicked_after_view,
       (SELECT CAST(sum(user_id) AS BIGINT) FROM c) AS clicked_id_sum,
       (SELECT CAST(sum(t_click) AS BIGINT) FROM c) AS clicked_t_sum,
       (SELECT count(*) FROM p) AS n_purchased_after_click,
       (SELECT CAST(sum(user_id) AS BIGINT) FROM p) AS purchased_id_sum,
       (SELECT CAST(sum(t_purchase) AS BIGINT) FROM p) AS purchased_t_sum
"""


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the lakehouse QA pass that feeds catalogs
    and anomaly alerts: per column of orders, row count, null count,
    exact distinct count, and min/max (as strings, so one schema fits
    numeric and text columns). All four columns profile in ONE job
    over one scan: the per-column aggregates are independent
    expressions in a single groupBy-less agg, so Spark computes them
    in a single partial+final pass — at 100 TB this is one read, not
    four. Exact distincts (not approx) so DuckDB matches bit-for-bit;
    the approx path is pinned separately by approx_distinct_customers.
    Routed through the GUARDED :func:`~..operators.profiling.
    profile_columns` (oversize='error' default): a 100×-scale caller
    cannot silently pick this exact-NDV plan — past the row limit it
    fails loudly toward the HLL route table_profile_approx pins."""
    from ..operators.profiling import profile_columns

    t = load_testdata(spark, sf_dir)
    return profile_columns(
        t["orders"],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    ).drop("ndv_exact")


TABLE_PROFILE_ORACLE = """
SELECT 'o_orderkey' AS col, count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_s,
       CAST(max(o_orderkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_custkey', count(*),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_custkey),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderstatus),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_totalprice),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
ORDER BY col
"""


def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table_profile``'s 100×-default twin: the same one-scan
    profiling pass with the NDV column computed by HyperLogLog++
    (``approx_count_distinct``, rsd=0.02) instead of exact
    ``count_distinct``. At 100 TB the exact variant pays one extra
    shuffle PER PROFILED COLUMN (each count_distinct is its own
    distinct aggregation path — Spark expands multi-distinct into a
    grouping-id union); the HLL sketch is a fixed-size accumulator
    folded in the same partial+final pass as count/nulls/min/max, so
    the whole profile stays one map-side-combined scan regardless of
    column count or cardinality. Sketch values are engine-specific,
    so (same contract pattern as ``approx_distinct_customers``) the
    output pins the exact NDV next to a boolean asserting the HLL
    estimate honors a ±5% (2.5σ at rsd=0.02; observed ≤2.1% on every
    fixture SF) bound — the DuckDB twin
    recomputes the exact side and expects TRUE. The exact column here
    is gate-only cost; the production operator ships the sketch
    alone."""
    t = load_testdata(spark, sf_dir)
    o = t["orders"]
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    # TWO separate Aggregate nodes, deliberately: mixing exact
    # count_distinct with approx_count_distinct in ONE agg makes
    # Spark's multi-distinct rewrite drag every HLL through the
    # gid-Expand path — sketches get computed per (all profiled
    # columns, gid) GROUP over 5x-expanded rows (measured 160s at
    # sf0.1 vs <1s for the split). The approx pass is the single
    # partial+final scan the sketch promises; the exact pass is
    # table_profile's known shape, kept only as the gate. Both 1-row
    # aggs fuse into ONE plan via a 1×1 crossJoin (each keeps its own
    # Aggregate subtree, so the Expand isolation holds) and the
    # unpivot is an in-plan stack() — no driver-side materialization.
    from ..operators.profiling import (
        profile_ndv_aggs,
        profile_stack_expr,
        profile_stats_aggs,
    )

    approx_aggs = [
        F.approx_count_distinct(o[c], 0.02)
        .cast("bigint")
        .alias(f"c{i}__andv")
        for i, c in enumerate(cols)
    ]
    # r17 split (same 2-scan count as before, zero sorts): the HLL
    # sketches are fixed-buffer aggregates, so they fold into the SAME
    # keyless pass as count/nulls/min/max; the exact-NDV gate rides
    # its own agg subtree with no string min/max buffer, so its
    # multi-distinct Expand hash-aggregates (map-side dedup) instead
    # of the 3-sort SortAggregate chain the fused form compiled to.
    wide = o.agg(*profile_stats_aggs(o, cols), *approx_aggs).crossJoin(
        o.agg(*profile_ndv_aggs(o, cols, F.count_distinct))
    )
    return wide.selectExpr(
        profile_stack_expr(
            cols,
            "col, n_rows, n_nulls, n_distinct, ndv_within_5pct, "
            "min_s, max_s",
            lambda i: f"abs(c{i}__andv - c{i}__ndv) <= c{i}__ndv * 0.05",
        )
    ).orderBy("col")


TABLE_PROFILE_APPROX_ORACLE = """
SELECT 'o_orderkey' AS col, count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       TRUE AS ndv_within_5pct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_s,
       CAST(max(o_orderkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_custkey', count(*),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_custkey), TRUE,
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderstatus), TRUE,
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_totalprice), TRUE,
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
ORDER BY col
"""


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the cross-table QA gate a
    pipeline runs before publishing: for each FK relationship, the
    child row count, the orphan count (child keys with no parent —
    LEFT ANTI join, AQE broadcasts the distinct-parent side when
    small, skew-splits when not), and distinct orphan keys. The
    testdata is integral by construction, so a third relationship is
    audited against a parent SUBSET (customers outside segment
    'BUILDING') to prove the probe actually counts orphans when they
    exist — all three rows pinned by the oracle."""
    t = load_testdata(spark, sf_dir)

    def audit(name, child, ck, parent, pk):
        orphans = child.join(
            parent.select(F.col(pk).alias(ck)).distinct(), [ck], "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
                    F.count_distinct(F.col(ck))
                    .cast("bigint")
                    .alias("n_orphan_keys"),
                    # deepened pin (r12): WHICH keys are orphaned, not
                    # just how many — a distinct-key checksum (0 when
                    # the relation is integral)
                    F.coalesce(F.sum_distinct(F.col(ck)), F.lit(0))
                    .cast("bigint")
                    .alias("orphan_key_sum"),
                )
            )
            .select(F.lit(name).alias("relationship"), "n_child", "n_orphans",
                    "n_orphan_keys", "orphan_key_sum")
        )

    r1 = audit(
        "orders->customer", t["orders"], "o_custkey", t["customer"],
        "c_custkey",
    )
    r2 = audit(
        "lineitem->orders", t["lineitem"], "l_orderkey", t["orders"],
        "o_orderkey",
    )
    r3 = audit(
        "orders->customer_nonbuilding",
        t["orders"],
        "o_custkey",
        t["customer"].filter(F.col("c_mktsegment") != "BUILDING"),
        "c_custkey",
    )
    return r1.unionByName(r2).unionByName(r3).orderBy("relationship")


FK_INTEGRITY_ORACLE = """
SELECT 'orders->customer' AS relationship,
       (SELECT count(*) FROM orders) AS n_child,
       (SELECT count(*) FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
           AS n_orphans,
       (SELECT count(DISTINCT o_custkey) FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
           AS n_orphan_keys,
       (SELECT CAST(coalesce(sum(DISTINCT o_custkey), 0) AS BIGINT)
          FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
           AS orphan_key_sum
UNION ALL
SELECT 'lineitem->orders',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
       (SELECT count(DISTINCT l_orderkey) FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
       (SELECT CAST(coalesce(sum(DISTINCT l_orderkey), 0) AS BIGINT)
          FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
UNION ALL
SELECT 'orders->customer_nonbuilding',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                  WHERE c_mktsegment <> 'BUILDING')),
       (SELECT count(DISTINCT o_custkey) FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                  WHERE c_mktsegment <> 'BUILDING')),
       (SELECT CAST(coalesce(sum(DISTINCT o_custkey), 0) AS BIGINT)
          FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                  WHERE c_mktsegment <> 'BUILDING'))
ORDER BY relationship
"""


def array_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed column handling: per-vector dimension, L2 norm and
    mean via higher-order functions (JVM-side aggregate/transform — no
    Python in the loop)."""
    t = load_testdata(spark, sf_dir)
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)
    el_sum = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x)
    return t["embeddings"].select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        round6(F.sqrt(sq_sum)).alias("l2_norm"),
        round6(el_sum / F.size("embedding")).alias("mean_val"),
        # deepened pins (r10): elementwise extrema — norm and mean can
        # collide under sign flips or element permutes-with-replace;
        # min/max pin the actual value envelope per vector
        round6(F.array_min(vec)).alias("min_val"),
        round6(F.array_max(vec)).alias("max_val"),
    ).orderBy("vec_id")


ARRAY_STATS_ORACLE = """
SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim,
       floor(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1e6 + 0.5) / 1e6
           AS l2_norm,
       floor(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             / len(embedding) * 1e6 + 0.5) / 1e6 AS mean_val,
       floor(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS min_val,
       floor(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS max_val
FROM embeddings ORDER BY vec_id
"""


def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    ≡ DuckDB ``quantile_cont``), routed through the GUARDED
    :func:`~..operators.profiling.grouped_percentiles`
    (oversize='error' default): a 100×-scale caller cannot silently
    pick the per-group-materializing exact plan — past the row limit
    it fails loudly toward the percentile_approx sketch route."""
    from ..operators.profiling import grouped_percentiles

    t = load_testdata(spark, sf_dir)
    gp = grouped_percentiles(
        t["orders"],
        "o_totalprice",
        ["o_orderstatus"],
        probs=(0.25, 0.5, 0.75),
        extra_aggs=[
            round6(F.min("o_totalprice")).alias("lo"),
            round6(F.max("o_totalprice")).alias("hi"),
            # deepened pin (r10): group size — interpolated quantiles
            # can coincide under a dropped/duplicated row; the count
            # cannot
            F.count(F.lit(1)).alias("n"),
            # deepened pin (r12): exact integer cents sum — pins the
            # group's full value multiset, not just its order
            # statistics (quantiles + envelope leave interior values
            # free to drift)
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents_sum"),
        ],
    )
    return gp.select(
        "o_orderstatus",
        round6("p25").alias("p25"),
        round6("p50").alias("p50"),
        round6("p75").alias("p75"),
        "lo",
        "hi",
        "n",
        "cents_sum",
    ).orderBy("o_orderstatus")


PERCENTILE_ORACLE = """
SELECT o_orderstatus,
       floor(quantile_cont(o_totalprice, 0.25) * 1e6 + 0.5) / 1e6 AS p25,
       floor(quantile_cont(o_totalprice, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
       floor(quantile_cont(o_totalprice, 0.75) * 1e6 + 0.5) / 1e6 AS p75,
       floor(min(o_totalprice) * 1e6 + 0.5) / 1e6 AS lo,
       floor(max(o_totalprice) * 1e6 + 0.5) / 1e6 AS hi,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint single-dimension totals —
    the shape ROLLUP/CUBE can't express)."""
    load_testdata(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(CAST(year(o_orderdate) AS STRING), 'ALL') AS yr,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS cnt,
               -- deepened pin (r10): grouping-set provenance, same
               -- contract as rollup_orders/cube_orders
               CAST(grouping(year(o_orderdate)) * 2
                    + grouping(o_orderstatus) AS INT) AS lvl,
               -- deepened pin (r12): per-cell membership checksum,
               -- same contract as rollup_orders/cube_orders
               CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum,
               -- deepened pin (r15): distinct-cardinality (see
               -- rollup_orders)
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        FROM orders
        GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderstatus), ())
        ORDER BY yr, status
        """
    )


GROUPING_SETS_ORACLE = """
SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS cnt,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS INT)
           AS lvl,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderstatus), ())
ORDER BY yr, status
"""


def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts as a (year × status) matrix. The status
    value list is fixed so the output schema is static (dynamic pivot
    would require a pre-pass to discover columns — an anti-pattern at
    scale)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["orders"]
        .select(F.year("o_orderdate").alias("yr"), "o_orderstatus")
        .groupBy("yr")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "yr",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        # completeness pin (r9): Spark derives the total from the
        # pivoted columns, the oracle counts ALL rows — a status value
        # outside the fixed pivot list diverges the two and fails the
        # hash, catching silent row loss a static value list can hide
        .withColumn(
            "n_total", F.col("n_f") + F.col("n_o") + F.col("n_p")
        )
        # membership pin (r12): the per-year orderkey checksum ties the
        # pivot cells to the EXACT set of orders behind them — counts
        # alone can balance while rows land in the wrong year. Computed
        # as a separate ~7-row rollup broadcast back onto the pivot.
        .join(
            F.broadcast(
                t["orders"]
                .groupBy(F.year("o_orderdate").alias("yr"))
                .agg(F.sum("o_orderkey").cast("bigint").alias("orderkey_sum"))
            ),
            "yr",
        )
        .orderBy("yr")
    )


PIVOT_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       count(*) FILTER (o_orderstatus = 'F') AS n_f,
       count(*) FILTER (o_orderstatus = 'O') AS n_o,
       count(*) FILTER (o_orderstatus = 'P') AS n_p,
       count(*) AS n_total,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum
FROM orders GROUP BY 1 ORDER BY yr
"""


def explode_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (lateral array flatten): per-dimension mean/extrema
    across all embedding vectors — the array-to-rows direction the
    UDTF/array queries don't cover."""
    t = load_testdata(spark, sf_dir)
    flat = t["embeddings"].select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "val"
        ),
    )
    return (
        flat.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round6(F.avg("val")).alias("mean_val"),
            round6(F.min("val")).alias("min_val"),
            round6(F.max("val")).alias("max_val"),
            # deepened pin (r9): exact integer sign count — immune to
            # the float-rounding slack the 6-decimal rounds allow
            F.sum((F.col("val") >= 0).cast("bigint")).alias("n_nonneg"),
            # deepened pin (r12): WHICH vectors are non-negative at
            # each dim, not just how many — an id-weighted checksum
            # catches sign flips that happen to cancel in the count
            F.sum(F.when(F.col("val") >= 0, F.col("vec_id")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("nonneg_id_sum"),
        )
        .orderBy("dim")
    )


EXPLODE_DIMS_ORACLE = """
WITH flat AS (
    SELECT vec_id,
           unnest(list_zip(embedding,
                           generate_series(1, len(embedding)))) AS p
    FROM embeddings
)
SELECT CAST(p[2] - 1 AS INTEGER) AS dim, count(*) AS n,
       floor(avg(CAST(p[1] AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mean_val,
       floor(min(CAST(p[1] AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS min_val,
       floor(max(CAST(p[1] AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS max_val,
       CAST(sum(CASE WHEN CAST(p[1] AS DOUBLE) >= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nonneg,
       CAST(sum(CASE WHEN CAST(p[1] AS DOUBLE) >= 0 THEN vec_id ELSE 0 END)
            AS BIGINT) AS nonneg_id_sum
FROM flat GROUP BY 1 ORDER BY dim
"""


def correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above their own
    customer's average. Catalyst decorrelates this into an aggregate +
    join (no per-row re-execution) — the §4 'subquery decorrelation'
    row, observable in the plan as a single extra aggregate."""
    load_testdata(spark, sf_dir)
    # The correlated average is computed DECIMAL-exact (sum of
    # DECIMAL(18,2), one double division at the end) on both engines:
    # a plain avg() over doubles sums in engine-specific order and the
    # 6-decimal round sits on a rounding boundary often enough to be a
    # latent cross-engine flake (r10 ADVICE) — this matches the
    # decimal-exact convention every other money aggregate here uses.
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice,
               -- deepened pin (r10): the correlated scalar ITSELF —
               -- the filter only proves price > avg; emitting the avg
               -- pins the decorrelated aggregate's actual values
               round((SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                                  AS DOUBLE) / count(*)
                      FROM orders i
                      WHERE i.o_custkey = o.o_custkey), 6) AS cust_avg
        FROM orders o
        WHERE o_totalprice > (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) / count(*)
            FROM orders i
            WHERE i.o_custkey = o.o_custkey
        )
        ORDER BY o_orderkey
        """
    )


CORRELATED_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       round((SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) / count(*)
              FROM orders i
              WHERE i.o_custkey = o.o_custkey), 6) AS cust_avg
FROM orders o
WHERE o_totalprice > (
    SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DOUBLE) / count(*)
    FROM orders i
    WHERE i.o_custkey = o.o_custkey
)
ORDER BY o_orderkey
"""


def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join cross-validated against DuckDB's native ASOF JOIN:
    for each click event, the user's latest purchase at-or-before the
    click (operators/joins.asof_join — union+window, one shuffle)."""
    from ..operators.joins import asof_join

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(clicks, purchases, on_time="ts", by=["user_id"])
    return out.select(
        "click_id",
        "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        "r_purchase_value",
        F.unix_timestamp("r_ts").alias("purchase_epoch"),
    ).orderBy("click_id")


def asof_click_purchase_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same as-of query through the hot-key-safe two-phase
    formulation (operators/joins.asof_join with ``bucket_width``):
    window partitions are (user, day-bucket) instead of (user), so a
    single pathological user cannot produce a straggler task. Same
    oracle as ``asof_click_purchase`` — the two plans must agree."""
    from ..operators.joins import asof_join

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(
        clicks, purchases, on_time="ts", by=["user_id"], bucket_width=86400.0
    )
    return out.select(
        "click_id",
        "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        "r_purchase_value",
        F.unix_timestamp("r_ts").alias("purchase_epoch"),
    ).orderBy("click_id")


ASOF_ORACLE = """
WITH clicks AS (
    -- explicit ns→µs floor: the ASOF comparison below must run at
    -- the SAME precision Spark reads (parquet ns truncate to µs) —
    -- comparing at raw ns could split the engines for a pair within
    -- 1 µs of equality
    SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
           event_id AS click_id FROM events
    WHERE event_type = 'click'
), purchases AS (
    SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
           value AS purchase_value FROM events
    WHERE event_type = 'purchase'
)
SELECT c.click_id, c.user_id,
       CAST(epoch_us(c.ts) // 1000000 AS BIGINT) AS click_epoch,
       p.purchase_value AS r_purchase_value,
       CAST(epoch_us(p.ts) // 1000000 AS BIGINT) AS purchase_epoch
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND p.ts <= c.ts
ORDER BY c.click_id
"""


def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/joins.range_join): bucket
    every order's o_totalprice into fixed 50k-wide bands and
    aggregate. The band table is tiny and explicitly broadcast, so
    the physical plan is a BroadcastNestedLoopJoin — no shuffle of
    the fact side; at 100 TB the alternative equi-join form (via a
    computed bucket key) is one `floor(price/50000)` away."""
    t = load_testdata(spark, sf_dir)
    from ..operators.joins import range_join

    bands = local_frame(
        spark,
        [(i, i * 50_000.0, (i + 1) * 50_000.0) for i in range(10)],
        "band bigint, lo double, hi double",
    )
    joined = range_join(t["orders"], F.broadcast(bands), "o_totalprice", "lo", "hi")
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            # deepened pin (r11): exact band-membership checksum — an
            # order landing in the adjacent band at a boundary (>= vs
            # > drift) moves it even when counts/sums round the same.
            F.sum("o_orderkey").alias("orderkey_sum"),
        )
        .orderBy("band")
    )


RANGE_JOIN_ORACLE = """
SELECT b.band AS band, count(*) AS n,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(sum(o.o_orderkey) AS BIGINT) AS orderkey_sum
FROM orders o
JOIN (SELECT i AS band, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
      FROM range(10) t(i)) b
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY 1 ORDER BY band
"""


def range_join_price_bands_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same range join through the equi-key rewrite
    (operators/joins.bucketed_range_join): bands exploded into the
    25k-wide buckets they cover, orders keyed by
    ``floor(price/25000)``, hash equi-join on the bucket + residual
    range filter. Identical result to ``range_join_price_bands``
    (same oracle — the two plans must agree), but the physical plan is
    a broadcast HASH join, never a nested-loop: this is the form that
    survives an interval side too large to broadcast, where the
    non-equi original would go quadratic. Plan-audited
    ``!BroadcastNestedLoopJoin`` in test_plan_properties. The
    deliberately off-width bucket (25k against 50k bands — each band
    explodes into 2 buckets) exercises the multi-bucket explosion
    path, not just the width-aligned 1:1 case."""
    t = load_testdata(spark, sf_dir)
    from ..operators.joins import bucketed_range_join

    bands = local_frame(
        spark,
        [(i, i * 50_000.0, (i + 1) * 50_000.0) for i in range(10)],
        "band bigint, lo double, hi double",
    )
    joined = bucketed_range_join(
        t["orders"].select("o_orderkey", "o_totalprice"),
        F.broadcast(bands),
        "o_totalprice",
        "lo",
        "hi",
        bucket_width=25_000.0,
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            # same r11 membership pin as the nested-loop twin — the
            # two formulations must serve identical band contents.
            F.sum("o_orderkey").alias("orderkey_sum"),
        )
        .orderBy("band")
    )


def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor-in-time join — the two-sided sibling of the
    backward as-of: each purchase links to the click closest in time
    (either direction) within ±1 hour, ties to the earlier click.
    Attribution and sensor-alignment pipelines need this exact shape,
    and a backward-only as-of silently mislinks a purchase that
    happened seconds BEFORE its triggering click lands in the log.

    One pass, no join operator (operators/joins.nearest_join): clicks
    and purchases union into one frame per user ordered by time, a
    backward window carries the latest click at-or-before each row
    and a forward window the earliest click at-or-after, then a
    scalar CASE picks the nearer candidate. Cost = one shuffle on
    user_id + one sort — same as a single as-of. Time comparisons
    run at EXPLICIT µs epochs on both engines (unix_micros here,
    epoch_ns//1000 in the oracle — the exact ns→µs floor Spark's
    parquet read applies), so the nearest/tie decisions are
    structurally engine-equal at full precision — no dependence on
    fixture margins from boundaries."""
    from ..operators.joins import nearest_join

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("epoch"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("epoch"),
        F.col("event_id").alias("purchase_id"),
    )
    out = nearest_join(
        purchases, clicks, on_time="epoch", by=["user_id"],
        tolerance=3_600_000_000,
    )
    return (
        out.select(
            "purchase_id",
            "user_id",
            F.col("r_click_id").alias("click_id"),
            (F.col("r_epoch") - F.col("epoch")).alias("delta_us"),
        )
        .filter(F.col("click_id").isNotNull())
        .orderBy("purchase_id")
    )


ASOF_NEAREST_ORACLE = """
WITH c AS (
    SELECT user_id, event_id AS click_id,
           epoch_ns(ts) // 1000 AS c_epoch
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, event_id AS purchase_id,
           epoch_ns(ts) // 1000 AS p_epoch
    FROM events WHERE event_type = 'purchase'
), j AS (
    SELECT p.purchase_id, p.user_id, c.click_id,
           c.c_epoch - p.p_epoch AS delta_us,
           row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY abs(c.c_epoch - p.p_epoch), c.c_epoch, c.click_id
           ) AS rn
    FROM p JOIN c ON p.user_id = c.user_id
     AND abs(c.c_epoch - p.p_epoch) <= 3600000000
)
SELECT purchase_id, user_id, click_id, delta_us
FROM j WHERE rn = 1 ORDER BY purchase_id
"""


def skew_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic that decides BEFORE a
    100 TB join whether a key needs salting, AQE skew-split, or a
    broadcast rethink: per audited key, the key count, hottest-key
    frequency and its share of all rows, the median per-key frequency
    (exact interpolated percentile over the per-key count table —
    integer inputs, deterministic), and the hot/median ratio. One
    partial-aggregated count per key column (the same shuffle the
    real join would pay, so the profile is an honest rehearsal) over
    a metadata-scale rollup; `operators/joins.detect_hot_keys` is the
    point lookup this report generalizes."""
    t = load_testdata(spark, sf_dir)

    def profile(df: DataFrame, table: str, key: str) -> DataFrame:
        counts = df.groupBy(F.col(key).alias("_k")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        return counts.agg(
            F.lit(f"{table}.{key}").alias("join_key"),
            F.sum("_n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("_n").cast("bigint").alias("max_freq"),
            round6(
                F.max("_n") / F.sum("_n").cast("double")
            ).alias("top1_share"),
            F.round(F.expr("percentile(_n, 0.5)"), 2).alias("median_freq"),
            F.round(
                F.max("_n") / F.expr("percentile(_n, 0.5)"), 2
            ).alias("skew_ratio"),
            # deepened pins (r12): sum(freq²) is the EXACT output
            # cardinality of a self-equi-join on this key — the one
            # integer that predicts shuffle blowup before you pay it —
            # and the singleton count pins the distribution's long
            # tail; both are exact BIGINTs, immune to rounding slack
            F.sum(F.col("_n") * F.col("_n")).cast("bigint").alias(
                "selfjoin_rows"
            ),
            F.sum((F.col("_n") == 1).cast("bigint")).alias(
                "n_singleton_keys"
            ),
        )
    return (
        profile(t["events"], "events", "user_id")
        .unionByName(profile(t["orders"], "orders", "o_custkey"))
        .unionByName(profile(t["lineitem"], "lineitem", "l_orderkey"))
        .orderBy("join_key")
    )


SKEW_PROFILE_ORACLE = """
WITH ev AS (
    SELECT count(*) AS n FROM events GROUP BY user_id
), oc AS (
    SELECT count(*) AS n FROM orders GROUP BY o_custkey
), lo AS (
    SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey
)
SELECT 'events.user_id' AS join_key,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(n) AS BIGINT) AS max_freq,
       floor(max(n) / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS top1_share,
       round(quantile_cont(n, 0.5), 2) AS median_freq,
       round(max(n) / quantile_cont(n, 0.5), 2) AS skew_ratio,
       CAST(sum(n * n) AS BIGINT) AS selfjoin_rows,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_singleton_keys
FROM ev
UNION ALL
SELECT 'orders.o_custkey', CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(max(n) AS BIGINT), floor(max(n) / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) / 1e6,
       round(quantile_cont(n, 0.5), 2), round(max(n) / quantile_cont(n, 0.5), 2),
       CAST(sum(n * n) AS BIGINT),
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM oc
UNION ALL
SELECT 'lineitem.l_orderkey', CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(max(n) AS BIGINT), floor(max(n) / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) / 1e6,
       round(quantile_cont(n, 0.5), 2), round(max(n) / quantile_cont(n, 0.5), 2),
       CAST(sum(n * n) AS BIGINT),
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM lo
ORDER BY join_key
"""


def partition_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout advisor — turns the table-profile/skew
    numbers into the decision a lakehouse actually needs: for each
    candidate partition column of ``events``, its cardinality, the
    largest partition's row share, and a rule verdict. The rules are
    the standard lakehouse sizing guidance made executable: a
    partition column wants enough values to prune effectively (≥10),
    few enough that files stay large and listings cheap (≤10,000 —
    user_id fails this at every scale), and no partition holding so
    much of the table that one task drags the stage (>20% share).
    One scan per candidate (count-distinct + max-group share), all
    metadata-scale outputs; the verdict thresholds are IN the result
    so the oracle pins the advice, not just the stats."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    candidates = {
        "event_type": F.col("event_type").cast("string"),
        "event_date": F.date_format("ts", "yyyy-MM-dd"),
        "user_id": F.col("user_id").cast("string"),
    }

    def advise(name: str, expr: F.Column) -> DataFrame:
        counts = ev.groupBy(expr.alias("_p")).agg(F.count(F.lit(1)).alias("_n"))
        stats = counts.agg(
            F.lit(name).alias("candidate"),
            F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
            F.sum("_n").cast("bigint").alias("n_rows"),
            round6(
                F.max("_n") / F.sum("_n").cast("double")
            ).alias("max_share"),
            # deepened pins (r12): the smallest partition and the
            # small-file count (<100 rows) — the OTHER half of layout
            # advice (tiny partitions tank scan efficiency just as
            # surely as skew tanks a stage); both exact BIGINTs
            F.min("_n").cast("bigint").alias("min_rows"),
            F.sum((F.col("_n") < 100).cast("bigint")).alias("n_small_parts"),
        )
        verdict = (
            F.when(F.col("n_partitions") < 10, F.lit("too_coarse"))
            .when(F.col("n_partitions") > 10000, F.lit("too_granular"))
            .when(F.col("max_share") > 0.2, F.lit("skewed"))
            .otherwise(F.lit("ok"))
        )
        return stats.select(
            "candidate",
            "n_partitions",
            "n_rows",
            "max_share",
            "min_rows",
            "n_small_parts",
            verdict.alias("verdict"),
            (verdict == "ok").alias("recommended"),
        )

    out = None
    for name, expr in candidates.items():
        part = advise(name, expr)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("candidate")


PARTITION_LAYOUT_ORACLE = """
WITH et AS (
    SELECT count(*) AS n FROM events GROUP BY event_type
), ed AS (
    SELECT count(*) AS n FROM events GROUP BY strftime(ts, '%Y-%m-%d')
), eu AS (
    SELECT count(*) AS n FROM events GROUP BY user_id
), stats AS (
    SELECT 'event_type' AS candidate, CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(sum(n) AS BIGINT) AS n_rows,
           floor(max(n) / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS max_share,
           CAST(min(n) AS BIGINT) AS min_rows,
           CAST(sum(CASE WHEN n < 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_parts
    FROM et
    UNION ALL
    SELECT 'event_date', CAST(count(*) AS BIGINT), CAST(sum(n) AS BIGINT),
           floor(max(n) / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) / 1e6,
           CAST(min(n) AS BIGINT),
           CAST(sum(CASE WHEN n < 100 THEN 1 ELSE 0 END) AS BIGINT)
    FROM ed
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT), CAST(sum(n) AS BIGINT),
           floor(max(n) / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) / 1e6,
           CAST(min(n) AS BIGINT),
           CAST(sum(CASE WHEN n < 100 THEN 1 ELSE 0 END) AS BIGINT)
    FROM eu
)
SELECT candidate, n_partitions, n_rows, max_share, min_rows, n_small_parts,
       CASE WHEN n_partitions < 10 THEN 'too_coarse'
            WHEN n_partitions > 10000 THEN 'too_granular'
            WHEN max_share > 0.2 THEN 'skewed'
            ELSE 'ok' END AS verdict,
       (CASE WHEN n_partitions < 10 THEN 'too_coarse'
             WHEN n_partitions > 10000 THEN 'too_granular'
             WHEN max_share > 0.2 THEN 'skewed'
             ELSE 'ok' END) = 'ok' AS recommended
FROM stats ORDER BY candidate
"""


def interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via bucket-equi conversion
    (operators/joins.interval_overlap_join): 10-minute click windows
    against 5-minute purchase windows of the same user — pairs whose
    activity intervals intersect, rolled up per user. The physical
    plan is a shuffled equi-join on (bucket, user_id), NOT a
    nested-loop (asserted in plan_audit). Interval endpoints are
    EXPLICIT µs epochs on both engines (unix_micros here,
    epoch_ns//1000 in the oracle — the exact ns→µs floor Spark's
    parquet read applies), so overlap decisions are structurally
    engine-equal at full precision — no dependence on fixture
    margins from boundaries."""
    from ..operators.joins import interval_overlap_join

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    us = 1_000_000
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_lo"),
        (F.unix_micros("ts") + 600 * us).alias("c_hi"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_lo"),
        (F.unix_micros("ts") + 300 * us).alias("p_hi"),
    )
    pairs = interval_overlap_join(
        clicks, purchases, "c_lo", "c_hi", "p_lo", "p_hi",
        on=["user_id"], bucket_width=600 * us,
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(F.col("click_id") + F.col("purchase_id")).alias("id_checksum"),
            # deepened pin (r10): total overlap DURATION — pair
            # existence alone can't see an off-by-one-bucket endpoint;
            # the intersection length arithmetic can
            F.sum(
                F.least("c_hi", "p_hi") - F.greatest("c_lo", "p_lo")
            ).alias("overlap_us_sum"),
        )
        .orderBy("user_id")
    )


INTERVAL_OVERLAP_ORACLE = """
WITH c AS (
    SELECT user_id, event_id AS click_id,
           CAST(epoch_ns(ts) // 1000 AS BIGINT) AS c_lo,
           CAST(epoch_ns(ts) // 1000 + 600000000 AS BIGINT) AS c_hi
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, event_id AS purchase_id,
           CAST(epoch_ns(ts) // 1000 AS BIGINT) AS p_lo,
           CAST(epoch_ns(ts) // 1000 + 300000000 AS BIGINT) AS p_hi
    FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id AS user_id, count(*) AS n_overlaps,
       CAST(sum(c.click_id + p.purchase_id) AS BIGINT) AS id_checksum,
       CAST(sum(least(c.c_hi, p.p_hi) - greatest(c.c_lo, p.p_lo)) AS BIGINT)
           AS overlap_us_sum
FROM c JOIN p
  ON c.user_id = p.user_id AND c.c_lo < p.p_hi AND p.p_lo < c.c_hi
GROUP BY 1 ORDER BY user_id
"""


def ensure_zorder_demo(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize (once per dataset, one ``catalog.artifact``) two
    physical layouts of the SAME lineitem rows:

    - ``clustered/``: Z-ordered on (l_quantity, l_extendedprice) via
      sources/zorder.write_zordered — every file covers a small
      rectangle of the 2-D key space, so parquet min/max stats prune
      files for a box predicate on EITHER or BOTH columns;
    - ``shuffled/``: the worst case — rows ordered by an md5 of the
      row key, decorrelating both columns, so every file's [min, max]
      spans ~the full domain and nothing prunes.

    Returns (clustered_path, shuffled_path). The registered query
    reads only the clustered copy; the shuffled twin exists for the
    skipping-evidence test (tests/test_scale_ops.py) and the bench."""
    import os

    from ..sources.zorder import write_zordered

    def build(stage: str) -> None:
        li = load_testdata(spark, sf_dir)["lineitem"]
        write_zordered(
            li,
            os.path.join(stage, "clustered"),
            ["l_quantity", "l_extendedprice"],
            num_files=8,
        )
        (
            li.withColumn(
                "_r",
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
            )
            .repartitionByRange(8, "_r")
            .sortWithinPartitions("_r")
            .drop("_r")
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "shuffled"))
        )

    base = artifact("zorder_demo", sf_dir, ("lineitem",), build)
    return os.path.join(base, "clustered"), os.path.join(base, "shuffled")


def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-selective aggregate over the Z-ORDERED lineitem copy
    (ensure_zorder_demo): both range predicates reach the scan as
    PushedFilters (plan-audited), and because the files are Morton-
    clustered the row-group min/max stats satisfy most of them —
    tests/test_scale_ops.py counts the candidate row groups directly
    against the shuffled twin. The DuckDB oracle runs the same
    aggregate over the ORIGINAL lineitem table, so a green row also
    proves the clustered rewrite is lossless."""
    cdir, _ = ensure_zorder_demo(spark, sf_dir)
    li = spark.read.parquet(cdir)
    return (
        li.filter(
            F.col("l_quantity").between(5.0, 10.0)
            & F.col("l_extendedprice").between(20000.0, 40000.0)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
            # deepened pin (r11): exact key checksum of the box's rows
            # — proves the Morton-clustered rewrite serves precisely
            # the original rows, not merely matching counts/sums.
            F.sum("l_orderkey").alias("orderkey_sum"),
            # deepened pin (r13): the second clustering dimension's
            # identity — the Morton rewrite interleaves (quantity,
            # price) bits, so a bit-interleave bug that still lands
            # the right orderkeys in the box would scramble WHICH
            # parts they pair with.
            F.sum("l_partkey").alias("partkey_sum"),
        )
        .orderBy("l_returnflag")
    )


ZORDER_PRUNED_ORACLE = """
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(sum(l_orderkey) AS BIGINT) AS orderkey_sum,
       CAST(sum(l_partkey) AS BIGINT) AS partkey_sum
FROM lineitem
WHERE l_quantity BETWEEN 5.0 AND 10.0
  AND l_extendedprice BETWEEN 20000.0 AND 40000.0
GROUP BY 1 ORDER BY l_returnflag
"""


def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-style correlated semi-join — orders of
    1996 having at least one line item shipped > 90 days after the
    order date, counted per priority. The semi-join keeps the orders
    side un-duplicated (no post-join distinct), and the correlated
    range condition rides the same o_orderkey shuffle as the equi key.
    Reference parity: the reference's YQL supports the same EXISTS
    rewrite (SURVEY.md §2 J1 family)."""
    t = load_testdata(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        o.join(
            late,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # deepened pin (r11): semi-join MEMBERSHIP and no-dup in
            # one number — an EXISTS rewrite that duplicated a
            # multi-late-line order, or traded one qualifying order
            # for another, moves the key sum even where counts agree.
            F.sum("o_orderkey").alias("orderkey_sum"),
            # deepened pin (r13): a second, independent membership
            # dimension — two qualifying orders swapped in a way that
            # happens to preserve the orderkey sum still move the
            # customer-attribution checksum.
            F.sum("o_custkey").alias("custkey_sum"),
        )
        .orderBy("o_orderpriority")
    )


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY 1 ORDER BY o_orderpriority
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 proper (region_revenue covers the snowflake shape;
    this adds Q5's distinctive twist): revenue only where the CUSTOMER
    and the SUPPLIER sit in the same nation of one region. The
    same-nation constraint is a residual filter on the broadcast-join
    outputs — the fact table still shuffles once, on o_orderkey."""
    t = load_testdata(spark, sf_dir)
    nat = F.broadcast(
        t["nation"]
        .join(
            t["region"].filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = F.broadcast(
        t["supplier"].select("s_suppkey", F.col("s_nationkey").alias("sup_nk"))
    )
    cust = F.broadcast(
        t["customer"].select("c_custkey", F.col("c_nationkey").alias("cust_nk"))
    )
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        t["lineitem"]
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("sup_nk") == F.col("cust_nk"))
        .join(nat, F.col("sup_nk") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            # deepened pin (r11): the contributing LINE count — the
            # same-nation residual filter verified as an exact integer
            # rather than only through the revenue total.
            F.count(F.lit(1)).alias("n_lines"),
            # deepened pin (r12): WHICH lines contributed — the
            # orderkey checksum catches a residual-filter drift that
            # swaps equal-revenue lines between nations
            F.sum("l_orderkey").cast("bigint").alias("line_orderkey_sum"),
        )
        .orderBy(F.desc("revenue"), F.col("n_name"))
    )


Q5_ORACLE = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines,
       CAST(sum(l_orderkey) AS BIGINT) AS line_orderkey_sum
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1 ORDER BY revenue DESC, n_name
"""


def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns (l_returnflag = 'R')
    per customer over one quarter, top 20. Join order puts the
    selective lineitem filter before the orders shuffle; the final
    top-20 compiles to TakeOrderedAndProject (plan-audited), never a
    global sort."""
    t = load_testdata(spark, sf_dir)
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R")
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        returned.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(revenue).cast("double").alias("lost_revenue"),
            # deepened pin (r11): the returned-line count behind each
            # customer's lost revenue — exact integer, no rounding
            # slack.
            F.count(F.lit(1)).alias("n_return_lines"),
            # deepened pin (r12): WHICH orders the returned lines came
            # from — a line attributed to the wrong customer can
            # balance counts (and, within rounding, revenue) across
            # two top-20 rows, but not both orderkey checksums.
            F.sum("l_orderkey").cast("long").alias("return_orderkey_sum"),
        )
        .orderBy(F.desc("lost_revenue"), F.col("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS lost_revenue,
       count(*) AS n_return_lines,
       CAST(sum(l_orderkey) AS BIGINT) AS return_orderkey_sum
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey LIMIT 20
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the two-level aggregation — orders per
    customer (LEFT join keeps zero-order customers), then customers
    per order-count. Both aggregations partial+final; the second one
    runs over ~tens of distinct counts, so its exchange is trivial."""
    t = load_testdata(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(
            t["orders"].select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(
            F.count(F.lit(1)).alias("custdist"),
            # deepened pin (r11): WHICH customers sit at each order
            # count — a customer shifted ±1 order (a dropped LEFT-join
            # null, a double-counted line) moves between adjacent
            # c_count buckets; twin swaps preserve both custdist
            # values but never both checksums.
            F.sum("c_custkey").alias("custkey_sum"),
            # deepened pin (r13): a second, independent membership
            # dimension — rides the same groupBy for free
            # (c_nationkey is functionally dependent on c_custkey).
            F.sum("c_nationkey").alias("nationkey_sum"),
        )
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_ORACLE = """
SELECT c_count, count(*) AS custdist,
       CAST(sum(c_custkey) AS BIGINT) AS custkey_sum,
       CAST(sum(c_nationkey) AS BIGINT) AS nationkey_sum
FROM (
    SELECT c.c_custkey, c.c_nationkey, count(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose summed line quantity exceeds a
    threshold, with customer attribution. The HAVING pre-aggregation
    runs on lineitem alone (one shuffle on l_orderkey, partial
    map-side combine), and only the few surviving keys join back —
    at 100 TB the join input is the filtered aggregate, not the fact
    table."""
    t = load_testdata(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
            # deepened pin (r11): the line COUNT behind the HAVING sum
            # — a double-counted or dropped line that happens to keep
            # the decimal sum over the threshold still moves this.
            F.count(F.lit(1)).alias("n_lines"),
            # deepened pin (r13): WHICH lines — l_linenumber is unique
            # within an order, so its sum pins the exact line SET
            # behind each order's aggregate (a swap of two same-
            # quantity lines across orders preserves n_lines and
            # total_qty on both sides but never both linenumber sums).
            F.sum("l_linenumber").alias("linenumber_sum"),
        )
        .filter(F.col("total_qty") > 200.0)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_totalprice"),
            "total_qty",
            "n_lines",
            "linenumber_sum",
        )
        .orderBy(F.desc("total_qty"), F.col("o_orderkey"))
    )


Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice, total_qty, n_lines, linenumber_sum
FROM (
    SELECT l_orderkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           count(*) AS n_lines,
           CAST(sum(l_linenumber) AS BIGINT) AS linenumber_sum
    FROM lineitem GROUP BY 1 HAVING total_qty > 200.0)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
"""


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    RECENT orders (none since 1999 — at this data's density every
    customer has some order, so the lapsed-window variant keeps the
    anti-join meaningful), grouped by nation. The average threshold is
    computed in integer cents and compared by cross-multiplication
    (cents * n > sum_cents) — exact on both engines, immune to the
    float-summation-order ulp drift a DOUBLE avg() would have at the
    boundary. Anti-join prunes to orders' (o_custkey, o_orderdate)."""
    t = load_testdata(spark, sf_dir)
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    thr = F.broadcast(
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(cents).alias("_sum_cents"),
            F.count(F.lit(1)).alias("_n_pos"),
        )
    )
    return (
        t["customer"]
        .crossJoin(thr)
        .filter(cents * F.col("_n_pos") > F.col("_sum_cents"))
        .join(
            t["orders"]
            .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_idle"),
            F.sum(_dec("c_acctbal")).cast("double").alias("idle_balance"),
            # deepened pin (r11): the idle SET itself — an anti-join
            # that wrongly keeps one lapsed customer and drops another
            # of similar balance preserves n_idle (and idle_balance
            # within rounding) but not the id checksum.
            F.sum("c_custkey").alias("idle_custkey_sum"),
            # deepened pin (r13): the idle balances in EXACT integer
            # cents — idle_balance is a rounded DOUBLE, so a
            # boundary-cent discrepancy in the threshold comparison
            # could hide in its last ulp; this sum cannot.
            F.sum(cents).alias("idle_cents_sum"),
        )
        .orderBy("c_nationkey")
    )


Q22_ORACLE = """
WITH t AS (
    SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_cents,
           count(*) AS n_pos
    FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, count(*) AS n_idle,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS idle_balance,
       CAST(sum(c_custkey) AS BIGINT) AS idle_custkey_sum,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS idle_cents_sum
FROM customer c, t
WHERE CAST(round(c_acctbal * 100) AS BIGINT) * t.n_pos > t.sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY 1 ORDER BY c_nationkey
"""


def exclusion_join_hotkey_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCLUSION JOIN under BULK-duplicate keys with strategy='auto'
    (operators/joins.exclusion_join): the key here is (event_type,
    value-band) — ~10 combos over the whole events table, every one of
    them holding thousands of rows, i.e. exactly the hot-window shape
    the 'union' plan's per-key window serializes on. The sampled probe
    must route this to the 'anti' plan (AQE-splittable joins); the
    registered reconcile queries pin the probe's OTHER branch
    (PK-like keys → 'union'). The emitted diff — all rows of the side
    dropped from the right input, aggregated by provenance — is
    strategy-independent, so this row stays green whichever plan runs;
    the probe's resolution is recorded in LAST_EXCLUSION_STRATEGY and
    pinned 'anti' by a pytest."""
    from ..operators.joins import exclusion_join

    t = load_testdata(spark, sf_dir)
    e = t["events"].select(
        "event_type",
        (F.col("value") > 50).cast("int").alias("vb"),
        "event_id",
    )
    s = e
    d = e.filter(F.col("event_type") != "error")
    diff = exclusion_join(
        s, d, ["event_type", "vb"], tag_column="side", strategy="auto"
    )
    return (
        diff.groupBy("side", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # deepened pin (r12): WHICH events the diff emitted — a
            # strategy that dropped or duplicated rows while keeping
            # the count balanced now fails the hash
            F.sum("event_id").cast("bigint").alias("event_id_sum"),
        )
        .orderBy("side", "event_type")
    )


EXCLUSION_HOTKEY_ORACLE = """
WITH s AS (SELECT event_type, CAST(value > 50 AS INT) AS vb, event_id
             FROM events),
     d AS (SELECT * FROM s WHERE event_type <> 'error')
SELECT 'left' AS side, event_type, count(*) AS cnt,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
  FROM s
 WHERE NOT EXISTS (SELECT 1 FROM d
                    WHERE d.event_type = s.event_type AND d.vb = s.vb)
 GROUP BY event_type
UNION ALL
SELECT 'right' AS side, event_type, count(*) AS cnt,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
  FROM d
 WHERE NOT EXISTS (SELECT 1 FROM s
                    WHERE s.event_type = d.event_type AND s.vb = d.vb)
 GROUP BY event_type
ORDER BY side, event_type
"""


def manifest_compaction_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-file maintenance pinned as data (sources/manifest.py
    ``ManifestTable.maybe_compact``): five single-file commits (the
    streaming-sink file-per-micro-batch shape), then the policy call —
    threshold crossed → one compact commit. Four promises as data:

    - the policy fires only past ``max_files`` (5 > 3) and rewrites to
      the target layout (``n_files_after`` = 1);
    - rows survive byte-identically (``rows_after`` ≡ ``rows_before``);
    - the streaming high-water mark SURVIVES the rewrite
      (``last_batch_id`` = 4 — losing it would re-open the replay
      hole, the lost-update failure the compact CAS closes);
    - the commit log records the op kind.

    Nation-sized and rebuilt per call (compaction mutates the table);
    all counts metadata- or 25-row-scale."""
    import os
    import tempfile

    from ..sources.manifest import ManifestTable

    nat = load_testdata(spark, sf_dir)["nation"].select(
        "n_nationkey", "n_name"
    )
    mt = ManifestTable(
        os.path.join(tempfile.mkdtemp(prefix="manifest_compact_demo_"), "t")
    )
    nk = F.col("n_nationkey")
    mt.overwrite(nat.filter(nk < 5).coalesce(1))
    for i, lo in enumerate((5, 10, 15, 20), start=1):
        mt.append(
            nat.filter((nk >= lo) & (nk < lo + 5)).coalesce(1), batch_id=i
        )
    v = mt.current_version(spark)
    files_before = len(mt._manifest(spark, v)["files"])
    rows_before = mt.read(spark).count()

    # below threshold: policy must be a no-op
    assert mt.maybe_compact(spark, max_files=10, target_files=1) is None

    nv = mt.maybe_compact(spark, max_files=3, target_files=1)
    m = mt._manifest(spark, nv)
    return local_frame(
        spark,
        [
            (
                files_before,
                len(m["files"]),
                rows_before,
                mt.read(spark).count(),
                int(m.get("last_batch_id", -1)),
                str(m["op"]),
            )
        ],
        "n_files_before int, n_files_after int, rows_before bigint, "
        "rows_after bigint, last_batch_id bigint, op string",
    )


MANIFEST_COMPACTION_ORACLE = """
SELECT 5 AS n_files_before, 1 AS n_files_after,
       (SELECT count(*) FROM nation) AS rows_before,
       (SELECT count(*) FROM nation) AS rows_after,
       CAST(4 AS BIGINT) AS last_batch_id, 'compact' AS op
"""


def bloom_prefilter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filtering (operators/sketches.
    bloom_build / bloom_might_contain) — the classic 100 TB shuffle
    reducer: build a 2^16-bit filter over the BUILDING-segment
    customer keys, evaluate the membership test on orders BEFORE any
    exchange (pure per-row JVM expression — the filter rides the plan
    as an array literal), and only the survivors reach the exact
    broadcast semi-join. Three promises pinned as data:

    - no false negatives: ``n_exact`` (orders whose customer really is
      BUILDING) computed THROUGH the bloom path equals the oracle's
      direct count — one dropped true key would break the row;
    - the false-positive volume is deterministic (md5-derived
      positions, replayed bit-for-bit in DuckDB): ``n_false_pos`` =
      bloom-passed minus exact, value-matched;
    - the filter actually filters: n_pass_bloom ≪ n_orders (the
      shuffle the filter would save at scale)."""
    from ..operators.sketches import bloom_build, bloom_might_contain

    t = load_testdata(spark, sf_dir)
    keys = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    words = bloom_build(keys, "c_custkey", num_bits=1 << 16, k=3)
    # ONE orders scan (r18, guide §3/§6): the three counters used to be
    # three separate agg subtrees over orders (full scan + bloom
    # expression each), crossJoined — three scans, the k=3 md5 probe
    # evaluated twice per surviving row. Now the bloom verdict is a
    # single projected flag, exact membership comes from a broadcast
    # LEFT join against the (unique — c_custkey is the customer PK, so
    # the join can't fan out) key set, and all three counters fold into
    # one conditional aggregate over that single pass. pass_key_sum's
    # sum_distinct rides the same aggregate (NULL for non-passing rows
    # — sum_distinct ignores NULLs, exactly the old passed-subtree
    # semantics).
    flagged = (
        t["orders"]
        .select(
            "o_custkey",
            bloom_might_contain(words, "o_custkey", num_bits=1 << 16, k=3)
            .alias("_pass"),
        )
        .join(
            F.broadcast(keys.withColumn("_bldg", F.lit(1))),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count(F.when(F.col("_pass"), 1)).cast("bigint").alias(
            "n_pass_bloom"
        ),
        # no-false-negatives pin: exact membership THROUGH the bloom
        # path — every true BUILDING key must also pass the filter
        F.count(F.when(F.col("_pass") & F.col("_bldg").isNotNull(), 1))
        .cast("bigint")
        .alias("n_exact"),
        # deepened pin (r12): the distinct-key checksum of the
        # bloom-pass set pins the BIT PATTERN itself — a single
        # flipped hash position changes which false positives
        # slip through and fails the hash, not just the counts
        F.sum_distinct(F.when(F.col("_pass"), F.col("o_custkey")))
        .cast("bigint")
        .alias("pass_key_sum"),
    ).select(
        "n_orders",
        "n_pass_bloom",
        "n_exact",
        (F.col("n_pass_bloom") - F.col("n_exact")).alias("n_false_pos"),
        "pass_key_sum",
    )


BLOOM_PREFILTER_ORACLE = """
WITH seeds AS (SELECT unnest([0, 1, 2]) AS i),
keys AS (SELECT c_custkey AS v FROM customer WHERE c_mktsegment = 'BUILDING'),
positions AS (
    SELECT DISTINCT
        (('0x' || substr(md5(v::VARCHAR || ':' || i::VARCHAR), 1, 15))::UBIGINT
         % 65536) AS p
    FROM keys, seeds
),
ck AS (SELECT DISTINCT o_custkey FROM orders),
ckp AS (
    SELECT o_custkey,
           bool_and(
               (('0x' || substr(md5(o_custkey::VARCHAR || ':' || i::VARCHAR),
                               1, 15))::UBIGINT % 65536)
               IN (SELECT p FROM positions)
           ) AS pass
    FROM ck, seeds
    GROUP BY o_custkey
)
SELECT count(*) AS n_orders,
       count(*) FILTER (WHERE p.pass) AS n_pass_bloom,
       count(*) FILTER (WHERE o.o_custkey IN (SELECT v FROM keys)) AS n_exact,
       count(*) FILTER (WHERE p.pass)
         - count(*) FILTER (WHERE o.o_custkey IN (SELECT v FROM keys))
         AS n_false_pos,
       (SELECT CAST(sum(o_custkey) AS BIGINT) FROM ckp WHERE pass)
         AS pass_key_sum
FROM orders o JOIN ckp p USING (o_custkey)
"""


def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (the batch twin of streaming
    session windows): a session breaks after 30 min of inactivity.
    Two windows over ONE partitioning (user_id, ordered by ts) — the
    new-session flag via lag(), then a running sum to number sessions
    — so Spark plans a single sort+exchange, not one per window;
    the per-session rollup shuffles only (user, session) aggregates."""
    t = load_testdata(spark, sf_dir)
    from pyspark.sql import Window

    # order by SECOND-granularity epoch (+ event_id tiebreak), exactly
    # as the oracle does — ordering by raw ts would tie-break
    # sub-second neighbors differently between engines
    epoch = F.unix_timestamp("ts")
    base = t["events"].select("user_id", "event_id", epoch.alias("ep"))
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    new_sess = F.when(
        F.col("ep") - F.lag("ep").over(w) > 1800, F.lit(1)
    ).otherwise(F.lit(0))
    flagged = base.select(
        "user_id",
        "ep",
        "event_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("sess_id"),
    )
    per_session = flagged.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ep") - F.min("ep")).alias("duration_s"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("duration_s").alias("max_session_s"),
            round6(F.avg("n_events")).alias("avg_events_per_session"),
            # deepened pins (r11): BOUNDARY placement, not just session
            # counts. total_session_s = user's span minus the sum of
            # gaps actually broken on — breaking at a different gap
            # (wrong threshold, off-by-one lag) moves it even when
            # n_sessions survives; singleton sessions are the rows most
            # sensitive to a boundary shifted by one event.
            F.sum("duration_s").alias("total_session_s"),
            F.sum((F.col("n_events") == 1).cast("bigint")).alias(
                "n_singleton_sessions"
            ),
        )
        .orderBy("user_id")
    )


SESSIONIZATION_ORACLE = """
WITH e AS (
    SELECT user_id, event_id,
           CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ep
    FROM events
), gaps AS (
    SELECT user_id, event_id, ep,
           CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id
                                        ORDER BY ep, event_id) > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM e
), flagged AS (
    SELECT user_id, event_id, ep,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ep, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM gaps
), per_session AS (
    SELECT user_id, sess_id, count(*) AS n_events,
           max(ep) - min(ep) AS duration_s
    FROM flagged GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       max(duration_s) AS max_session_s,
       floor(avg(n_events) * 1e6 + 0.5) / 1e6
           AS avg_events_per_session,
       CAST(sum(duration_s) AS BIGINT) AS total_session_s,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_singleton_sessions
FROM per_session GROUP BY 1 ORDER BY user_id
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the canonical product-analytics
    rollup over an event stream: cohort = the user's first-activity
    week, each cell = distinct users from that cohort active at week
    offset k. Two shuffles at any scale: the per-user min week is a
    partial-aggregated groupBy, folded back with a user_id equi-join
    (AQE broadcasts it when the user dimension is small), and the
    cell rollup is a count-distinct whose Expand rides the same
    exchange. Epoch-week integers on both sides — never raw
    timestamps (testdata mixes ms/ns physical types)."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(604800)).alias("wk"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset")
        )
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            # deepened pin (r11): cell MEMBERSHIP — the distinct-id sum
            # is an exact integer checksum of which users are in the
            # cell; a user attributed to the wrong cohort week moves
            # between cells preserving both cells' counts far more
            # easily than both cells' id sums. Rides the same Expand
            # as the count-distinct — no extra exchange.
            F.sum_distinct(F.col("user_id")).alias("active_user_id_sum"),
        )
        .orderBy("cohort_wk", "week_offset")
    )


RETENTION_COHORTS_ORACLE = """
WITH e AS (
    SELECT user_id,
           (CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) // 604800 AS wk
    FROM events
), f AS (
    SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1
)
SELECT cohort_wk, wk - cohort_wk AS week_offset,
       count(DISTINCT e.user_id) AS active_users,
       CAST(sum(DISTINCT e.user_id) AS BIGINT) AS active_user_id_sum
FROM e JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance WITH retraction:
    the pattern that replaces full recomputes at 100 TB. The stored
    state is the PARTIAL aggregate of the already-ingested base slice
    (orders before 1998 — count and an exact DECIMAL sum per (year,
    status), both algebraic: mergeable by addition without seeing old
    rows again). The refresh then folds a CHANGE FEED, not just an
    insert delta: 1998's orders arrive as inserts AND every base
    order with o_orderkey % 10 == 3 is retracted as a delete (the
    shape a CDC-mirrored table's ``table_changes`` emits — see
    ``operators/incremental.fold_changes_into_view``, which this
    query pins under the oracle: +1/-1 signed deltas, DECIMAL-exact,
    O(churn) per refresh). The oracle recomputes the same view from
    scratch over (base ∖ deletes) ⊎ inserts — matching values prove
    the fold equals the full recompute. The mergeable-sketch stores
    (operators/sketches.py) are the approximate twin of this
    exact-aggregate pattern."""
    from ..operators.incremental import (
        fold_changes_into_view,
        view_from_snapshot,
    )

    t = load_testdata(spark, sf_dir)
    o = t["orders"].select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderstatus",
        _dec("o_totalprice").alias("revenue"),
        "o_orderkey",
        # deepened pin (r12): the orderkey sum rides the SAME signed
        # fold as revenue — a retraction that subtracts the wrong
        # row's contribution now breaks an exact integer, not just a
        # money total that could coincide
        F.col("o_orderkey").cast("decimal(28,2)").alias("okey"),
    )
    keys = ["order_year", "o_orderstatus"]
    state = view_from_snapshot(
        o.filter(F.col("order_year") < 1998), keys, ["revenue", "okey"]
    )
    inserts = o.filter(F.col("order_year") >= 1998).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = o.filter(
        (F.col("order_year") < 1998) & (F.col("o_orderkey") % 10 == 3)
    ).withColumn("_change_type", F.lit("delete"))
    folded = fold_changes_into_view(
        state, inserts.unionByName(deletes), keys, ["revenue", "okey"]
    )
    return folded.select(
        "order_year",
        "o_orderstatus",
        F.col("_n").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
        F.col("okey").cast("bigint").alias("orderkey_sum"),
    ).orderBy("order_year", "o_orderstatus")


INCREMENTAL_AGG_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum
FROM orders
WHERE NOT (year(o_orderdate) < 1998 AND o_orderkey % 10 = 3)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/scd.scd2_apply), made
    driver-checkable by two deterministic update batches over the
    customer dimension: batch 1 (2021-06-01) re-segments every
    custkey % 5 == 0, batch 2 (2022-06-01) re-segments every
    custkey % 10 == 0 again — so %10 keys end with three versions
    (two closed), %5-but-not-%10 keys with two, everyone else with
    their original open row. The per-key version/closure counts and
    current segment are CLOSED-FORM from the key alone, which is
    exactly what the oracle pins — any misclassification in the
    apply's carried/closed/reopened/insert split breaks a row."""
    from ..operators.scd import scd2_apply

    t = load_testdata(spark, sf_dir)
    c = t["customer"].select("c_custkey", "c_mktsegment")
    dim = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    u1 = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.concat("c_mktsegment", F.lit("*")).alias("segment"),
        F.lit("2021-06-01").cast("timestamp").alias("eff_ts"),
    )
    u2 = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.concat("c_mktsegment", F.lit("**")).alias("segment"),
        F.lit("2022-06-01").cast("timestamp").alias("eff_ts"),
    )
    dim = scd2_apply(dim, u1, "c_custkey", ["segment"])
    # first-generation dimension materialized between applies (r18,
    # guide §5.3): scd2_apply references its input dimension five
    # times (hist, the three open⋈batch dispositions, the insert
    # anti-join), so chaining applies re-expands the WHOLE prior
    # union per reference — the unmaterialized two-batch plan carried
    # 30 customer scans / 20 exchanges, and each further batch would
    # multiply that by ~5 (maintenance exponential in batches). One
    # eager localCheckpoint of the ≤2-versions-per-key frame makes
    # batch N read a materialized batch N−1: the executed plan drops
    # to the checkpoint block plus the second batch's own scans, and
    # at scale the nightly SCD2 job becomes linear in batches. Paired
    # A/B at bench SF: 3.2–8.0 s → 1.9–2.3 s, values collect-verified
    # identical. (scd2_point_in_time_revenue measured NO win from the
    # same change — its dimension derives from an already-checkpointed
    # users frame, so the re-expansion was cheap — and stays lazy.)
    dim = materialize(dim, "scd2 first batch")
    dim = scd2_apply(dim, u2, "c_custkey", ["segment"])
    return (
        dim.groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum(F.when(F.col("valid_to").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_closed"),
            F.max(
                F.when(F.col("valid_to").isNull(), F.col("segment"))
            ).alias("current_segment"),
            # deepened pins (r11): the validity INTERVALS, closed-form
            # from the key. last_closed_to_epoch pins that closes stamp
            # the closing batch's eff_ts (not now(), not the open
            # row's); open_from_epoch pins that the open row is the
            # LATEST version's — a reopened/carried mix-up shifts it.
            F.unix_timestamp(F.max("valid_to")).alias(
                "last_closed_to_epoch"
            ),
            F.unix_timestamp(
                F.max(F.when(F.col("valid_to").isNull(), F.col("valid_from")))
            ).alias("open_from_epoch"),
        )
        .orderBy("c_custkey")
    )


SCD2_ORACLE = """
SELECT c_custkey,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 3
                 WHEN c_custkey % 5 = 0 THEN 2
                 ELSE 1 END AS BIGINT) AS n_versions,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 2
                 WHEN c_custkey % 5 = 0 THEN 1
                 ELSE 0 END AS BIGINT) AS n_closed,
       CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment || '**'
            WHEN c_custkey % 5 = 0 THEN c_mktsegment || '*'
            ELSE c_mktsegment END AS current_segment,
       CAST(CASE WHEN c_custkey % 10 = 0
                 THEN epoch(TIMESTAMP '2022-06-01')
                 WHEN c_custkey % 5 = 0
                 THEN epoch(TIMESTAMP '2021-06-01')
                 ELSE NULL END AS BIGINT) AS last_closed_to_epoch,
       CAST(CASE WHEN c_custkey % 10 = 0
                 THEN epoch(TIMESTAMP '2022-06-01')
                 WHEN c_custkey % 5 = 0
                 THEN epoch(TIMESTAMP '2021-06-01')
                 ELSE epoch(TIMESTAMP '2020-01-01') END AS BIGINT)
           AS open_from_epoch
FROM customer ORDER BY c_custkey
"""


def ensure_manifest_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset) a three-snapshot ManifestTable
    from lineitem year slices: v0 = overwrite(ship year < 1997),
    v1 = append(1997), v2 = append(1998). Gives the registered query
    below a deterministic time-travel surface."""
    from ..sources.manifest import ManifestTable

    def build(stage: str) -> None:
        mt = ManifestTable(stage)
        li = load_testdata(spark, sf_dir)["lineitem"].select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
        )
        yr = F.year("l_shipdate")
        mt.overwrite(li.filter(yr < 1997))
        mt.append(li.filter(yr == 1997))
        mt.append(li.filter(yr == 1998))

    return artifact("manifest_demo", sf_dir, ("lineitem",), build)


def ensure_manifest_stats_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset) a STATS-ENABLED ManifestTable:
    lineitem committed as four orderkey-quartile slices, one file
    each, with per-file [min, max] of l_orderkey recorded in the
    manifest (stat_cols) — the deterministic surface for the
    manifest-level data-skipping query below."""
    from ..sources.manifest import ManifestTable

    def build(stage: str) -> None:
        mt = ManifestTable(stage, stat_cols=("l_orderkey",))
        li = load_testdata(spark, sf_dir)["lineitem"].select(
            "l_orderkey", "l_quantity"
        )
        m = int(li.agg(F.max("l_orderkey")).first()[0])
        b1, b2, b3 = m // 4, m // 2, (3 * m) // 4
        ok = F.col("l_orderkey")
        mt.overwrite(li.filter(ok <= b1).coalesce(1))
        mt.append(li.filter((ok > b1) & (ok <= b2)).coalesce(1))
        mt.append(li.filter((ok > b2) & (ok <= b3)).coalesce(1))
        mt.append(li.filter(ok > b3).coalesce(1))
        # merge-on-read DELETE of ~10% of rows (TPC-H quantity is
        # 1..50): positions become deletion vectors, the 4 quartile
        # files stay BY NAME — the pruned-scan query pins both the
        # unchanged layout and the subtracted rows against the oracle
        mt.delete_where(spark, "l_quantity > 45", mode="merge-on-read")

    return artifact("manifest_stats_demo", sf_dir, ("lineitem",), build)


def manifest_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping + merge-on-read deletes made
    driver-checkable: a range probe against the stats-enabled manifest
    table must (a) keep exactly ONE of the four files — the kept-file
    count is emitted AS DATA and pinned by the oracle's literal — (b)
    still reference 4 files after the fixture's merge-on-read DELETE
    (deletion vectors rewrite NOTHING — the literal 4 pins the
    append-only property), and (c) aggregate to the rows/sum the
    oracle computes from raw lineitem with the probe predicate AND the
    delete predicate's complement — proving the pruned scan subtracts
    the deletion-vector positions exactly. n_dead pins the recorded
    DV row accounting against the oracle's recount. This is the
    file-granularity layer of the skipping stack (manifest stats →
    parquet row-group stats → predicate), complementing
    zorder_pruned_scan which pins the row-group layer.

    The probe bounds derive from max(l_orderkey) by integer division
    on BOTH sides, so the query is deterministic at any SF."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(
        ensure_manifest_stats_demo(spark, sf_dir),
        stat_cols=("l_orderkey",),
    )
    li = load_testdata(spark, sf_dir)["lineitem"]
    m = int(li.agg(F.max("l_orderkey")).first()[0])
    lo, hi = m // 10, m // 5
    manifest = mt._manifest(spark, mt.current_version(spark))
    kept = mt.pruned_files(spark, "l_orderkey", lo, hi)
    n_dead = sum(int(e["rows"]) for e in manifest.get("dvs", {}).values())
    return (
        mt.read_where(spark, "l_orderkey", lo, hi)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .select(
            F.lit(len(manifest["files"])).alias("n_files_total"),
            F.lit(len(kept)).alias("n_files_kept"),
            "n_rows",
            "sum_qty",
            F.lit(n_dead).cast("bigint").alias("n_dead"),
        )
    )


MANIFEST_STATS_PRUNED_ORACLE = """
WITH b AS (SELECT max(l_orderkey) AS m FROM lineitem)
SELECT 4 AS n_files_total,
       1 AS n_files_kept,
       count(*) FILTER (WHERE l_quantity <= 45) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
            FILTER (WHERE l_quantity <= 45) AS DOUBLE) AS sum_qty,
       (SELECT count(*) FROM lineitem WHERE l_quantity > 45) AS n_dead
FROM lineitem, b
WHERE l_orderkey >= m // 10 AND l_orderkey <= m // 5
"""


def manifest_time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation made driver-checkable: read each committed
    version of the manifest table (sources/manifest.py) and count its
    rows. The oracle recomputes the same three counts from the source
    table with static year predicates — matching values prove every
    historical snapshot is a complete, correct table (the commit
    protocol's core promise), not just the latest one."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(ensure_manifest_demo(spark, sf_dir))
    per_version = [
        mt.read(spark, version=v)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # deepened pin (r11): snapshot CONTENT, not just size — a
            # historical version serving the right row count from the
            # wrong file set passes n_rows but not the key checksum.
            F.sum("l_orderkey").alias("orderkey_sum"),
            # deepened pin (r16), DISTINCT-CARDINALITY class: a
            # snapshot carrying duplicated files balances neither —
            # but a swap of equal-count line GROUPS can balance count
            # and sum together; the distinct order population can't
            # follow both
            F.count_distinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
        .select(
            F.lit(v).alias("version"), "n_rows", "orderkey_sum", "n_orders"
        )
        for v in (0, 1, 2)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionAll(df)
    return out.orderBy("version")


MANIFEST_TIME_TRAVEL_ORACLE = """
SELECT 0 AS version,
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) < 1997) AS n_rows,
       (SELECT CAST(sum(l_orderkey) AS BIGINT) FROM lineitem
         WHERE year(l_shipdate) < 1997) AS orderkey_sum,
       (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
         WHERE year(l_shipdate) < 1997) AS n_orders
UNION ALL
SELECT 1,
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) <= 1997),
       (SELECT CAST(sum(l_orderkey) AS BIGINT) FROM lineitem
         WHERE year(l_shipdate) <= 1997),
       (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
         WHERE year(l_shipdate) <= 1997)
UNION ALL
SELECT 2,
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) <= 1998),
       (SELECT CAST(sum(l_orderkey) AS BIGINT) FROM lineitem
         WHERE year(l_shipdate) <= 1998),
       (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
         WHERE year(l_shipdate) <= 1998)
ORDER BY version
"""


def ensure_manifest_bucket_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset generation) a BUCKET-CLUSTERED
    ManifestTable: orders committed as 8 files, one per
    xxhash64(o_custkey) % 8 bucket, with each file's bucket set
    recorded in the manifest — the layout under the bucket-pruned
    scan query below."""
    from ..sources.manifest import ManifestTable

    def build(stage: str) -> None:
        mt = ManifestTable(stage, bucket_cols=(("o_custkey", 8),))
        o = load_testdata(spark, sf_dir)["orders"].select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        bexpr = F.pmod(F.xxhash64(F.col("o_custkey").cast("bigint")), F.lit(8))
        for i in range(8):
            part = o.filter(bexpr == i).coalesce(1)
            (mt.overwrite if i == 0 else mt.append)(part)

    return artifact("manifest_bucket_demo", sf_dir, ("orders",), build)


def manifest_bucket_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET-transform data skipping made driver-checkable (the
    equality-probe layer of the skipping stack, next to
    manifest_stats_pruned_scan's range layer): an equality probe on
    the bucket-clustered table must (a) keep exactly ONE of the eight
    files — emitted as data, pinned by the oracle literal; a regression
    to "keep all" flips it to 8 — and (b) aggregate to the same
    rows/sum the oracle computes from raw orders with the same
    predicate. Range min/max could not prune this layout: every file
    spans nearly the full custkey range (hash interleaving), which is
    exactly the case bucket metadata exists for."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(
        ensure_manifest_bucket_demo(spark, sf_dir),
        bucket_cols=(("o_custkey", 8),),
    )
    o = load_testdata(spark, sf_dir)["orders"]
    m = int(o.agg(F.max("o_custkey")).first()[0])
    probe = max(1, m // 3)
    manifest = mt._manifest(spark, mt.current_version(spark))
    kept = mt.pruned_files_eq(spark, "o_custkey", probe)
    return (
        mt.read_where_eq(spark, "o_custkey", probe)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            # deepened pin (r11): WHICH orders the kept bucket served —
            # an exact key checksum over the pruned read's rows.
            F.sum("o_orderkey").alias("orderkey_sum"),
        )
        .select(
            F.lit(len(manifest["files"])).alias("n_files_total"),
            F.lit(len(kept)).alias("n_files_kept"),
            "n_rows",
            "sum_price",
            "orderkey_sum",
        )
    )


MANIFEST_BUCKET_PRUNED_ORACLE = """
WITH b AS (SELECT max(o_custkey) AS m FROM orders)
SELECT 8 AS n_files_total,
       1 AS n_files_kept,
       count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum
FROM orders, b
WHERE o_custkey = greatest(m // 3, 1)
"""


def ensure_manifest_specevo_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset generation) a ManifestTable whose
    PARTITION/BUCKET SPEC EVOLVED mid-history: the even-orderkey half
    of orders committed as 2 files with NO bucket metadata (the
    'legacy spec'), then the odd half appended as 8 bucket-clustered
    files by an instance configured with ``bucket_cols`` — Iceberg's
    spec-evolution situation: one snapshot, files written under two
    different specs."""
    from ..sources.manifest import ManifestTable

    def build(stage: str) -> None:
        legacy = ManifestTable(stage)
        evolved = ManifestTable(stage, bucket_cols=(("o_custkey", 8),))
        o = load_testdata(spark, sf_dir)["orders"].select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        legacy.overwrite(o.filter(F.col("o_orderkey") % 2 == 0).repartition(2))
        odd = o.filter(F.col("o_orderkey") % 2 == 1)
        bexpr = F.pmod(F.xxhash64(F.col("o_custkey").cast("bigint")), F.lit(8))
        for i in range(8):
            evolved.append(odd.filter(bexpr == i).coalesce(1))

    return artifact("manifest_specevo_demo", sf_dir, ("orders",), build)


def manifest_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition/bucket SPEC EVOLUTION as data: on a snapshot whose
    files were written under two specs (2 legacy files without bucket
    metadata + 8 bucket-clustered files recorded by the evolved
    writer), an equality probe must keep EXACTLY the 2 legacy files
    (conservative — no metadata means no claim) plus the 1 matching
    bucket file — pinned by the oracle literal (a regression that
    drops legacy files loses rows; one that stops pruning flips 3 to
    10) — and the probe's rows/sum must equal the raw-orders filter,
    proving old-spec files stay fully readable after evolution. This
    is Iceberg's core spec-evolution contract: pruning is a per-FILE
    decision using whatever metadata THAT file's writer recorded,
    never a table-wide assumption."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(
        ensure_manifest_specevo_demo(spark, sf_dir),
        bucket_cols=(("o_custkey", 8),),
    )
    o = load_testdata(spark, sf_dir)["orders"]
    m = int(o.agg(F.max("o_custkey")).first()[0])
    probe = max(1, m // 3)
    manifest = mt._manifest(spark, mt.current_version(spark))
    kept = mt.pruned_files_eq(spark, "o_custkey", probe)
    return (
        mt.read_where_eq(spark, "o_custkey", probe)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .select(
            F.lit(len(manifest["files"])).alias("n_files_total"),
            F.lit(len(kept)).alias("n_files_kept"),
            "n_rows",
            "sum_price",
        )
    )


MANIFEST_SPECEVO_ORACLE = """
WITH b AS (SELECT max(o_custkey) AS m FROM orders)
SELECT 10 AS n_files_total,
       3 AS n_files_kept,
       count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders, b
WHERE o_custkey = greatest(m // 3, 1)
"""


def manifest_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH as data (``ManifestTable.write_audit_publish``
    + ``operators/expectations`` rules — the Iceberg WAP governance
    pattern): attempt 1 lands a clean slice (publishes, zero
    violations), attempt 2 lands the same slice with negated prices
    (every row violates the price rule → REJECTED: staged files
    deleted, table byte-identical). The oracle pins the outcome
    matrix — published flags, violation counts, and the table row
    count after EACH attempt — in closed form from raw orders, so a
    WAP that leaked a dirty batch (or dropped a clean one) breaks a
    cell. The audit runs on the STAGED files, not the input plan.

    The table build is deliberately on the clock: WAP *is* a write
    path; its cost (two small staged writes + one commit + one audit
    of staged bytes) is what a user pays per gated batch."""
    import os
    import tempfile

    from ..operators.expectations import Rule
    from ..sources.manifest import ManifestTable

    o = (
        load_testdata(spark, sf_dir)["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 100 == 0)
    )
    rules = [
        Rule(
            "price_cap",
            (F.col("o_totalprice") > 0)
            & (F.col("o_totalprice") <= 400000.0),
        ),
        Rule("custkey_present", F.col("o_custkey").isNotNull()),
    ]
    mt = ManifestTable(
        os.path.join(tempfile.mkdtemp(prefix="wap_demo_"), "t"),
        stat_cols=("o_orderkey",),
    )
    clean = o.filter(F.col("o_totalprice") <= 400000.0)
    v1, rep1 = mt.write_audit_publish(clean.coalesce(1), rules)
    after1 = mt.read(spark).count()
    dirty = o.withColumn("o_totalprice", -F.col("o_totalprice"))
    v2, rep2 = mt.write_audit_publish(dirty.coalesce(1), rules)
    after2 = mt.read(spark).count()
    viol1 = next(r.n_violations for r in rep1 if r.rule == "_total")
    viol2 = next(r.n_violations for r in rep2 if r.rule == "_total")
    return local_frame(
        spark,
        [
            (1, int(v1 is not None), int(viol1), int(after1)),
            (2, int(v2 is not None), int(viol2), int(after2)),
        ],
        "attempt int, published int, n_violations bigint, table_rows bigint",
    ).orderBy("attempt")


MANIFEST_WAP_ORACLE = """
WITH s AS (
    SELECT o_totalprice FROM orders WHERE o_orderkey % 100 = 0
), c AS (
    SELECT count(*) FILTER (WHERE o_totalprice <= 400000.0) AS n_ok,
           count(*) AS n_all
    FROM s
)
SELECT CAST(1 AS INT) AS attempt, CAST(1 AS INT) AS published,
       CAST(0 AS BIGINT) AS n_violations, CAST(n_ok AS BIGINT) AS table_rows
FROM c
UNION ALL
SELECT 2, 0, CAST(n_all AS BIGINT), CAST(n_ok AS BIGINT) FROM c
ORDER BY attempt
"""


def ensure_cdf_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset) the CDF demo's MERGED table: the
    quartile base cloned and upserted with the merge query's exact
    update slice. Staged like ``ensure_merge_base_demo``'s clone —
    the fixture build (copy + merge ≈ the write path another query
    already times) stays off this query's clock; the timed part is
    the table_changes READ itself. Versions: base at v3, merge at v4.
    """
    import shutil

    from ..sources.manifest import ManifestTable

    def build(stage: str) -> None:
        o = load_testdata(spark, sf_dir)["orders"].select(
            "o_orderkey", "o_totalprice"
        )
        m = int(o.agg(F.max("o_orderkey")).first()[0])
        shutil.copytree(
            ensure_merge_base_demo(spark, sf_dir), stage, dirs_exist_ok=True
        )
        ok = F.col("o_orderkey")
        lo, hi = m // 10, m // 5
        updates = (
            o.filter((ok >= lo) & (ok <= hi))
            .withColumn("o_totalprice", -F.col("o_totalprice"))
            .unionByName(
                local_frame(
                    spark,
                    [(m + 1000, 42.42)],
                    "o_orderkey bigint, o_totalprice double",
                )
            )
        )
        ManifestTable(stage, stat_cols=("o_orderkey",)).merge(updates, "o_orderkey")

    return artifact("cdf_demo", sf_dir, ("orders",), build)


def manifest_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read (``ManifestTable.table_changes``) pinned
    as data over the staged merged table (quartile base + the merge
    query's second-decile negate + single insert, built once untimed
    by ``ensure_cdf_demo`` — the merge WRITE is already timed by
    ``manifest_merge_upsert``; this query times the CDF READ). The
    diff must report exactly (updates + 1) inserts and (updates)
    deletes — rows the rewrite carried UNCHANGED cancel via multiset
    difference — with decimal-exact insert/delete price sums the
    oracle computes in closed form, while reading only the churned
    files (1 rewritten of 4, emitted as data; a CDF that diffed whole
    snapshots would still pass the row columns but flip the file
    counters)."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(
        ensure_cdf_demo(spark, sf_dir), stat_cols=("o_orderkey",)
    )
    v = mt.current_version(spark)
    base_v = v - 1
    base_files = set(mt._manifest(spark, base_v)["files"])
    rewritten = len(base_files - set(mt._manifest(spark, v)["files"]))

    ch = mt.table_changes(spark, base_v, v)
    return ch.agg(
        F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserts"),
        F.sum(F.when(F.col("_change_type") == "delete", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
        F.sum(
            F.when(
                F.col("_change_type") == "insert", _dec("o_totalprice")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("insert_sum"),
        F.sum(
            F.when(
                F.col("_change_type") == "delete", _dec("o_totalprice")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("delete_sum"),
    ).select(
        "n_inserts",
        "n_deletes",
        "insert_sum",
        "delete_sum",
        F.lit(rewritten).alias("n_files_rewritten"),
        F.lit(len(base_files)).alias("n_files_before"),
    )


MANIFEST_TABLE_CHANGES_ORACLE = """
WITH b AS (SELECT max(o_orderkey) AS m FROM orders),
u AS (
    SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p
    FROM orders, b
    WHERE o_orderkey >= m // 10 AND o_orderkey <= m // 5
)
SELECT (SELECT count(*) FROM u) + 1 AS n_inserts,
       (SELECT count(*) FROM u) AS n_deletes,
       CAST((SELECT -sum(p) FROM u) + CAST(42.42 AS DECIMAL(18,2))
            AS DOUBLE) AS insert_sum,
       CAST((SELECT sum(p) FROM u) AS DOUBLE) AS delete_sum,
       1 AS n_files_rewritten,
       4 AS n_files_before
"""


def manifest_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse METADATA-TABLE surface
    (``ManifestTable.files_table`` — Iceberg's ``table.files`` /
    Delta's DESCRIBE DETAIL) pinned as data: the quartile merge base's
    four files must expose exactly the per-file o_orderkey [min, max]
    ranges and zero null counts the writer recorded, matching the
    oracle's closed-form recomputation of the same quartile slices
    from raw orders. The frame is built from the manifest alone —
    inspecting layout and skipping potential NEVER touches a data
    file (file names are layout-random uuids, so the comparison keys
    on the recorded stats, ordered by range)."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(
        ensure_merge_base_demo(spark, sf_dir), stat_cols=("o_orderkey",)
    )
    return (
        mt.files_table(spark)
        .select(
            F.col("o_orderkey_min").cast("bigint").alias("key_min"),
            F.col("o_orderkey_max").cast("bigint").alias("key_max"),
            F.col("o_orderkey_nulls").alias("n_nulls"),
        )
        .orderBy("key_min")
    )


MANIFEST_FILES_METADATA_ORACLE = """
WITH b AS (SELECT max(o_orderkey) AS m FROM orders)
SELECT CAST(min(o_orderkey) AS BIGINT) AS key_min,
       CAST(max(o_orderkey) AS BIGINT) AS key_max,
       CAST(0 AS INT) AS n_nulls
FROM orders, b WHERE o_orderkey <= m // 4
UNION ALL
SELECT CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT),
       CAST(0 AS INT)
FROM orders, b WHERE o_orderkey > m // 4 AND o_orderkey <= m // 2
UNION ALL
SELECT CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT),
       CAST(0 AS INT)
FROM orders, b WHERE o_orderkey > m // 2 AND o_orderkey <= (3 * m) // 4
UNION ALL
SELECT CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT),
       CAST(0 AS INT)
FROM orders, b WHERE o_orderkey > (3 * m) // 4
ORDER BY key_min
"""


def manifest_history_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit-log surface (``ManifestTable.history`` — DESCRIBE
    HISTORY) made driver-checkable over the deterministic three-commit
    demo table: operation kinds and per-snapshot row counts must match
    the oracle's closed-form replay of the same year slices. The log
    itself is manifest metadata (bounded by version count), so the
    local_frame here is metadata-scale, not a data collect.

    Deepened pins (r13), both metadata-only:

    - ``rows_added`` — each commit's delta as the MANIFESTS record it,
      closed-form per year slice (an append that silently dropped or
      duplicated rows moves this even where a later snapshot total is
      compensated);
    - ``prev_files_carried`` — 1 iff every file of version v-1 appears
      BY NAME in version v's file list: the no-rewrite promise of
      append (the same minimality contract manifest_merge_upsert pins
      for MERGE). The oracle states it closed-form: 1 for both
      appends and, vacuously, for the base overwrite."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(ensure_manifest_demo(spark, sf_dir))
    h = sorted(mt.history(spark), key=lambda e: e["version"])
    files = {
        e["version"]: set(mt.manifest_files(spark, e["version"]))
        for e in h
    }
    rows = []
    prev_rows = 0
    for e in h:
        v = e["version"]
        carried = 1 if v == 0 else int(files[v - 1] <= files[v])
        rows.append(
            (v, e["op"], int(e["rows"]), int(e["rows"]) - prev_rows, carried)
        )
        prev_rows = int(e["rows"])
    return local_frame(
        spark,
        rows,
        "version int, op string, n_rows bigint, rows_added bigint, "
        "prev_files_carried int",
    ).orderBy("version")


MANIFEST_HISTORY_ORACLE = """
SELECT 0 AS version, 'overwrite' AS op,
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) < 1997) AS n_rows,
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) < 1997)
           AS rows_added,
       1 AS prev_files_carried
UNION ALL
SELECT 1, 'append',
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) <= 1997),
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) = 1997),
       1
UNION ALL
SELECT 2, 'append',
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) <= 1998),
       (SELECT count(*) FROM lineitem WHERE year(l_shipdate) = 1998),
       1
ORDER BY version
"""


def ensure_schema_evolution_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset) a two-snapshot ADD-COLUMN
    evolution surface: v0 commits the low half of customer WITHOUT
    ``c_mktsegment``; v1 appends the high half WITH it. Reads never
    mutate the table, so the build is cacheable like the other demo
    fixtures."""
    from ..sources.manifest import ManifestTable

    def build(stage: str) -> None:
        mt = ManifestTable(stage)
        c = load_testdata(spark, sf_dir)["customer"]
        k = int(c.agg(F.max("c_custkey")).first()[0]) // 2
        ck = F.col("c_custkey")
        mt.overwrite(c.filter(ck <= k).select("c_custkey", "c_acctbal"))
        mt.append(
            c.filter(ck > k).select("c_custkey", "c_acctbal", "c_mktsegment")
        )

    return artifact("schema_evolution_demo", sf_dir, ("customer",), build)


def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-COLUMN schema evolution pinned as data (sources/manifest.py
    ``ManifestTable.read``'s evolved-snapshot path): v0 committed
    customer WITHOUT ``c_mktsegment``, v1 appended it. Three promises,
    all against the oracle's closed-form replay of the same halves:

    - time travel to v0 still reads the ORIGINAL 2-column schema
      (``n_cols``) and full row count;
    - the live snapshot unions the file schemas (3 columns) without a
      rewrite of the v0 files;
    - the evolved column NULL-backfills exactly the pre-evolution rows
      (``n_null_segment`` = the v0 half's row count — a wrong merge
      policy would either drop those rows or invent values).

    Per-version counts are single aggregates; the assembled result is
    version-count-bounded metadata, not a data collect."""
    from ..sources.manifest import ManifestTable

    mt = ManifestTable(ensure_schema_evolution_demo(spark, sf_dir))
    r0 = mt.read(spark, version=0)
    r1 = mt.read(spark, version=1)
    rows = [
        (0, r0.count(), len(r0.columns), 0),
        (
            1,
            r1.count(),
            len(r1.columns),
            r1.filter(F.col("c_mktsegment").isNull()).count(),
        ),
    ]
    return local_frame(
        spark,
        rows, "version int, n_rows bigint, n_cols int, n_null_segment bigint"
    ).orderBy("version")


MANIFEST_SCHEMA_EVOLUTION_ORACLE = """
WITH b AS (SELECT max(c_custkey) // 2 AS k FROM customer)
SELECT 0 AS version,
       (SELECT count(*) FROM customer, b WHERE c_custkey <= k) AS n_rows,
       2 AS n_cols,
       CAST(0 AS BIGINT) AS n_null_segment
UNION ALL
SELECT 1,
       (SELECT count(*) FROM customer),
       3,
       (SELECT count(*) FROM customer, b WHERE c_custkey <= k)
ORDER BY version
"""


def manifest_vacuum_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum's safety contract pinned as data (sources/manifest.py
    ``ManifestTable.vacuum``): on a table with a failed writer's
    ORPHAN file and two superseded snapshots, vacuum with
    keep_versions=1 must delete exactly {orphan, the 2 files only old
    manifests reference} and keep the live snapshot byte-complete:

    - ``n_deleted`` = 3 and ``orphan_removed`` = 1 (the planted stray
      is among the deletions);
    - ``live_files_kept`` = 1 (the compacted file survives);
    - ``rows_after`` ≡ ``rows_before`` — the invariant that matters:
      vacuum NEVER deletes a file the live snapshot references.

    The table is nation-sized and rebuilt per call (vacuum mutates it);
    every count here is metadata- or 25-row-scale."""
    import os
    import tempfile

    from ..sources.manifest import ManifestTable

    nat = load_testdata(spark, sf_dir)["nation"].select(
        "n_nationkey", "n_name"
    )
    mt = ManifestTable(
        os.path.join(tempfile.mkdtemp(prefix="manifest_vacuum_demo_"), "t")
    )
    nk = F.col("n_nationkey")
    mt.overwrite(nat.filter(nk < 12).coalesce(1))  # v0: file A
    mt.append(nat.filter(nk >= 12).coalesce(1))  # v1: files {A, B}
    mt.compact(spark, target_files=1)  # v2: file C (A, B now stale)
    # failed-writer debris: landed in data/ but never committed —
    # backdated past the in-flight orphan grace (r13), so the DEFAULT
    # vacuum path is what this query pins: a fresh never-referenced
    # file would be protected as a possible live writer's stage
    import time as _time

    orphan = os.path.join(mt.path, "data", "orphan-deadbeef.parquet")
    open(orphan, "wb").close()
    _old = _time.time() - 7200
    os.utime(orphan, (_old, _old))

    rows_before = mt.read(spark).count()
    deleted = mt.vacuum(spark, keep_versions=1)
    live = mt._manifest(spark, mt.current_version(spark))["files"]
    rows_after = mt.read(spark).count()

    return local_frame(
        spark,
        [
            (
                len(deleted),
                int("orphan-deadbeef.parquet" in deleted),
                len(live),
                rows_before,
                rows_after,
            )
        ],
        "n_deleted int, orphan_removed int, live_files_kept int, "
        "rows_before bigint, rows_after bigint",
    )


MANIFEST_VACUUM_SAFETY_ORACLE = """
SELECT 3 AS n_deleted, 1 AS orphan_removed, 1 AS live_files_kept,
       (SELECT count(*) FROM nation) AS rows_before,
       (SELECT count(*) FROM nation) AS rows_after
"""


def ensure_merge_base_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset) the merge demo's IMMUTABLE base:
    orders committed as four orderkey-quartile files with recorded key
    ranges (versions 0..3). `manifest_merge_upsert` clones this
    directory per call — merge mutates its table, so the shared base
    is never merged into directly; the clone is a metadata-scale file
    copy (4 files), not 4 Spark write jobs, which keeps the fixture
    cost out of the timed query."""
    from ..sources.manifest import ManifestTable

    def build(stage: str) -> None:
        mt = ManifestTable(stage, stat_cols=("o_orderkey",))
        o = load_testdata(spark, sf_dir)["orders"].select(
            "o_orderkey", "o_totalprice"
        )
        m = int(o.agg(F.max("o_orderkey")).first()[0])
        b1, b2, b3 = m // 4, m // 2, (3 * m) // 4
        ok = F.col("o_orderkey")
        # four separate commits, one single-file slice each: the file
        # boundaries must be EXACT quartiles (the oracle pins the
        # carried-file count) — a range-partitioned single write would
        # sample its bounds and a union of coalesced slices collapses
        # to one output partition, so per-slice commits are the
        # deterministic layout
        mt.overwrite(o.filter(ok <= b1).coalesce(1))
        mt.append(o.filter((ok > b1) & (ok <= b2)).coalesce(1))
        mt.append(o.filter((ok > b2) & (ok <= b3)).coalesce(1))
        mt.append(o.filter(ok > b3).coalesce(1))

    return artifact("merge_base_demo", sf_dir, ("orders",), build)


def manifest_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE made driver-checkable (sources/manifest.py
    ``ManifestTable.merge``): commit orders as four orderkey-quartile
    files with recorded key ranges, MERGE an update slice (second
    decile, whole-row replacement with negated price) plus one brand-
    new key (insert), then verify THREE merge promises as data:

    - upsert semantics: post-merge row count = pre + 1 insert, the
      updated rows carry the new (negative) price, and the total is
      exactly what the oracle computes from raw orders;
    - touched-file minimality: the update range overlaps only the
      first quartile file and the insert key is beyond every range, so
      exactly 3 of the 4 base files must be carried forward BY NAME
      (``n_files_carried`` — pinned by the oracle literal; a stats
      regression degrading merge to a full rewrite flips it to 0);
    - snapshot isolation: the pre-merge version still reads complete
      (``n_rows_before``).

    The table merge runs against is a fresh CLONE of the shared
    immutable base (`ensure_merge_base_demo`) per call: merge mutates
    its table, so merging the shared base directly would double-apply
    the update on re-runs and break determinism; cloning is a 4-file
    copy (metadata-scale), so the timed query measures the MERGE, not
    the fixture build."""
    import os
    import shutil
    import tempfile

    from ..sources.manifest import ManifestTable

    o = load_testdata(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_totalprice"
    )
    m = int(o.agg(F.max("o_orderkey")).first()[0])
    base_path = ensure_merge_base_demo(spark, sf_dir)
    work = os.path.join(
        tempfile.mkdtemp(prefix="manifest_merge_demo_"), "t"
    )
    shutil.copytree(base_path, work)
    mt = ManifestTable(work, stat_cols=("o_orderkey",))
    base_v = mt.current_version(spark)
    base_files = set(mt._manifest(spark, base_v)["files"])

    ok = F.col("o_orderkey")
    lo, hi = m // 10, m // 5
    updates = (
        o.filter((ok >= lo) & (ok <= hi))
        .withColumn("o_totalprice", -F.col("o_totalprice"))
        .unionByName(
            local_frame(
                spark,
                [(m + 1000, 42.42)], "o_orderkey bigint, o_totalprice double"
            )
        )
    )
    v = mt.merge(updates, "o_orderkey")
    carried = len(base_files & set(mt._manifest(spark, v)["files"]))

    agg_before = mt.read(spark, version=base_v).agg(
        F.count(F.lit(1)).alias("n_rows_before")
    )
    agg_after = mt.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows_after"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_updated"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        # deepened pin (r12): WHICH keys the merge touched — a merge
        # that replaced an off-by-one key range can collide on
        # n_updated but never on the touched-key checksum.
        F.sum(F.when(F.col("o_totalprice") < 0, F.col("o_orderkey")))
        .cast("long")
        .alias("updated_key_sum"),
    )
    return agg_before.crossJoin(agg_after).select(
        "n_rows_before",
        "n_rows_after",
        "n_updated",
        "sum_price",
        "updated_key_sum",
        F.lit(carried).alias("n_files_carried"),
    )


MANIFEST_MERGE_UPSERT_ORACLE = """
WITH b AS (SELECT max(o_orderkey) AS m FROM orders)
SELECT (SELECT count(*) FROM orders) AS n_rows_before,
       (SELECT count(*) FROM orders) + 1 AS n_rows_after,
       (SELECT count(*) FROM orders, b
         WHERE o_orderkey >= m // 10 AND o_orderkey <= m // 5) AS n_updated,
       CAST((SELECT sum(CASE WHEN o_orderkey >= m // 10
                              AND o_orderkey <= m // 5
                             THEN -CAST(o_totalprice AS DECIMAL(18,2))
                             ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
               FROM orders, b)
            + CAST(42.42 AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
       (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders, b
         WHERE o_orderkey >= m // 10 AND o_orderkey <= m // 5)
           AS updated_key_sum,
       3 AS n_files_carried
"""


def q7_bination_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations, both
    directions, by year — supplier nation and customer nation resolved
    through two independent broadcast dims, the direction filter as a
    residual OR over their outputs. One fact shuffle (l_orderkey)."""
    t = load_testdata(spark, sf_dir)
    nat = t["nation"].select("n_nationkey", "n_name")
    sup = F.broadcast(
        t["supplier"]
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = F.broadcast(
        t["customer"]
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            # deepened pin (r11): exact line count per direction-year
            # cell — the direction residual verified as an integer.
            F.count(F.lit(1)).alias("n_lines"),
            # deepened pin (r12): per-cell line membership checksum
            # (same contract as q5's line_orderkey_sum)
            F.sum("l_orderkey").cast("bigint").alias("line_orderkey_sum"),
        )
        .orderBy("supp_nation", "cust_nation", "yr")
    )


Q7_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines,
       CAST(sum(l_orderkey) AS BIGINT) AS line_orderkey_sum
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, yr
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share over one year — the part
    dim broadcast, conditional aggregation (sum-if) in one pass, the
    percentage derived from two decimal-exact sums so the division is
    bit-identical across engines."""
    t = load_testdata(spark, sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    joined = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_lines"),
        # deepened pin (r11): the promo-line COUNT — pins the
        # conditional split as an exact integer, not only through the
        # decimal revenue pair.
        F.sum((F.col("p_type") == "PROMO").cast("bigint")).alias(
            "n_promo_lines"
        ),
        F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast(DEC)))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(revenue).cast("double").alias("total_revenue"),
        # deepened pin (r12): WHICH lines counted as promo — twin
        # swaps across the PROMO boundary balance the count but not
        # the key checksum.
        F.coalesce(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("l_orderkey"))),
            F.lit(0),
        )
        .cast("long")
        .alias("promo_orderkey_sum"),
    )
    return agg.select(
        "n_lines",
        "n_promo_lines",
        "promo_revenue",
        "total_revenue",
        "promo_orderkey_sum",
        round6(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")
        ).alias("promo_pct"),
    )


Q14_ORACLE = """
WITH a AS (
    SELECT count(*) AS n_lines,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_promo_lines,
           CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE 0 END) AS DOUBLE) AS promo_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_revenue,
           CAST(coalesce(sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_orderkey END), 0) AS BIGINT)
               AS promo_orderkey_sum
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
)
SELECT n_lines, n_promo_lines, promo_revenue, total_revenue,
       promo_orderkey_sum,
       floor(100.0 * promo_revenue / total_revenue * 1e6 + 0.5) / 1e6
           AS promo_pct
FROM a
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from unusually small orders of one
    brand's parts — lineitems with quantity below 20% of their part's
    average. The correlated avg decorrelates into a per-part aggregate
    joined back; the threshold compares in cross-multiplied integers
    (5·qty·count < sum_qty), exact on both engines where a float avg
    would drift in the last ulp."""
    t = load_testdata(spark, sf_dir)
    brand_parts = F.broadcast(
        t["part"].filter(F.col("p_brand") == "Brand#2").select("p_partkey")
    )
    li = t["lineitem"].join(
        brand_parts, F.col("l_partkey") == F.col("p_partkey")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(qty).alias("_sum_q"), F.count(F.lit(1)).alias("_n_q")
    )
    small = li.join(per_part, "l_partkey").filter(
        qty * F.lit(5) * F.col("_n_q") < F.col("_sum_q")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.round(
            F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 6
        ).alias("avg_yearly"),
        # deepened pin (r11): WHICH lines qualified — the orderkey
        # checksum moves if the cross-multiplied threshold admits a
        # different (same-sized) set of small-quantity lines.
        F.sum("l_orderkey").alias("small_orderkey_sum"),
    )


Q17_ORACLE = """
WITH li AS (
    SELECT l_partkey, l_orderkey, CAST(round(l_quantity) AS BIGINT) AS qty,
           l_extendedprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#2'
), pp AS (
    SELECT l_partkey, sum(qty) AS sum_q, count(*) AS n_q
    FROM li GROUP BY 1
)
SELECT count(*) AS n_small,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly,
       CAST(sum(l_orderkey) AS BIGINT) AS small_orderkey_sum
FROM li JOIN pp USING (l_partkey)
WHERE qty * 5 * pp.n_q < pp.sum_q
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three (brand,
    size-range, quantity-range) conjuncts — the disjunction spans the
    broadcast part dim and the fact columns, so it evaluates after the
    join while the fact scan still prunes to the three columns it
    needs. One row out."""
    t = load_testdata(spark, sf_dir)
    li = t["lineitem"].join(
        F.broadcast(t["part"].select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(float(qlo), float(qhi))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return li.filter(
        arm("Brand#2", 15, 1, 11)
        | arm("Brand#15", 25, 10, 20)
        | arm("Brand#19", 35, 20, 30)
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(revenue).cast("double").alias("revenue"),
        # deepened pin (r11): per-arm line counts — the three brands
        # are disjoint, so the disjunction's attribution splits
        # exactly; an arm with a shifted range bound moves its own
        # count where the OR-total could mask it.
        F.sum(arm("Brand#2", 15, 1, 11).cast("bigint")).alias("n_arm1"),
        F.sum(arm("Brand#15", 25, 10, 20).cast("bigint")).alias("n_arm2"),
        F.sum(arm("Brand#19", 35, 20, 30).cast("bigint")).alias("n_arm3"),
        # deepened pin (r12): membership AND arm attribution in one
        # checksum — the brands are disjoint, so each qualifying line
        # weights its key by its arm index; a line admitted by the
        # wrong arm (or a twin swap across arms) moves this even
        # where all three counts balance.
        F.sum(
            F.col("l_orderkey")
            * (
                arm("Brand#2", 15, 1, 11).cast("long")
                + F.lit(2) * arm("Brand#15", 25, 10, 20).cast("long")
                + F.lit(3) * arm("Brand#19", 35, 20, 30).cast("long")
            )
        )
        .cast("long")
        .alias("arm_weighted_key_sum"),
    )


Q19_ORACLE = """
SELECT count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(sum(CASE WHEN p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
                      AND l_quantity BETWEEN 1 AND 11
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_arm1,
       CAST(sum(CASE WHEN p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25
                      AND l_quantity BETWEEN 10 AND 20
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_arm2,
       CAST(sum(CASE WHEN p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35
                      AND l_quantity BETWEEN 20 AND 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_arm3,
       CAST(sum(l_orderkey *
                (CASE WHEN p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
                       AND l_quantity BETWEEN 1 AND 11 THEN 1 ELSE 0 END
                 + 2 * CASE WHEN p_brand = 'Brand#15'
                             AND p_size BETWEEN 1 AND 25
                             AND l_quantity BETWEEN 10 AND 20
                            THEN 1 ELSE 0 END
                 + 3 * CASE WHEN p_brand = 'Brand#19'
                             AND p_size BETWEEN 1 AND 35
                             AND l_quantity BETWEEN 20 AND 30
                            THEN 1 ELSE 0 END)) AS BIGINT)
           AS arm_weighted_key_sum
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (argmax): revenue per supplier over one
    quarter, then the supplier(s) achieving the maximum — the view +
    scalar-subquery formulation decorrelated to aggregate →
    broadcast scalar max → equality filter. The revenue stays a
    DECIMAL through the comparison (exact equality; a double would
    make 'equals the max' ulp-fragile) and becomes DOUBLE only in
    the output projection."""
    t = load_testdata(spark, sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(revenue).alias("_rev"),
            # deepened pin (r11): the winner's contributing line count
            # — an exact integer behind the decimal argmax.
            F.count(F.lit(1)).alias("n_lines"),
            # deepened pin (r12): WHICH lines — the exact orderkey
            # checksum of the winning quarter's line set.
            F.sum("l_orderkey").cast("long").alias("line_orderkey_sum"),
        )
    )
    mx = F.broadcast(rev.agg(F.max("_rev").alias("_mx")))
    return (
        rev.crossJoin(mx)
        .filter(F.col("_rev") == F.col("_mx"))
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
            "n_lines",
            "line_orderkey_sum",
        )
        .orderBy("s_suppkey")
    )


Q15_ORACLE = """
WITH r AS (
    SELECT l_suppkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev,
           count(*) AS n_lines,
           CAST(sum(l_orderkey) AS BIGINT) AS line_orderkey_sum
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(r.rev AS DOUBLE) AS total_revenue,
       r.n_lines AS n_lines, r.line_orderkey_sum AS line_orderkey_sum
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE r.rev = (SELECT max(rev) FROM r)
ORDER BY s_suppkey
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated min over a snowflake): for every
    size-15 part, the EUROPE supplier(s) offering the minimum unit
    price. The testdata has no partsupp, so supply cost is derived as
    each (part, supplier)'s minimum observed ``l_extendedprice /
    l_quantity`` — the correlated ``MIN(ps_supplycost)`` subquery
    becomes a window min over the per-part group.

    Scale: the supplier→nation→region snowflake collapses to ONE
    broadcast dim before it touches the fact table; the (part, supp)
    cost aggregation is the only fact shuffle, and the correlated min
    rides the same partitioning as a window — no self-join of the
    aggregate. The 1-in-50-selective ``p_size=15`` part filter pushes
    BELOW that aggregation as a broadcast semi-join on the fact side
    (r18, guide §3.4): the final join keeps only size-15 parts and the
    per-part window min depends only on rows of its own part, so
    dropping other parts' lines before the shuffle changes nothing —
    the aggregation now shuffles ~1/50 of lineitem. Unit price is IEEE
    double on both engines (identical division), so min/round replay
    exactly."""
    t = load_testdata(spark, sf_dir)
    euro_sup = F.broadcast(
        t["supplier"]
        .join(
            t["nation"], F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            t["region"].filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts15 = t["part"].filter(F.col("p_size") == 15)
    costs = (
        t["lineitem"]
        .join(
            F.broadcast(parts15.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            round6(
                F.min(F.col("l_extendedprice") / F.col("l_quantity"))
            ).alias("supply_cost")
        )
    )
    elig = costs.join(euro_sup, F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    best = elig.withColumn("_min_cost", F.min("supply_cost").over(w)).filter(
        F.col("supply_cost") == F.col("_min_cost")
    )
    return (
        best.join(
            F.broadcast(parts15),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "supply_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_ORACLE = """
WITH costs AS (
    SELECT l_partkey, l_suppkey,
           floor(min(l_extendedprice / l_quantity) * 1e6 + 0.5) / 1e6
               AS supply_cost
    FROM lineitem GROUP BY 1, 2
), elig AS (
    SELECT c.l_partkey, c.supply_cost, s_acctbal, s_name, n_name
    FROM costs c
    JOIN supplier ON c.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_name,
       supply_cost
FROM elig
JOIN part ON elig.l_partkey = p_partkey
WHERE p_size = 15
  AND supply_cost = (SELECT min(e2.supply_cost) FROM elig e2
                     WHERE e2.l_partkey = elig.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market-share ratio): of all revenue flowing to
    AMERICA-region customers over 1995-1996, the share supplied by
    NATION_3 suppliers, per order year. Numerator and denominator are
    both DECIMAL sums over the SAME joined row set — one aggregation,
    two conditional measures, ratio at the output boundary (never a
    join of two aggregates).

    Scale: customer-side region filter and both nation lookups are
    broadcast; the fact shuffle is the lineitem⋈orders join plus one
    partial+final aggregate keyed by ~2 years."""
    t = load_testdata(spark, sf_dir)
    cust_america = F.broadcast(
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            t["region"].filter(F.col("r_name") == "AMERICA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    sup_nation = F.broadcast(
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("sup_nation"))
    )
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        t["lineitem"]
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_america, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("sup_nation") == "NATION_3", rev).otherwise(
                    F.lit(0).cast(DEC)
                )
            ).alias("_nat"),
            F.sum(rev).alias("_all"),
            # deepened pin (r11): the ratio's integer backbone — line
            # counts per year for the nation and overall, exact where
            # the 6-decimal share leaves slack.
            F.sum(
                (F.col("sup_nation") == "NATION_3").cast("bigint")
            ).alias("n_nation_lines"),
            F.count(F.lit(1)).alias("n_lines"),
            # deepened pin (r12): WHICH lines feed the numerator — a
            # line attributed to the wrong supplier nation can balance
            # both counts in a twin swap but never the key checksum.
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("sup_nation") == "NATION_3", F.col("l_orderkey")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("nation_orderkey_sum"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_nat").cast("double") / F.col("_all").cast("double"), 6
            ).alias("mkt_share"),
            "n_nation_lines",
            "n_lines",
            "nation_orderkey_sum",
        )
        .orderBy("o_year")
    )


Q8_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(
         CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
         6) AS mkt_share,
       CAST(sum(CASE WHEN sn.n_name = 'NATION_3' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nation_lines,
       count(*) AS n_lines,
       CAST(coalesce(sum(CASE WHEN sn.n_name = 'NATION_3'
                              THEN l_orderkey END), 0) AS BIGINT)
           AS nation_orderkey_sum
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1 ORDER BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product profit, the classic multi-way join):
    per (supplier nation, order year) profit on 'bolt' parts. Without
    partsupp, cost is ``p_retailprice × l_quantity`` — profit =
    discounted revenue minus that, all DECIMAL until the output.

    Scale: part (filtered) and supplier→nation are broadcast; the only
    wide exchange is lineitem⋈orders on the orderkey, then a
    partial+final aggregate on (nation, year) — the 6-way TPC-H plan
    with every dimension edge collapsed to a broadcast."""
    t = load_testdata(spark, sf_dir)
    bolt_parts = F.broadcast(
        t["part"]
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    sup_nation = F.broadcast(
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    amount = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC) - _dec("l_discount")
    ) - _dec("p_retailprice") * _dec("l_quantity")
    return (
        t["lineitem"]
        .join(bolt_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.sum(amount).cast("double").alias("sum_profit"),
            # deepened pin (r11): contributing line count per cell.
            F.count(F.lit(1)).alias("n_lines"),
            # deepened pin (r12): per-cell line membership checksum
            # (same contract as q5/q7's line_orderkey_sum)
            F.sum("l_orderkey").cast("bigint").alias("line_orderkey_sum"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q9_ORACLE = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                - CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_profit,
       count(*) AS n_lines,
       CAST(sum(l_orderkey) AS BIGINT) AS line_orderkey_sum
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (HAVING over a scalar subquery): per-part
    revenue through EUROPE suppliers, keeping parts above 0.1% of the
    grand total. The scalar total is the aggregate OF the grouped
    aggregate — computed once from the per-part frame and broadcast
    back as a 1-row crossJoin, so the fact table is scanned and
    shuffled exactly once for both levels.

    The threshold comparison happens in DOUBLE on both engines from
    identically-derived values (decimal sums cast at the boundary),
    so the boundary is bit-reproducible."""
    t = load_testdata(spark, sf_dir)
    euro_sup = F.broadcast(
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            t["region"].filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    per_part = (
        t["lineitem"]
        .join(euro_sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.sum(rev).alias("_v"),
            # deepened pin (r11): contributing line count per part.
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    total = F.broadcast(per_part.agg(F.sum("_v").alias("_t")))
    return (
        per_part.crossJoin(total)
        .filter(
            F.col("_v").cast("double") > F.col("_t").cast("double") * 0.001
        )
        .select(
            "p_partkey",
            F.col("_v").cast("double").alias("part_value"),
            "n_lines",
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


Q11_ORACLE = """
WITH pv AS (
    SELECT l_partkey AS p_partkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS v,
           count(*) AS n_lines
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY 1
)
SELECT p_partkey, CAST(v AS DOUBLE) AS part_value, n_lines
FROM pv
WHERE CAST(v AS DOUBLE) > (SELECT CAST(sum(v) AS DOUBLE) FROM pv) * 0.001
ORDER BY part_value DESC, p_partkey
"""


def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (CASE aggregation over a join): lineitems
    shipped in 1996 bucketed by return flag (the shipmode stand-in —
    the testdata has no l_shipmode), counting high- vs low-priority
    orders via conditional sums. One join shuffle, one tiny
    3-group aggregate; the CASE arms are JVM expressions inside the
    partial aggregate."""
    t = load_testdata(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
            # deepened pins (r11): the join's fan-out shape — distinct
            # orders behind the line counts (a duplicated join row
            # inflates lines but not orders), and an exact key
            # checksum of line→order attribution.
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum("l_orderkey").alias("line_orderkey_sum"),
        )
        .orderBy("l_returnflag")
    )


Q12_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
       count(DISTINCT o_orderkey) AS n_orders,
       CAST(sum(l_orderkey) AS BIGINT) AS line_orderkey_sum
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1 ORDER BY 1
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (anti-join + COUNT DISTINCT): distinct supplier
    count per (brand, type, size) for selected parts, EXCLUDING
    suppliers from a computed denylist (negative account balance —
    the '%Complaints%' stand-in). The denylist is a subquery → tiny
    broadcast anti-join; the exact COUNT(DISTINCT) expands to
    Catalyst's two-phase distinct aggregate keyed by the group."""
    t = load_testdata(spark, sf_dir)
    bad_sup = F.broadcast(
        t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    sel_parts = F.broadcast(
        t["part"]
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 9, 14, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(bad_sup, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(sel_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            # deepened pin (r11): WHICH suppliers — distinct-key
            # checksum riding the same two-phase distinct Expand; a
            # denylisted supplier leaking into one group moves it
            # even when the count coincides.
            F.sum_distinct(F.col("l_suppkey")).alias("supplier_key_sum"),
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt,
       CAST(sum(DISTINCT l_suppkey) AS BIGINT) AS supplier_key_sum
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-join chain): ASIA suppliers who
    DOMINATE some 'small…' part — shipped more than 30% of that
    part's total 1996 volume. Without partsupp's availqty, the
    "excess stock" predicate becomes per-(part,supplier) quantity vs
    the per-part total — a two-level aggregate feeding a semi-join
    chain (pairs → dominant suppkeys → suppliers), exactly Q20's
    nesting depth.

    Scale: part filter broadcast before the fact aggregate; the
    per-part total rides the same shuffled partitioning (partkey is a
    prefix of the pair key); the final semi-join probes a tiny
    distinct suppkey set."""
    t = load_testdata(spark, sf_dir)
    small_parts = F.broadcast(
        t["part"].filter(F.col("p_name").like("small%")).select("p_partkey")
    )
    pairs = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(small_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("_q"))
    )
    totals = pairs.groupBy("l_partkey").agg(F.sum("_q").alias("_tq"))
    # deepened pin (r11): count HOW MANY parts each supplier dominates
    # (and their key checksum) instead of only the bare semi-join
    # membership — a threshold off by an ulp admits/drops a
    # (part, supplier) pair, which moves these even when the supplier
    # set happens to survive.
    dominant = (
        pairs.join(totals, "l_partkey")
        .filter(
            F.col("_q").cast("double") > F.col("_tq").cast("double") * 0.3
        )
        .groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_dominant_parts"),
            F.sum("l_partkey").alias("dominant_partkey_sum"),
        )
    )
    asia_sup = (
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            t["region"].filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        asia_sup.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", "n_dominant_parts", "dominant_partkey_sum")
        .orderBy("s_name")
    )


Q20_ORACLE = """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
), pt AS (
    SELECT l_partkey, sum(q) AS tq FROM ps GROUP BY 1
), dom AS (
    SELECT ps.l_suppkey,
           count(DISTINCT ps.l_partkey) AS n_dominant_parts,
           CAST(sum(ps.l_partkey) AS BIGINT) AS dominant_partkey_sum
    FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
    WHERE CAST(ps.q AS DOUBLE) > CAST(pt.tq AS DOUBLE) * 0.3
    GROUP BY 1
)
SELECT s_name, n_dominant_parts, dominant_partkey_sum
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN dom ON s_suppkey = dom.l_suppkey
WHERE r_name = 'ASIA'
ORDER BY s_name
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the hard one: correlated EXISTS + NOT EXISTS):
    suppliers who single-handedly held up multi-supplier finalized
    orders. 'Late' is adapted to the available columns: shipped more
    than 90 days after the order date (no l_commitdate/l_receiptdate
    in the testdata). A line is a 'wait' when its order has ANOTHER
    supplier (EXISTS) but NO other LATE supplier (NOT EXISTS).

    Decorrelation (r18, guide §2.1): ONE lineitem⋈orders pass grouped
    to (order, supplier) granularity with a per-supplier any-late
    flag, then the two correlated counts ride a window over the SAME
    tiny aggregate — distinct suppliers = rows per order, distinct
    late suppliers = sum of the flag. The r17 shape computed the
    lineitem⋈orders join TWICE (per-order aggregate + the distinct
    late-line set) and joined them back; now the fact tables are
    scanned and joined once, and everything after the first aggregate
    is per-(order,supplier) metadata. The DuckDB oracle keeps the
    textbook EXISTS/NOT EXISTS formulation, pinning the rewrite's
    equivalence."""
    t = load_testdata(spark, sf_dir)
    lo = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late.cast("int")).alias("_late")
    )
    w = Window.partitionBy("l_orderkey")
    return (
        per_os.withColumn("_ns", F.count(F.lit(1)).over(w))
        .withColumn("_nl", F.sum("_late").over(w))
        .filter(
            (F.col("_late") == 1) & (F.col("_ns") > 1) & (F.col("_nl") == 1)
        )
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("numwait"),
            # deepened pin (r11): WHICH orders the supplier held up —
            # exact key checksum of the waiting set behind numwait.
            F.sum("l_orderkey").alias("waiting_orderkey_sum"),
        )
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_ORACLE = """
SELECT s_name, count(*) AS numwait,
       CAST(sum(l_orderkey) AS BIGINT) AS waiting_orderkey_sum
FROM (
    SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
    FROM lineitem l1
    JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
    WHERE o1.o_orderstatus = 'F'
      AND l1.l_shipdate > o1.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate
                                           + INTERVAL 90 DAY)
) t
JOIN supplier ON t.l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def salted_join_user_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe enrichment join driven through operators/joins.
    salted_join: purchases joined to a per-user click-count dimension
    with the TOP user explicitly salted (hot_keys from a heavy-hitter
    probe — in production that list is one cms_heavy_hitters query
    away). Equivalence with the plain join is what the oracle checks;
    the salting property test (test_salted_join_matches_plain_join_
    under_skew) pins the multiset identity directly."""
    from ..operators.joins import salted_join

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "value"
    )
    hot = [
        r.user_id
        for r in purchases.groupBy("user_id")
        .count()
        .orderBy(F.desc("count"), "user_id")
        .limit(1)
        .collect()
    ]
    joined = salted_join(
        purchases, clicks, ["user_id"], how="left", salt=8, hot_keys=hot
    )
    top = (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(_dec("value")).cast("double").alias("purchase_total"),
            F.coalesce(F.max("n_clicks"), F.lit(0)).alias("n_clicks"),
        )
        .orderBy(F.desc("purchase_total"), "user_id")
        .limit(10)
    )
    # deepened pin (r10): explicit rank over the limited 10 rows — the
    # driver's hash is order-insensitive, so the top-10 ORDERING was
    # unpinned (same trick as topk_orders; plan stays TakeOrdered)
    w = Window.orderBy(F.desc("purchase_total"), "user_id")
    return top.withColumn("rn", F.row_number().over(w).cast("int"))


SALTED_JOIN_ORACLE = """
WITH clicks AS (
    SELECT user_id, count(*) AS n FROM events
    WHERE event_type = 'click' GROUP BY 1
), top AS (
    SELECT e.user_id, count(*) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS purchase_total,
           COALESCE(max(n), 0) AS n_clicks
    FROM events e LEFT JOIN clicks USING (user_id)
    WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY purchase_total DESC, user_id LIMIT 10
)
SELECT user_id, n_purchases, purchase_total, n_clicks,
       CAST(row_number() OVER (ORDER BY purchase_total DESC, user_id)
            AS INT) AS rn
FROM top
"""


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a count-min sketch
    (operators/sketches.build_cms/cms_estimate): top-10 users by true
    event count, with the CMS estimate and its overcount alongside —
    the approximation error shipped as data, same contract as
    ``approx_distinct_customers``. The sketch is depth×width cells
    regardless of cardinality and merges by cell addition, so
    per-day/per-partition sketches roll up without raw data. Oracle:
    DuckDB replays the md5 bucketing and min-over-rows exactly."""
    from ..operators.sketches import build_cms, cms_estimate

    t = load_testdata(spark, sf_dir)
    ev = t["events"].select(F.col("user_id").cast("string").alias("k"))
    cms = build_cms(ev, "k", depth=4, width=256)
    top = (
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.col("k").cast("bigint"))
        .limit(10)
    )
    est = cms_estimate(cms, top, "k", depth=4, width=256)
    return (
        top.join(est, "k")
        .select(
            F.col("k").cast("bigint").alias("user_id"),
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).alias("overestimate"),
            # deepened pin (r13): the hash-row-0 bucket address itself
            # — cms_est pins the min over rows, which a bucketing bug
            # could survive by colliding differently; the address pins
            # the md5 placement directly (same construction as
            # operators/sketches.build_cms).
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.col("k"), F.lit("|0"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 256
            ).alias("bucket0"),
        )
        .orderBy(F.desc("true_cnt"), "user_id")
    )


CMS_HEAVY_HITTERS_ORACLE = """
WITH ev AS (
    SELECT CAST(user_id AS VARCHAR) AS k FROM events
), rows_ AS (
    SELECT unnest(generate_series(0, 3)) AS r
), cms AS (
    SELECT r,
           ('0x' || substr(md5(k || '|' || CAST(r AS VARCHAR)), 1, 8))::BIGINT
               % 256 AS bucket,
           count(*) AS cnt
    FROM ev, rows_ GROUP BY 1, 2
), top AS (
    SELECT k, count(*) AS true_cnt FROM ev GROUP BY 1
    ORDER BY true_cnt DESC, CAST(k AS BIGINT) LIMIT 10
), probe AS (
    SELECT t.k, t.true_cnt, r.r,
           ('0x' || substr(md5(t.k || '|' || CAST(r.r AS VARCHAR)), 1, 8))::BIGINT
               % 256 AS bucket
    FROM top t CROSS JOIN rows_ r
), est AS (
    SELECT p.k, p.true_cnt, min(COALESCE(c.cnt, 0)) AS cms_est
    FROM probe p LEFT JOIN cms c ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY 1, 2
)
SELECT CAST(k AS BIGINT) AS user_id, true_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - true_cnt AS BIGINT) AS overestimate,
       CAST(('0x' || substr(md5(k || '|0'), 1, 8))::BIGINT % 256
            AS BIGINT) AS bucket0
FROM est ORDER BY true_cnt DESC, user_id
"""


def ensure_bucketed_demo(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize (once per dataset) lineitem and orders as
    SAME-bucketed catalog tables on the join key — the pay-the-shuffle-
    once-at-write-time layout for repeated fact ⋈ fact joins
    (sources/bucketing.py). Returns the two table names.

    Both tables are built into one ``catalog.artifact`` and registered
    only from the published directory, by ``CREATE TABLE … CLUSTERED
    BY … LOCATION``: Spark recovers each file's bucket id from the
    saveAsTable naming scheme, so a process that adopts another's
    build touches no file, and the plan audit's zero-exchange check
    would go red if adoption ever degraded a table to unbucketed."""
    import os

    from ..sources.bucketing import write_bucketed

    cols = {
        "lineitem": ("l_orderkey", "l_extendedprice", "l_discount"),
        "orders": ("o_orderkey", "o_orderstatus"),
    }

    def build(stage: str) -> None:
        t = load_testdata(spark, sf_dir)
        for name, (key, *rest) in cols.items():
            write_bucketed(
                t[name].select(key, *rest), f"bdemo_{name}_stage", key, 8,
                sort_by=key, path=os.path.join(stage, name),
            )
            spark.sql(f"DROP TABLE bdemo_{name}_stage")

    path = artifact("bucketed_demo", sf_dir, tuple(cols), build)
    tag = data_tag(sf_dir, *cols)
    for name, (key, *_) in cols.items():
        table, loc = f"bdemo_{name}_{tag}", os.path.join(path, name)
        if not spark.catalog.tableExists(table):
            spark.sql(
                f"CREATE TABLE {table} "
                f"({spark.read.parquet(loc).schema.toDDL()}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
                f"LOCATION '{loc}'"
            )
    return f"bdemo_lineitem_{tag}", f"bdemo_orders_{tag}"


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact ⋈ fact through SAME-bucketed storage: the scan reports a
    compatible HashPartitioning, so the join plans with ZERO exchange
    on the join keys (plan-audited: no hashpartitioning exchange on
    l_orderkey/o_orderkey — the only shuffle left is the tiny
    per-status rollup). The oracle runs the identical join+aggregate
    over the ORIGINAL tables, proving the bucketed rewrite is
    lossless. At 100 TB this is the difference between shuffling two
    fact tables per query and never shuffling them again."""
    lt, ot = ensure_bucketed_demo(spark, sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    # MERGE hint: at test SF Catalyst would broadcast the small side,
    # hiding the property under audit; at 100 TB neither fact side is
    # broadcastable and sort-merge is the inevitable plan — the hint
    # pins the at-scale plan shape so the zero-exchange claim is
    # checked on it at every SF
    return (
        spark.table(lt)
        .hint("merge")
        .join(spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
            # deepened pin (r11): exact key checksum of the joined
            # lines per status — the bucketed tables' row-for-row
            # equivalence to the originals verified as an integer,
            # not only through the decimal revenue.
            F.sum("l_orderkey").alias("orderkey_sum"),
        )
        .orderBy("o_orderstatus")
    )


BUCKETED_JOIN_ORACLE = """
SELECT o_orderstatus, count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(sum(l_orderkey) AS BIGINT) AS orderkey_sum
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY o_orderstatus
"""


def ensure_formats_demo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per dataset) CSV and JSON copies of the
    nation table, exercising sources/formats.py's write path."""
    import os

    from ..sources.formats import write_table

    def build(stage: str) -> None:
        nation = load_testdata(spark, sf_dir)["nation"]
        for fmt in ("csv", "json"):
            write_table(nation.coalesce(1), os.path.join(stage, fmt), fmt)

    return artifact("formats_demo", sf_dir, ("nation",), build)


def multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One logical table served from three physical formats — parquet
    (the original), CSV and JSON copies (sources/formats.py) — unioned
    with a format tag and aggregated. Equal per-format rows prove the
    format round-trips preserve values exactly; the oracle states the
    expected invariant directly from the source table."""
    import os

    from ..schemas import TESTDATA_TABLES
    from ..sources.formats import read_table

    base = ensure_formats_demo(spark, sf_dir)
    nation = load_testdata(spark, sf_dir)["nation"]
    schema = TESTDATA_TABLES["nation"]
    frames = [nation.withColumn("fmt", F.lit("parquet"))]
    for fmt in ("csv", "json"):
        frames.append(
            read_table(spark, os.path.join(base, fmt), fmt, schema).withColumn(
                "fmt", F.lit(fmt)
            )
        )
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return (
        out.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").alias("key_checksum"),
            F.sum(F.length("n_name")).alias("name_chars"),
            # deepened pin (r11): the region FK through every format —
            # a third column verified through the CSV/JSON round-trip.
            F.sum("n_regionkey").alias("region_checksum"),
            # deepened pin (r13): the string BYTES, not just lengths —
            # name_chars passes a case-mangled or padded-then-trimmed
            # CSV/JSON round-trip; the md5-prefix content sum does not
            # (md5 is the engine-portable hash, same as the CMS/
            # sampling oracles).
            F.sum(
                F.conv(F.substring(F.md5("n_name"), 1, 8), 16, 10).cast(
                    "long"
                )
            ).alias("name_hash_sum"),
        )
        .orderBy("fmt")
    )


MULTI_FORMAT_ORACLE = """
WITH base AS (
    SELECT count(*) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_checksum,
           CAST(sum(length(n_name)) AS BIGINT) AS name_chars,
           CAST(sum(n_regionkey) AS BIGINT) AS region_checksum,
           CAST(sum(('0x' || substr(md5(n_name), 1, 8))::BIGINT)
                AS BIGINT) AS name_hash_sum
    FROM nation
)
SELECT fmt, n_rows, key_checksum, name_chars, region_checksum,
       name_hash_sum
FROM base, (VALUES ('csv'), ('json'), ('parquet')) t(fmt)
ORDER BY fmt
"""


def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + forward-fill (the ASOF/LOCF pattern):
    each user's per-day purchase revenue series is densified to a
    complete daily spine between their first and last active day, and
    missing days carry the last observed value forward.

    Scale shape: the spine is EXPLODED FROM PER-KEY BOUNDS (one row
    per key → sequence() → explode), i.e. generated map-side next to
    the key's own rows — never a global calendar cross-join. The
    spine ⋈ actuals join is an equi-join on (key, day) that AQE
    co-partitions, and the forward-fill is one window per key riding
    that same partitioning. Revenue sums are DECIMAL(18,2)-exact
    (order-independent across engines); the fill itself copies values,
    so ``carried_revenue`` stays exact too. ~60% of spine days are
    gaps in this fixture, so the fill path is genuinely exercised."""
    t = load_testdata(spark, sf_dir)
    purchases = t["events"].filter(F.col("event_type") == "purchase")
    return gap_fill_daily_report(purchases).orderBy("user_id")


def gap_fill_daily_report(events: DataFrame) -> DataFrame:
    """The gap-fill core over any (user_id, ts, value) frame — kept
    separate from the registered query so property tests can drive it
    with arbitrary synthetic series (see test_expectations_and_graph
    ``test_gap_fill_matches_python_reference``)."""
    daily = events.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("rev")
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = spine.join(daily, ["user_id", "day"], "left").withColumn(
        "filled_rev", F.last("rev", ignorenulls=True).over(w)
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.count("rev").cast("bigint").alias("n_active"),
        (F.count(F.lit(1)) - F.count("rev"))
        .cast("bigint")
        .alias("n_filled"),
        F.sum("rev").cast("double").alias("actual_revenue"),
        F.sum("filled_rev").cast("double").alias("carried_revenue"),
        # deepened pin (r12): WHERE the active days sit on the spine —
        # the epoch-day checksum pins the gap STRUCTURE, which the
        # count pins above leave free (same counts, shifted gaps)
        F.sum(
            F.when(
                F.col("rev").isNotNull(),
                F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
            )
        )
        .cast("bigint")
        .alias("active_day_sum"),
        # deepened pin (r14): WHICH value was carried on WHICH day —
        # the day-weighted integer-cents checksum over the filled
        # series. A fill that carried the right values onto the wrong
        # gap days (or swapped two users' carry segments of equal
        # total) preserves every count and revenue sum above; this
        # product moves. Exact: epoch-day (INT) × cents (DECIMAL→
        # BIGINT, exact ×100 of a DECIMAL(18,2)) summed as BIGINT.
        F.sum(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            * (F.col("filled_rev") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("carry_weighted_cents"),
    )


GAP_FILL_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,2))) AS rev
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), bounds AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), spine AS (
    SELECT user_id,
           unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
    FROM bounds
), filled AS (
    SELECT s.user_id, s.day, d.rev,
           last_value(d.rev IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_rev
    FROM spine s LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(count(rev) AS BIGINT) AS n_active,
       CAST(count(*) - count(rev) AS BIGINT) AS n_filled,
       CAST(sum(rev) AS DOUBLE) AS actual_revenue,
       CAST(sum(filled_rev) AS DOUBLE) AS carried_revenue,
       CAST(sum(CASE WHEN rev IS NOT NULL
                     THEN day - DATE '1970-01-01' END) AS BIGINT)
           AS active_day_sum,
       CAST(sum((day - DATE '1970-01-01')
                * CAST(filled_rev * 100 AS BIGINT)) AS BIGINT)
           AS carry_weighted_cents
FROM filled GROUP BY user_id ORDER BY user_id
"""


def revenue_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection (order value vs the
    customer nation's distribution): the standard data-QA /
    fraud-screening aggregate.

    Scale shape: group moments (count, Σx, Σx²) are computed with one
    partial-aggregated shuffle into a GROUP-CARDINALITY-sized frame
    (25 nations), which is then BROADCAST back onto the fact rows —
    deliberately NOT a window over the group key, because a window
    partitioned by a 25-value key serializes 100 TB into 25 tasks.
    Exactness: moments are integer cents (Σx² in DECIMAL(38,0) —
    BIGINT would overflow past ~10⁴ rows/group at ~5·10⁷ cents);
    mean/variance derive from those exact sums with an identical
    IEEE expression tree on both engines, so the z threshold compares
    bit-identical doubles."""
    t = load_testdata(spark, sf_dir)
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    o = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            cents.alias("cents"),
            "o_orderkey",
        )
    )
    stats = o.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("s1"),
        F.sum((F.col("cents").cast("decimal(38,0)") * F.col("cents"))).alias(
            "s2"
        ),
    )
    mean = F.col("s1").cast("double") / F.col("n_orders")
    var = (
        F.col("s2").cast("double") - F.col("n_orders") * mean * mean
    ) / (F.col("n_orders") - 1)
    z = (F.col("cents").cast("double") - mean) / F.sqrt(var)
    return (
        o.join(F.broadcast(stats), "nation")
        .groupBy("nation")
        .agg(
            F.max("n_orders").cast("bigint").alias("n_orders"),
            F.sum(F.when(z > 2.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_high_outliers"),
            F.sum(F.when(z < -2.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_outliers"),
            F.round(
                (F.max("s1").cast("double") / F.lit(100.0))
                / F.max("n_orders"),
                2,
            ).alias("avg_price"),
            # deepened pin (r11): WHICH orders are flagged — the
            # outlier-set key checksum moves when the z boundary
            # admits a different same-sized set.
            F.sum(F.when(z > 2.0, F.col("o_orderkey"))).alias(
                "high_outlier_key_sum"
            ),
        )
        .orderBy("nation")
    )


ANOMALY_ZSCORE_ORACLE = """
WITH o AS (
    SELECT n.n_name AS nation,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           od.o_orderkey AS o_orderkey
    FROM orders od
    JOIN customer c ON od.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
), s AS (
    SELECT nation, count(*) AS n_orders, sum(cents) AS s1,
           sum(CAST(cents AS HUGEINT) * cents) AS s2
    FROM o GROUP BY 1
), z AS (
    SELECT o.nation, o.cents, o.o_orderkey, s.n_orders, s.s1,
           CAST(s.s1 AS DOUBLE) / s.n_orders AS mean,
           (CAST(s.s2 AS DOUBLE)
              - s.n_orders * (CAST(s.s1 AS DOUBLE) / s.n_orders)
                           * (CAST(s.s1 AS DOUBLE) / s.n_orders))
             / (s.n_orders - 1) AS var
    FROM o JOIN s USING (nation)
)
SELECT nation,
       CAST(max(n_orders) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN (CAST(cents AS DOUBLE) - mean) / sqrt(var) > 2.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
       CAST(sum(CASE WHEN (CAST(cents AS DOUBLE) - mean) / sqrt(var) < -2.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       round((CAST(max(s1) AS DOUBLE) / 100.0) / max(n_orders), 2)
           AS avg_price,
       CAST(sum(CASE WHEN (CAST(cents AS DOUBLE) - mean) / sqrt(var) > 2.0
                     THEN o_orderkey END) AS BIGINT) AS high_outlier_key_sum
FROM z GROUP BY nation ORDER BY nation
"""


def order_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path data-quality expectations over the orders batch:
    per-rule violation counts, the overall quarantine count, and the
    distinct failed-rule COMBINATIONS observed in the quarantine
    (pinning the dead-letter diagnosis labels as data, not just the
    tallies). See ``operators/expectations.py`` for the one-scan /
    zero-shuffle split contract. Deepened pin (r12): the orderkey
    checksum of each rule's violating rows (``checksum_col``) pins
    WHICH rows were quarantined, not just how many.

    Rules chosen so the fixture exercises every path: ``price_cap``
    genuinely fails (~20% of uniform prices exceed it), ``status_enum``
    fails on 'P' rows, ``priority_format`` and ``custkey_present``
    pass everywhere (a zero-violation rule must report 0, not vanish).
    The whole report is ONE scan of orders (see ``audit``'s
    combo-rollup derivation)."""
    from ..operators.expectations import Rule, audit

    t = load_testdata(spark, sf_dir)
    rules = [
        Rule(
            "price_cap",
            (F.col("o_totalprice") > 0)
            & (F.col("o_totalprice") <= 400000.0),
        ),
        Rule("status_enum", F.col("o_orderstatus").isin("O", "F")),
        Rule("priority_format", F.col("o_orderpriority").rlike("^[1-5]-")),
        Rule("custkey_present", F.col("o_custkey").isNotNull()),
    ]
    return audit(t["orders"], rules, checksum_col="o_orderkey").orderBy("rule")


CONSTRAINT_AUDIT_ORACLE = """
WITH flags AS (
    SELECT o_orderkey,
           COALESCE(o_totalprice > 0 AND o_totalprice <= 400000.0, FALSE)
               AS ok_price,
           COALESCE(o_orderstatus IN ('O', 'F'), FALSE) AS ok_status,
           COALESCE(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)
               AS ok_prio,
           o_custkey IS NOT NULL AS ok_cust
    FROM orders
), per_rule AS (
    SELECT 'price_cap' AS rule, count(*) AS n_checked,
           sum(CASE WHEN ok_price THEN 0 ELSE 1 END) AS n_violations,
           sum(CASE WHEN ok_price THEN 0 ELSE o_orderkey END) AS vkey
    FROM flags
    UNION ALL
    SELECT 'status_enum', count(*),
           sum(CASE WHEN ok_status THEN 0 ELSE 1 END),
           sum(CASE WHEN ok_status THEN 0 ELSE o_orderkey END) FROM flags
    UNION ALL
    SELECT 'priority_format', count(*),
           sum(CASE WHEN ok_prio THEN 0 ELSE 1 END),
           sum(CASE WHEN ok_prio THEN 0 ELSE o_orderkey END) FROM flags
    UNION ALL
    SELECT 'custkey_present', count(*),
           sum(CASE WHEN ok_cust THEN 0 ELSE 1 END),
           sum(CASE WHEN ok_cust THEN 0 ELSE o_orderkey END) FROM flags
    UNION ALL
    SELECT '_total', count(*),
           sum(CASE WHEN ok_price AND ok_status AND ok_prio AND ok_cust
                    THEN 0 ELSE 1 END),
           sum(CASE WHEN ok_price AND ok_status AND ok_prio AND ok_cust
                    THEN 0 ELSE o_orderkey END) FROM flags
), combos AS (
    SELECT 'combo:' || concat_ws('+',
               CASE WHEN NOT ok_price THEN 'price_cap' END,
               CASE WHEN NOT ok_status THEN 'status_enum' END,
               CASE WHEN NOT ok_prio THEN 'priority_format' END,
               CASE WHEN NOT ok_cust THEN 'custkey_present' END) AS rule,
           count(*) AS n_checked, count(*) AS n_violations,
           sum(o_orderkey) AS vkey
    FROM flags
    WHERE NOT (ok_price AND ok_status AND ok_prio AND ok_cust)
    GROUP BY 1
)
SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(vkey AS BIGINT) AS violation_key_sum
FROM (SELECT * FROM per_rule UNION ALL SELECT * FROM combos)
ORDER BY rule
"""


def dau_wau_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily/weekly active users and stickiness (DAU/WAU) — the
    engagement dashboard query. The naive WAU is COUNT(DISTINCT user)
    OVER a 7-day RANGE frame, which Spark cannot express (distinct in
    a window) and a self-join over days makes quadratic-ish. The
    scale shape here: dedupe to (day, user) once, EXPLODE each active
    day into the ≤7 window days it contributes to (map-side ×7
    fan-out of an already-deduped frame), and count distinct per
    window day — one distinct shuffle, no self-join, no window. Days
    clamp to the observed range so every reported day has a complete
    trailing week of data coverage semantics (partial leading weeks
    report over the days that exist — standard dashboard behavior)."""
    ev = load_testdata(spark, sf_dir)["events"]
    du = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau"),
        # deepened pin (r11): the active SET per day — swapped user
        # attribution between adjacent days preserves both days' DAU
        # counts but not their id checksums.
        F.sum("user_id").alias("dau_user_id_sum"),
    )
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "user_id",
    )
    wau = contrib.groupBy("wday").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau"),
        # deepened pin (r12): the WEEKLY active SET, same contract as
        # the daily checksum — a user leaking into the wrong trailing
        # window preserves the distinct count less often than both
        # the count and the distinct-id sum
        F.sum_distinct("user_id").cast("bigint").alias("wau_user_id_sum"),
    )
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select(
            "day",
            "dau",
            "wau",
            round6(F.col("dau").cast("double") / F.col("wau")).alias(
                "stickiness"
            ),
            "dau_user_id_sum",
            "wau_user_id_sum",
        )
        .orderBy("day")
    )


DAU_WAU_ORACLE = """
WITH du AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), dau AS (
    SELECT day, count(*) AS dau,
           CAST(sum(user_id) AS BIGINT) AS dau_user_id_sum
    FROM du GROUP BY 1
), contrib AS (
    SELECT unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE
               AS wday,
           user_id
    FROM du
), wau AS (
    SELECT wday, count(DISTINCT user_id) AS wau,
           CAST(sum(DISTINCT user_id) AS BIGINT) AS wau_user_id_sum
    FROM contrib GROUP BY 1
)
SELECT d.day,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau,
       floor(CAST(d.dau AS DOUBLE) / w.wau * 1e6 + 0.5) / 1e6
           AS stickiness,
       d.dau_user_id_sum,
       w.wau_user_id_sum
FROM dau d JOIN wau w ON w.wday = d.day
ORDER BY d.day
"""


def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's revenue is
    split EQUALLY across all of the user's clicks within the
    preceding 30 minutes (the same interval-join predicate
    ``stream_click_purchase_join`` runs — this stacks the fan-out
    count and credit split on top). The single-touch as-of join
    credits only the nearest click; marketing attribution needs the
    whole touch set.

    Exactness: revenue enters as integer cents; the per-touch credit
    ``cents / n_touch`` is IEEE double computed identically in both
    engines, and the per-user sum's summation-order drift (~1e-12
    relative) is far below the 2-decimal rounding grain.

    Scale shape: user-keyed equi-join with the time window as a
    residual (hash/SMJ — plan-audited elsewhere for the same
    predicate), then a window partitioned by purchase id (high
    cardinality — no skew hazard) and a partial-aggregated per-user
    rollup."""
    from pyspark.sql import Window

    ev = load_testdata(spark, sf_dir)["events"]
    return linear_attribution_report(ev).orderBy("user_id")


def linear_attribution_report(ev: DataFrame) -> DataFrame:
    """The attribution core over any events frame — factored out so
    property tests can drive it with arbitrary synthetic click/
    purchase sets against a plain-Python credit-splitting replay.

    HOT-KEY-SAFE formulation: a plain user-keyed equi-join with the
    window as a residual serializes a hot user (a bot with 30% of all
    events) into ONE join task, and the click×purchase fan-out within
    that key is data-driven quadratic — measured 22.7 s at the skewed
    10× fixture. Instead the point-in-window condition runs through
    ``interval_overlap_join``'s bucket-equi conversion: purchases are
    degenerate 1-µs intervals, clicks are 30-minute windows, and the
    join key becomes (user, TIME BUCKET) — the hot user splits across
    the month's buckets and every task stays bounded. Time enters as
    INTEGER MICROSECONDS (Spark's native timestamp precision) on both
    engines, which also removes the ns-vs-µs comparison asymmetry the
    registry header documents for raw-timestamp predicates."""
    from ..operators.joins import interval_overlap_join

    win_us = 1800 * 1_000_000
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("c_lo"),
        (F.unix_micros("ts") + win_us).alias("c_hi"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.unix_micros("ts").alias("p_lo"),
        (F.unix_micros("ts") + 1).alias("p_hi"),
    )
    j = interval_overlap_join(
        p,
        c,
        "p_lo",
        "p_hi",
        "c_lo",
        "c_hi",
        on=("user_id",),
        bucket_width=600 * 1_000_000,
    )
    w = Window.partitionBy("pid")
    credited = j.withColumn("n_touch", F.count(F.lit(1)).over(w))
    return credited.groupBy("user_id").agg(
        F.count_distinct("pid").cast("bigint").alias("n_purchases"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.round(
            F.sum(F.col("cents").cast("double") / F.col("n_touch"))
            / 100.0,
            2,
        ).alias("attributed_revenue"),
        # deepened pin (r12): WHICH purchases attributed to this user —
        # distinct-pid checksum catches a window-boundary drift that
        # trades equal-count purchases between users
        F.sum_distinct(F.col("pid")).cast("bigint").alias("purchase_id_sum"),
        # deepened pin (r16), EXTREMUM class: the user's widest
        # per-purchase touch set — a window-boundary drift that trades
        # one touch between two purchases of the same user preserves
        # n_touches, the revenue split total, and the pid checksum,
        # but moves the max fan-out
        F.max("n_touch").cast("bigint").alias("max_fanout"),
    )


MULTI_TOUCH_ORACLE = """
WITH c AS (
    SELECT user_id AS cu,
           CAST(epoch_ns(ts) // 1000 AS BIGINT) AS cus
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, event_id AS pid,
           CAST(epoch_ns(ts) // 1000 AS BIGINT) AS pus,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
), j AS (
    SELECT p.user_id, p.pid, p.cents
    FROM p JOIN c
      ON p.user_id = c.cu
     AND p.pus >= c.cus AND p.pus < c.cus + 1800000000
), n AS (
    SELECT user_id, pid, cents,
           count(*) OVER (PARTITION BY pid) AS n_touch
    FROM j
)
SELECT user_id,
       CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
       CAST(count(*) AS BIGINT) AS n_touches,
       round(sum(CAST(cents AS DOUBLE) / n_touch) / 100.0, 2)
           AS attributed_revenue,
       CAST(sum(DISTINCT pid) AS BIGINT) AS purchase_id_sum,
       CAST(max(n_touch) AS BIGINT) AS max_fanout
FROM n GROUP BY user_id ORDER BY user_id
"""


def entity_resolution_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage: deterministic 'dirty'
    variants of every customer name (case mangling, punctuation
    spacing, legal-suffix append, article prefix — one of four by
    ``custkey % 4``) are linked back to the clean dimension by a
    NORMALIZED BLOCKING KEY (``functions/text.normalize_entity_key``)
    and verified with edit distance. Every ``custkey % 7 == 0`` name
    additionally has its final digit corrupted to '0' BEFORE the
    variant — those rows block onto a DIFFERENT customer whose name is
    textually perfect, so the report quantifies the confident-but-
    WRONG links a key-corruption produces (``n_wrong``) next to the
    correct ones, per variant class, with the blocked pairs' mean
    Levenshtein distance (both engines implement classic Levenshtein).

    Scale shape: linkage is an equi-join on the blocking key — never
    an all-pairs comparison; the quadratic-looking edit distance runs
    ONLY on blocked candidates (≤1 per dirty row here since clean
    keys are unique). This is the blocking-then-verify shape every
    production linkage pipeline uses, same discipline as the LSH
    dedup family."""
    from ..functions.text import normalize_entity_key

    c = load_testdata(spark, sf_dir)["customer"]
    k = F.col("c_custkey")
    cor = F.when(
        k % 7 == 0,
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("0")
        ),
    ).otherwise(F.col("c_name"))
    d0 = c.select(
        k.alias("src_key"),
        (k % 4).cast("int").alias("variant"),
        cor.alias("cor"),
    )
    dirty_name = (
        F.when(F.col("variant") == 0, F.upper("cor"))
        .when(F.col("variant") == 1, F.regexp_replace("cor", "#", " # "))
        .when(F.col("variant") == 2, F.concat(F.col("cor"), F.lit(" LLC")))
        .otherwise(F.concat(F.lit("The "), F.col("cor")))
    )
    dirty = d0.select(
        "src_key", "variant", dirty_name.alias("dirty_name")
    ).withColumn("nkey", normalize_entity_key(F.col("dirty_name")))
    clean = c.select(
        F.col("c_custkey").alias("tgt_key"),
        F.col("c_name").alias("clean_name"),
    ).withColumn("nkey", normalize_entity_key(F.col("clean_name")))
    lev = F.levenshtein("dirty_name", "clean_name")
    return (
        dirty.join(clean, "nkey", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dirty"),
            F.count("tgt_key").cast("bigint").alias("n_linked"),
            F.sum(F.when(F.col("tgt_key") == F.col("src_key"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
            F.sum(
                F.when(
                    F.col("tgt_key").isNotNull()
                    & (F.col("tgt_key") != F.col("src_key")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_wrong"),
            F.round(
                F.sum(
                    F.when(F.col("tgt_key").isNotNull(), lev)
                ).cast("double")
                / F.count("tgt_key"),
                2,
            ).alias("avg_lev"),
            # deepened pin (r11): WHO got mislinked — the exact key
            # checksum of the confidently-wrong rows; a different
            # same-sized wrong set (a blocking-key normalization
            # drift) moves it where n_wrong survives.
            F.sum(
                F.when(
                    F.col("tgt_key").isNotNull()
                    & (F.col("tgt_key") != F.col("src_key")),
                    F.col("src_key"),
                )
            ).alias("wrong_src_key_sum"),
        )
        .orderBy("variant")
    )


ENTITY_RESOLUTION_ORACLE = """
WITH d0 AS (
    SELECT c_custkey AS src_key,
           CAST(c_custkey % 4 AS INT) AS variant,
           CASE WHEN c_custkey % 7 = 0
                THEN substr(c_name, 1, length(c_name) - 1) || '0'
                ELSE c_name END AS cor
    FROM customer
), dirty AS (
    SELECT src_key, variant,
           CASE variant WHEN 0 THEN upper(cor)
                        WHEN 1 THEN replace(cor, '#', ' # ')
                        WHEN 2 THEN cor || ' LLC'
                        ELSE 'The ' || cor END AS dirty_name
    FROM d0
), dn AS (
    SELECT src_key, variant, dirty_name,
           regexp_replace(regexp_replace(regexp_replace(
               lower(dirty_name), '^the\\s+', ''),
               '[\\s,.]+(llc|inc)\\.?$', ''), '[^a-z0-9]', '', 'g') AS nkey
    FROM dirty
), cn AS (
    SELECT c_custkey AS tgt_key, c_name AS clean_name,
           regexp_replace(regexp_replace(regexp_replace(
               lower(c_name), '^the\\s+', ''),
               '[\\s,.]+(llc|inc)\\.?$', ''), '[^a-z0-9]', '', 'g') AS nkey
    FROM customer
)
SELECT variant,
       CAST(count(*) AS BIGINT) AS n_dirty,
       CAST(count(tgt_key) AS BIGINT) AS n_linked,
       CAST(sum(CASE WHEN tgt_key = src_key THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       CAST(sum(CASE WHEN tgt_key IS NOT NULL AND tgt_key <> src_key
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong,
       round(CAST(sum(CASE WHEN tgt_key IS NOT NULL
                           THEN levenshtein(dirty_name, clean_name)
                      END) AS DOUBLE) / count(tgt_key), 2) AS avg_lev,
       CAST(sum(CASE WHEN tgt_key IS NOT NULL AND tgt_key <> src_key
                     THEN src_key END) AS BIGINT) AS wrong_src_key_sum
FROM dn LEFT JOIN cn USING (nkey)
GROUP BY variant ORDER BY variant
"""


def scd2_point_in_time_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) fact enrichment against an SCD2
    dimension: every event joins the dimension VERSION that was valid
    at its timestamp — the query pattern SCD2 history exists to serve
    (joining the current version would silently re-segment history).

    The dimension is built live with two ``scd2_apply`` batches over
    the event users (re-tier ``user_id % 5`` at 2024-01-10, re-tier
    ``user_id % 10`` again at 2024-01-20 — inside the fixture's
    one-month event window at EVERY scale factor, so all three
    version generations receive events),
    so each user carries 1–3 versions. The oracle is INDEPENDENT of
    the implementation: the segment valid at ``ts`` is closed-form in
    (user_id, ts) alone, so both the SCD2 maintenance AND the
    temporal join are pinned without replaying either.

    Scale shape: hash equi-join on the key with the validity window
    as a residual condition — each fact row meets only its key's ≤3
    versions, so the residual filter touches O(versions-per-key), and
    AQE broadcasts the dimension when it is small. No window over
    fact rows, no range-join explosion."""
    from ..operators.scd import scd2_apply

    t = load_testdata(spark, sf_dir)
    # eager localCheckpoint (r16): the distinct-users frame feeds the
    # seed dimension, BOTH update batches, and each scd2_apply's
    # validation probe — six consumers, each otherwise recomputing a
    # full events scan + distinct. Materialized once, the per-apply
    # validation becomes metadata-scale (the kmv sketch builder's
    # precedent for small multiply-referenced derived frames).
    users = materialize(t["events"].select("user_id").distinct(), "scd2 users")
    base_seg = F.concat(F.lit("tier"), (F.col("user_id") % 3).cast("string"))
    dim = users.select(
        F.col("user_id").alias("u_key"),
        base_seg.alias("segment"),
        F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    u1 = users.filter(F.col("user_id") % 5 == 0).select(
        F.col("user_id").alias("u_key"),
        F.concat(base_seg, F.lit("*")).alias("segment"),
        F.lit("2024-01-10").cast("timestamp").alias("eff_ts"),
    )
    u2 = users.filter(F.col("user_id") % 10 == 0).select(
        F.col("user_id").alias("u_key"),
        F.concat(base_seg, F.lit("**")).alias("segment"),
        F.lit("2024-01-20").cast("timestamp").alias("eff_ts"),
    )
    dim = scd2_apply(dim, u1, "u_key", ["segment"])
    dim = scd2_apply(dim, u2, "u_key", ["segment"])
    ev = t["events"].select("user_id", "ts", "value")
    enriched = ev.join(
        dim,
        (ev["user_id"] == dim["u_key"])
        & (ev["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (ev["ts"] < dim["valid_to"])),
    )
    return (
        enriched.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            # deepened pin (r11): segment MEMBERSHIP — an event joined
            # to the wrong dimension version (an off-by-one validity
            # bound) moves between segments; the user-id checksum
            # catches swaps the per-segment counts survive.
            F.sum("user_id").alias("user_id_sum"),
        )
        .orderBy("segment")
    )


SCD2_PIT_ORACLE = """
WITH seg AS (
    SELECT value, user_id,
           CASE WHEN user_id % 10 = 0 AND ts >= TIMESTAMP '2024-01-20'
                THEN 'tier' || CAST(user_id % 3 AS VARCHAR) || '**'
                WHEN user_id % 5 = 0 AND ts >= TIMESTAMP '2024-01-10'
                THEN 'tier' || CAST(user_id % 3 AS VARCHAR) || '*'
                ELSE 'tier' || CAST(user_id % 3 AS VARCHAR)
           END AS segment
    FROM events
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(sum(user_id) AS BIGINT) AS user_id_sum
FROM seg GROUP BY segment ORDER BY segment
"""


def kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven join-size planning input: KMV bottom-k distinct
    sketches of the two join-key populations (orders.o_custkey vs the
    customer keys of a 12-nation regional shard — a PARTIAL overlap,
    so the Jaccard/intersection estimators are exercised away from
    the trivial 1.0), their union sketch, and the derived
    distinct / overlap / Jaccard ESTIMATES — emitted side-by-side
    with the exact values, so the estimator's error is itself data
    the oracle pins (the md5-derived sketch is deterministic, so
    DuckDB reproduces the estimates bit-for-bit, not just the exacts).

    Why it matters at 100 TB: deciding broadcast-vs-shuffle or
    semi-join-vs-full-join needs key-population sizes and overlap
    BEFORE paying the join; a KMV sketch answers from one
    TakeOrdered-style pass per side (every task keeps its local
    bottom-k; the merge touches ≤ k·tasks hashes). Each side's
    distinct-key frame is materialized once and shared by the sketch
    build, the exact count and the exact intersection (r18 — one base
    scan per side instead of three), and each ≤k-row sketch is
    eagerly localCheckpoint'd, so the downstream union/membership/
    estimate algebra — which references each sketch three times — is
    metadata-scale and never re-scans a base table."""
    from ..operators.sketches import kmv_estimate_col, kmv_sketch

    k = 256
    t = load_testdata(spark, sf_dir)
    regional = t["customer"].filter(F.col("c_nationkey") < 12)
    # ONE base scan + ONE distinct per side (r18, guide §5.3): the
    # sketch, the exact distinct count and the exact intersection all
    # used to grow their own scan+distinct subtree — orders was read
    # three times per run. Each side's distinct-key frame is now
    # materialized once (eager localCheckpoint, the same hygiene as
    # the ≤k-row sketches below) and every consumer — sketch build
    # (assume_distinct skips the redundant re-dedup), exact count,
    # intersection join — reads that; the semantics are unchanged
    # (count over the null-filtered distinct frame IS count_distinct,
    # and NULL keys never matched the inner intersection join).
    def keys(df: DataFrame, col: str) -> DataFrame:
        return materialize(
            df.select(F.col(col).alias("key")).filter(F.col("key").isNotNull())
            .distinct(), f"kmv_join_cardinality: {col} keys",
        )

    def sketch(d: DataFrame, col: str) -> DataFrame:
        return materialize(
            kmv_sketch(d, "key", k, assume_distinct=True),
            f"kmv_join_cardinality: {col} sketch",
        )

    dok, dck = keys(t["orders"], "o_custkey"), keys(regional, "c_custkey")
    os_, cs = sketch(dok, "o_custkey"), sketch(dck, "c_custkey")
    us = materialize(
        os_.unionAll(cs).distinct().orderBy("h").limit(k),
        "kmv_join_cardinality: union sketch",
    )
    oa = os_.agg(F.count("h").alias("n_o"), F.max("h").alias("hk_o"))
    ca = cs.agg(F.count("h").alias("n_c"), F.max("h").alias("hk_c"))
    ua = us.agg(
        F.count("h").alias("n_u"),
        F.max("h").alias("hk_u"),
        # deepened pin (r14): the union sketch's CONTENT, not just its
        # derived estimates — a sketch that admitted the wrong hashes
        # (broken bottom-k merge, off-by-one limit) can still land
        # within rounding of the same estimates; the mod-1e9 member
        # checksum moves. Bounded: 256 × (1e9-1) << 2^63.
        F.sum(F.col("h") % 1000000000).cast("bigint").alias("hms_u"),
        # deepened pin (r16), PARITY class: a compensating pair of
        # wrong members can balance the mod-1e9 SUM checksum above;
        # bit_xor over the raw 60-bit hashes is an independent
        # membership invariant no such pair balances
        F.expr("bit_xor(h)").cast("bigint").alias("hxor_u"),
    )
    m = (
        us.join(os_, "h", "left_semi")
        .join(cs, "h", "left_semi")
        .agg(F.count("h").alias("m"))
    )
    d_o = dok.agg(
        F.count("key").cast("bigint").alias("d_orders_exact")
    )
    d_c = dck.agg(
        F.count("key").cast("bigint").alias("d_customer_exact")
    )
    inter = dok.join(dck, "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("inter_exact")
    )
    row = (
        oa.crossJoin(ca)
        .crossJoin(ua)
        .crossJoin(m)
        .crossJoin(d_o)
        .crossJoin(d_c)
        .crossJoin(inter)
    )
    j = F.col("m").cast("double") / F.col("n_u")
    union_est = kmv_estimate_col(F.col("n_u"), F.col("hk_u"), k)
    return row.select(
        "d_orders_exact",
        F.round(kmv_estimate_col(F.col("n_o"), F.col("hk_o"), k), 2).alias(
            "d_orders_est"
        ),
        "d_customer_exact",
        F.round(kmv_estimate_col(F.col("n_c"), F.col("hk_c"), k), 2).alias(
            "d_customer_est"
        ),
        "inter_exact",
        F.round(j * union_est, 2).alias("inter_est"),
        round6(j).alias("jaccard_est"),
        F.col("hk_u").cast("bigint").alias("union_kth_hash"),
        F.col("hms_u").alias("union_hash_mod_sum"),
        F.col("hxor_u").alias("union_hash_xor"),
    )


KMV_JOIN_CARDINALITY_ORACLE = """
WITH ok AS (SELECT DISTINCT o_custkey AS key FROM orders),
ck AS (SELECT DISTINCT c_custkey AS key FROM customer
      WHERE c_nationkey < 12),
os AS (
    SELECT DISTINCT ('0x' || substr(md5(key::VARCHAR), 1, 15))::UBIGINT AS h
    FROM ok ORDER BY h LIMIT 256
), cs AS (
    SELECT DISTINCT ('0x' || substr(md5(key::VARCHAR), 1, 15))::UBIGINT AS h
    FROM ck ORDER BY h LIMIT 256
), us AS (
    SELECT DISTINCT h FROM (
        SELECT h FROM os UNION ALL SELECT h FROM cs
    ) ORDER BY h LIMIT 256
), oa AS (SELECT count(*) AS n_o, max(h) AS hk_o FROM os),
ca AS (SELECT count(*) AS n_c, max(h) AS hk_c FROM cs),
ua AS (SELECT count(*) AS n_u, max(h) AS hk_u,
              sum(h % 1000000000) AS hms_u,
              bit_xor(h) AS hxor_u FROM us),
mm AS (
    SELECT count(*) AS m FROM us
    WHERE h IN (SELECT h FROM os) AND h IN (SELECT h FROM cs)
), ex AS (
    SELECT (SELECT count(*) FROM ok) AS d_o,
           (SELECT count(*) FROM ck) AS d_c,
           (SELECT count(*) FROM ok JOIN ck USING (key)) AS inter
)
SELECT CAST(d_o AS BIGINT) AS d_orders_exact,
       round(CASE WHEN n_o < 256 THEN CAST(n_o AS DOUBLE)
                  ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                       / CAST(hk_o AS DOUBLE) END, 2) AS d_orders_est,
       CAST(d_c AS BIGINT) AS d_customer_exact,
       round(CASE WHEN n_c < 256 THEN CAST(n_c AS DOUBLE)
                  ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                       / CAST(hk_c AS DOUBLE) END, 2) AS d_customer_est,
       CAST(inter AS BIGINT) AS inter_exact,
       round((CAST(m AS DOUBLE) / n_u)
             * CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(hk_u AS DOUBLE) END, 2) AS inter_est,
       floor(CAST(m AS DOUBLE) / n_u * 1e6 + 0.5) / 1e6 AS jaccard_est,
       CAST(hk_u AS BIGINT) AS union_kth_hash,
       CAST(hms_u AS BIGINT) AS union_hash_mod_sum,
       CAST(hxor_u AS BIGINT) AS union_hash_xor
FROM oa, ca, ua, mm, ex
"""


def register_all() -> None:
    from .registry import register

    register("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE)
    register("distinct_counts", distinct_counts, DISTINCT_ORACLE)
    register(
        "approx_distinct_customers", approx_distinct_customers, APPROX_DISTINCT_ORACLE
    )
    register("q3_shipping_priority", q3_shipping_priority, Q3_ORACLE)
    register("q6_revenue_delta", q6_revenue_delta, Q6_ORACLE)
    register("salted_event_counts", salted_event_counts, SALTED_COUNTS_ORACLE)
    register(
        "histogram_quantile_store", histogram_quantile_store,
        HISTOGRAM_QUANTILES_ORACLE,
    )
    register("rollup_orders", rollup_orders, ROLLUP_ORACLE)
    register("cube_orders", cube_orders, CUBE_ORACLE)
    register("region_revenue", region_revenue, REGION_REVENUE_ORACLE)
    register("customer_order_stats", customer_order_stats, CUSTOMER_ORDER_STATS_ORACLE)
    register("semi_anti_by_nation", semi_anti_by_nation, SEMI_ANTI_ORACLE)
    register("cross_join_grid", cross_join_grid, CROSS_JOIN_ORACLE)
    register(
        "window_top_orders_per_customer",
        window_top_orders_per_customer,
        WINDOW_TOP_ORACLE,
    )
    register("window_running_totals", window_running_totals, WINDOW_RUNNING_ORACLE)
    register(
        "range_frame_rolling_revenue",
        range_frame_rolling_revenue,
        RANGE_FRAME_ORACLE,
    )
    register(
        "ntile_customer_quartiles",
        ntile_customer_quartiles,
        NTILE_QUARTILES_ORACLE,
    )
    register("retention_cohorts", retention_cohorts, RETENTION_COHORTS_ORACLE)
    register("scd2_customer_history", scd2_customer_history, SCD2_ORACLE)
    register(
        "incremental_agg_maintenance",
        incremental_agg_maintenance,
        INCREMENTAL_AGG_ORACLE,
    )
    register("topk_orders", topk_orders, TOPK_ORACLE)
    register("set_ops_customers", set_ops_customers, SET_OPS_ORACLE)
    register("json_event_props", json_event_props, JSON_PROPS_ORACLE)
    register("array_vector_stats", array_vector_stats, ARRAY_STATS_ORACLE)
    register("percentile_stats", percentile_stats, PERCENTILE_ORACLE)
    register("grouping_sets_orders", grouping_sets_orders, GROUPING_SETS_ORACLE)
    register("pivot_status_by_year", pivot_status_by_year, PIVOT_ORACLE)
    register("explode_embedding_dims", explode_embedding_dims, EXPLODE_DIMS_ORACLE)
    register("correlated_above_avg", correlated_above_avg, CORRELATED_ORACLE)
    register("asof_click_purchase", asof_click_purchase, ASOF_ORACLE)
    register(
        "asof_click_purchase_bucketed", asof_click_purchase_bucketed, ASOF_ORACLE
    )
    register("range_join_price_bands", range_join_price_bands, RANGE_JOIN_ORACLE)
    register(
        "range_join_price_bands_bucketed",
        range_join_price_bands_bucketed,
        RANGE_JOIN_ORACLE,
    )
    register(
        "table_profile_approx", table_profile_approx, TABLE_PROFILE_APPROX_ORACLE
    )
    register("asof_nearest_click", asof_nearest_click, ASOF_NEAREST_ORACLE)
    register("skew_profile_report", skew_profile_report, SKEW_PROFILE_ORACLE)
    register(
        "partition_layout_advisor",
        partition_layout_advisor,
        PARTITION_LAYOUT_ORACLE,
    )
    register(
        "interval_overlap_sessions",
        interval_overlap_sessions,
        INTERVAL_OVERLAP_ORACLE,
    )
    register("zorder_pruned_scan", zorder_pruned_scan, ZORDER_PRUNED_ORACLE)
    register("q4_late_shipment_priority", q4_late_shipment_priority, Q4_ORACLE)
    register("q5_local_supplier_volume", q5_local_supplier_volume, Q5_ORACLE)
    register(
        "q10_returned_item_customers", q10_returned_item_customers, Q10_ORACLE
    )
    register(
        "q13_order_count_distribution", q13_order_count_distribution, Q13_ORACLE
    )
    register("q18_large_volume_orders", q18_large_volume_orders, Q18_ORACLE)
    register("q22_idle_rich_customers", q22_idle_rich_customers, Q22_ORACLE)
    register(
        "manifest_time_travel_counts",
        manifest_time_travel_counts,
        MANIFEST_TIME_TRAVEL_ORACLE,
    )
    register(
        "manifest_stats_pruned_scan",
        manifest_stats_pruned_scan,
        MANIFEST_STATS_PRUNED_ORACLE,
    )
    register(
        "manifest_merge_upsert",
        manifest_merge_upsert,
        MANIFEST_MERGE_UPSERT_ORACLE,
    )
    register(
        "manifest_history_ops", manifest_history_ops, MANIFEST_HISTORY_ORACLE
    )
    register(
        "manifest_schema_evolution",
        manifest_schema_evolution,
        MANIFEST_SCHEMA_EVOLUTION_ORACLE,
    )
    register(
        "manifest_vacuum_safety",
        manifest_vacuum_safety,
        MANIFEST_VACUUM_SAFETY_ORACLE,
    )
    register(
        "manifest_compaction_maintenance",
        manifest_compaction_maintenance,
        MANIFEST_COMPACTION_ORACLE,
    )
    register(
        "exclusion_join_hotkey_diff",
        exclusion_join_hotkey_diff,
        EXCLUSION_HOTKEY_ORACLE,
    )
    register(
        "bloom_prefilter_scan", bloom_prefilter_scan, BLOOM_PREFILTER_ORACLE
    )
    register(
        "json_malformed_audit", json_malformed_audit, JSON_MALFORMED_ORACLE
    )
    register("event_funnel", event_funnel, EVENT_FUNNEL_ORACLE)
    register("timeseries_gap_fill", timeseries_gap_fill, GAP_FILL_ORACLE)
    register(
        "revenue_anomaly_zscore", revenue_anomaly_zscore, ANOMALY_ZSCORE_ORACLE
    )
    register(
        "order_constraint_audit", order_constraint_audit, CONSTRAINT_AUDIT_ORACLE
    )
    register(
        "kmv_join_cardinality", kmv_join_cardinality, KMV_JOIN_CARDINALITY_ORACLE
    )
    register(
        "scd2_point_in_time_revenue", scd2_point_in_time_revenue, SCD2_PIT_ORACLE
    )
    register(
        "entity_resolution_links", entity_resolution_links, ENTITY_RESOLUTION_ORACLE
    )
    register(
        "multi_touch_attribution", multi_touch_attribution, MULTI_TOUCH_ORACLE
    )
    register(
        "manifest_files_metadata",
        manifest_files_metadata,
        MANIFEST_FILES_METADATA_ORACLE,
    )
    register("dau_wau_metrics", dau_wau_metrics, DAU_WAU_ORACLE)
    register("manifest_wap_publish", manifest_wap_publish, MANIFEST_WAP_ORACLE)
    register(
        "manifest_partition_evolution",
        manifest_partition_evolution,
        MANIFEST_SPECEVO_ORACLE,
    )
    register(
        "manifest_table_changes",
        manifest_table_changes,
        MANIFEST_TABLE_CHANGES_ORACLE,
    )
    register("table_profile", table_profile, TABLE_PROFILE_ORACLE)
    register("fk_integrity_audit", fk_integrity_audit, FK_INTEGRITY_ORACLE)
    register(
        "manifest_bucket_pruned_scan",
        manifest_bucket_pruned_scan,
        MANIFEST_BUCKET_PRUNED_ORACLE,
    )
    register("event_sessionization", event_sessionization, SESSIONIZATION_ORACLE)
    register("bucketed_join_revenue", bucketed_join_revenue, BUCKETED_JOIN_ORACLE)
    register("multi_format_union", multi_format_union, MULTI_FORMAT_ORACLE)
    register("cms_heavy_hitters", cms_heavy_hitters, CMS_HEAVY_HITTERS_ORACLE)
    register("q7_bination_volume", q7_bination_volume, Q7_ORACLE)
    register("q14_promo_revenue", q14_promo_revenue, Q14_ORACLE)
    register(
        "q17_small_quantity_revenue", q17_small_quantity_revenue, Q17_ORACLE
    )
    register("q19_disjunctive_revenue", q19_disjunctive_revenue, Q19_ORACLE)
    register("q15_top_supplier", q15_top_supplier, Q15_ORACLE)
    register("q2_min_cost_supplier", q2_min_cost_supplier, Q2_ORACLE)
    register("q8_market_share", q8_market_share, Q8_ORACLE)
    register("q9_product_profit", q9_product_profit, Q9_ORACLE)
    register("q11_important_stock", q11_important_stock, Q11_ORACLE)
    register(
        "q12_priority_by_returnflag", q12_priority_by_returnflag, Q12_ORACLE
    )
    register("q16_supplier_part_counts", q16_supplier_part_counts, Q16_ORACLE)
    register(
        "q20_dominant_part_suppliers", q20_dominant_part_suppliers, Q20_ORACLE
    )
    register("q21_waiting_suppliers", q21_waiting_suppliers, Q21_ORACLE)
    register(
        "salted_join_user_enrichment",
        salted_join_user_enrichment,
        SALTED_JOIN_ORACLE,
    )
