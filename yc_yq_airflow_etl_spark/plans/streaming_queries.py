"""Batch replays of the streaming window semantics over ``events``,
oracle-checked. The identical plan functions
(streaming/windows.py) run unchanged under a streaming source — the
live micro-batch/watermark behavior is covered by
tests/test_streaming.py, which the driver's rows-only check can't see.

Oracle notes: Spark's tumbling/sliding windows align to the epoch, as
does DuckDB ``time_bucket``; session windows have no DuckDB builtin,
so the oracle derives them with the lag/cumsum idiom (new session when
the gap from the previous event is >= the timeout — matching
session_window's 'absorb strictly-before last+gap' rule)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_testdata
from ..operators.checkpoints import materialize, scope
from ..streaming.windows import (
    session_window_stats,
    sliding_window_counts,
    tumbling_window_counts,
)


@contextmanager
def _no_data_batches_off(spark: SparkSession):
    """Scope ``noDataMicroBatches.enabled=false`` around one bounded
    demo stream (r17): after the last staged file, Spark's default
    runs an extra EMPTY micro-batch purely to advance the watermark —
    a full state-store commit cycle that cannot change these queries'
    output (NoTimeout stateful op / complete-mode agg / append dedup
    whose 30-day watermark evicts nothing inside the fixture span;
    outputs verified identical both ways). Watermark-TIMER semantics
    (inactivity alerts, outer-join null emission) need those no-data
    batches, so the flag is scoped here, never session-wide."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_testdata(spark, sf_dir)
    return tumbling_window_counts(t["events"]).orderBy("window_start", "event_type")


TUMBLING_ORACLE = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_testdata(spark, sf_dir)
    return sliding_window_counts(t["events"]).orderBy(
        "window_start", "event_type"
    )


SLIDING_ORACLE = """
WITH starts AS (
    SELECT event_type, event_id,
           unnest([CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT),
                   CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT)
                   - 1800]) AS window_start
    FROM events
)
SELECT window_start, event_type, count(*) AS n,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum,
       CAST(bit_xor(event_id) AS BIGINT) AS event_id_xor
FROM starts GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_testdata(spark, sf_dir)
    # id_col (r12 deepening): per-session event membership checksum
    return session_window_stats(t["events"], id_col="event_id").orderBy(
        "user_id", "session_start"
    )


SESSION_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
    SELECT user_id, ts, value, event_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       CAST(epoch_ns(min(ts)) // 1000000000 AS BIGINT) AS session_start,
       CAST(epoch_ns(max(ts)) // 1000000000 + 300
            - epoch_ns(min(ts)) // 1000000000 AS BIGINT) AS duration_s,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM sessions GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the stream-stream interval join
    (streaming/joins.py): per-user attributed purchases within 30
    minutes of a click. The same ``click_purchase_join`` condition
    runs live over two watermarked streams in
    tests/test_streaming.py::test_stream_stream_interval_join."""
    from ..streaming.joins import attributed_purchases_per_user

    t = load_testdata(spark, sf_dir)
    return attributed_purchases_per_user(t["events"]).orderBy("user_id")


CLICK_PURCHASE_ORACLE = """
WITH c AS (
    -- explicit ns→µs floor: the interval comparison must run at the
    -- SAME precision Spark reads (parquet ns truncate to µs) — raw-ns
    -- comparison could split the engines within 1 µs of a boundary
    SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
           event_id, value
    FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id AS user_id,
       count(*) AS n_pairs,
       count(DISTINCT p.event_id) AS n_purchases,
       CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(sum(DISTINCT p.event_id) AS BIGINT) AS purchase_id_sum
FROM c JOIN p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '30 minutes'
GROUP BY 1 ORDER BY user_id
"""


def stream_click_purchase_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the LEFT OUTER stream-stream join
    (streaming/joins.click_purchase_left_join): per-user join rows and
    attributed count — orphan clicks included. The live variant (null
    emission on watermark state eviction, a batch AFTER the window
    closes) runs in tests/test_streaming.py::test_stream_stream_left_outer_join."""
    from ..streaming.joins import attributed_and_orphan_clicks

    t = load_testdata(spark, sf_dir)
    return attributed_and_orphan_clicks(t["events"]).orderBy("user_id")


CLICK_PURCHASE_LEFT_ORACLE = """
WITH c AS (
    -- explicit ns→µs floor, matching Spark's parquet read precision
    SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, event_id
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, event_id
    FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id AS user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(p.event_id) AS BIGINT) AS n_attributed,
       CAST(sum(DISTINCT c.event_id) AS BIGINT) AS click_id_sum,
       CAST(coalesce(sum(DISTINCT p.event_id), 0) AS BIGINT)
           AS purchase_id_sum
FROM c LEFT JOIN p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '30 minutes'
GROUP BY 1 ORDER BY user_id
"""


def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: hourly AND daily
    aggregates of the events stream in ONE scan + ONE shuffle via
    GROUPING SETS ((day, hour), (day)) — the continuous-aggregate
    shape time-series stores maintain, expressed declaratively so
    Catalyst plans a single partial+final Expand/HashAggregate
    instead of two scans + a union."""
    t = load_testdata(spark, sf_dir)
    t["events"].createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT CASE WHEN hour IS NULL THEN 'day' ELSE 'hour' END AS gran,
               CAST(unix_timestamp(day) AS BIGINT) AS day_epoch,
               hour,
               count(1) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               -- deepened pin (r12): bucket-membership checksum, same
               -- contract as the tumbling/sliding windows — an event
               -- rolled into the neighboring hour moves two hour cells'
               -- id sums while the day row stays balanced, so the
               -- hierarchy itself is pinned cell by cell.
               CAST(sum(event_id) AS BIGINT) AS event_id_sum
        FROM (SELECT date_trunc('day', ts) AS day, hour(ts) AS hour, value,
                     event_id
              FROM events_v)
        GROUP BY GROUPING SETS ((day, hour), (day))
        ORDER BY day_epoch, gran, hour
        """
    )


EVENTS_ROLLUP_ORACLE = """
WITH b AS (
    SELECT date_trunc('day', ts) AS day, hour(ts) AS hour, value, event_id
    FROM events
)
SELECT CASE WHEN hour IS NULL THEN 'day' ELSE 'hour' END AS gran,
       CAST(epoch(day) AS BIGINT) AS day_epoch,
       CAST(hour AS INT) AS hour,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM b
GROUP BY GROUPING SETS ((day, hour), (day))
ORDER BY day_epoch, gran, hour
"""


def stateful_spend_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator under REAL streaming execution,
    oracle-checked: the per-user spend-threshold alert operator
    (streaming/stateful.user_spend_alerts, applyInPandasWithState)
    runs as a live multi-micro-batch file-stream query (2 source
    files, 1 per trigger → ≥2 batches, so per-key state genuinely
    crosses micro-batch boundaries — the richer 4-file staging lives
    in the pytest; the bench keeps the minimal boundary-crossing
    shape), and the collected memory-sink
    result is compared against DuckDB's windowed replay of the same
    crossing rule. Cents-integer arithmetic keeps both engines
    bit-identical."""
    import tempfile
    import time
    import uuid

    from pyspark.sql import Window

    from ..streaming.stateful import user_spend_alerts

    t = load_testdata(spark, sf_dir)
    # Stage the source as a TIME-ORDERED log (2 files = 2 consecutive
    # ts halves, written oldest-first so the file source's
    # mod-time ordering replays them in event order) — the arrival
    # contract a Kafka partition or CDC log provides, and what a
    # lifetime-cumulative operator needs to be deterministic.
    #
    # Only PURCHASES are staged (r17): the operator's first step is a
    # JVM-side event_type=='purchase' filter, so non-purchase rows
    # never touch the state function and the alert output is
    # byte-identical either way (verified against the oracle and the
    # all-events staging) — but the staging's global ntile sort was
    # ordering 5× the rows it needed to. Same reason the split stays
    # correct: the (ts, event_id) total order of the purchase
    # subsequence is preserved, and the operator sorts within each
    # micro-batch, so alert emission depends only on per-user purchase
    # order, not on where the batch boundary falls.
    src = tempfile.mkdtemp(prefix="spend_src_")
    # (ts, event_id) is a total order — ties on ts alone would split
    # a user's equal-ts events across files nondeterministically.
    # Materialized: both half-writes read the SAME ntile frame —
    # without it each filter re-runs the global sort. The scope frees
    # the checkpoint once the query has stopped, so no invocation
    # leaves the purchase frame's blocks behind for the session.
    name = "spend_alerts_" + uuid.uuid4().hex[:8]
    with scope(), _no_data_batches_off(spark):
        ev = materialize(
            t["events"]
            .filter(F.col("event_type") == "purchase")
            .withColumn("_q", F.ntile(2).over(Window.orderBy("ts", "event_id"))),
            "stateful_spend_alerts: staging",
        )
        for i in range(1, 3):
            ev.filter(F.col("_q") == i).drop("_q").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            time.sleep(0.05)  # distinct mod-times → stable replay order
        stream = (
            spark.readStream.schema(t["events"].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            user_spend_alerts(stream, threshold_cents=20_000)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="spend_ck_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
    return spark.table(name).orderBy("user_id", "alert_level")


SPEND_ALERTS_ORACLE = """
WITH p AS (
    SELECT user_id, ts, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT user_id, ts, event_id,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM p
), lv AS (
    SELECT user_id, ts, cum,
           cum // 20000 AS level,
           coalesce(lag(cum) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id), 0) // 20000 AS prev
    FROM c
)
SELECT user_id,
       unnest(generate_series(prev + 1, level)) AS alert_level,
       cum AS cum_cents,
       CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_epoch
FROM lv WHERE level > prev
ORDER BY user_id, alert_level
"""


def stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under LIVE execution, oracle-checked:
    a deterministic event slice is staged as two micro-batch files
    with replayed event_ids injected on BOTH sides of the batch
    boundary (in-batch dupes in file 1, file 2 entirely replays of
    file 1 rows), so ``dropDuplicates`` state must genuinely carry
    across micro-batches to suppress them. The deduped stream's
    per-type rollup then equals the oracle's replay-free aggregate.
    Watermark bounds the key state at scale (the expiry/re-emission
    semantics of the bounded variant are pytest-covered by
    test_streaming_dedup_within_watermark); cents-integer sums keep
    both engines exact."""
    import tempfile
    import time
    import uuid

    t = load_testdata(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="sdedup_src_")
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    # The r17 full-bench "regression" of this query (2.92 → 3.45 s in
    # both r17 runs) was bisected in r18 full-bench A/B runs and
    # attributed to RUN-ORDER/session state, not this scoping: with
    # identical r17 code and order the round-start baseline measured
    # 2.64 s (below the r16 number), and at the rotated late position
    # the scoping-ON first run beat the scoping-OFF first run (4.28 vs
    # 5.13 s, steady 2.47 s) — the first-vs-steady gap dwarfs any
    # scoping delta. Scoping kept (see OPTIMIZATION_r18.md).
    with scope(), _no_data_batches_off(spark):
        # staging slice materialized ONCE (r18, guide §5.3): the two
        # staged files used to grow three separate events scans (base
        # ∪ in-batch dupes, then the replay slice); the 1/25 slice is
        # tiny, so checkpoint it and derive both files from it
        base = materialize(
            t["events"]
            .filter(F.col("event_id") % 25 == 0)
            .select("event_id", "user_id", "ts", "event_type", "value"),
            "stream_exact_dedup: staging",
        )
        dup_in_batch = base.filter(F.col("event_id") % 50 == 0)
        replay_next_batch = base.filter(F.col("event_id") % 50 == 25)
        base.unionAll(dup_in_batch).coalesce(1).write.mode("append").parquet(
            src
        )
        time.sleep(0.05)  # distinct mod-times → stable file replay order
        replay_next_batch.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        deduped = stream.withWatermark("ts", "30 days").dropDuplicates(
            ["event_id"]
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="sdedup_ck_")
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
            # deepened pin (r12): WHICH events survived dedup — a lost
            # original or a surviving replay shifts the id checksum
            # even where counts/cents happen to collide.
            F.sum("event_id").cast("long").alias("event_id_sum"),
        )
        .orderBy("event_type")
    )


STREAM_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM events
WHERE event_id % 25 = 0
GROUP BY 1 ORDER BY event_type
"""


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join under LIVE execution: each micro-batch of a
    two-file event stream broadcast-joins a STATIC dimension (user →
    tier, derived deterministically so the oracle can restate it) and
    feeds a running aggregation in complete mode. Stream-static joins
    are stateless on the stream side — the static table is just
    re-broadcast per batch, the exact enrichment shape a 100 TB
    pipeline uses for dimension lookup without any state store."""
    import tempfile
    import time
    import uuid

    t = load_testdata(spark, sf_dir)
    # staging slice materialized ONCE (r18, guide §5.3): the 1/10
    # slice used to be re-scanned from events for EACH half-file write
    # AND for the static tier dimension — which the stream-static join
    # re-evaluates per micro-batch (the static side is re-broadcast
    # every trigger, so an un-materialized dimension re-reads the base
    # table once per batch). The checkpoint makes staging and every
    # per-batch tier derivation read the tiny slice; the scope frees it
    # after the stream stops (the live query is its last consumer).
    with scope():
        base = materialize(
            t["events"]
            .filter(F.col("event_id") % 10 == 0)
            .select("event_id", "user_id", "ts", "value"),
            "stream_static_enrichment: staging",
        )
        tiers = (
            base.select("user_id")
            .distinct()
            .withColumn("tier", (F.col("user_id") % 5).cast("int"))
        )

        src = tempfile.mkdtemp(prefix="senrich_src_")
        half = F.col("event_id") % 20 == 0
        base.filter(half).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        base.filter(~half).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        enriched = stream.join(F.broadcast(tiers), "user_id")
        agg = enriched.groupBy("tier").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
            # deepened pin (r12): per-tier event membership — a user
            # enriched with the wrong tier moves whole event groups;
            # twin swaps that balance counts can't balance both id
            # checksums.
            F.sum("event_id").cast("long").alias("event_id_sum"),
        )
        name = "senrich_" + uuid.uuid4().hex[:8]
        with _no_data_batches_off(spark):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option(
                    "checkpointLocation",
                    tempfile.mkdtemp(prefix="senrich_ck_"),
                )
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(60)
    return spark.table(name).orderBy("tier")


STREAM_STATIC_ORACLE = """
SELECT CAST(user_id % 5 AS INT) AS tier, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM events
WHERE event_id % 10 = 0
GROUP BY 1 ORDER BY tier
"""


def user_inactivity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming/stateful.user_inactivity_alerts``
    (EventTimeTimeout silence detection), replayed FAITHFULLY under
    the fine-grained-watermark idealization (micro-batches small
    enough that the watermark tracks max-seen − delay continuously —
    the limit the live query approaches as trigger intervals shrink):

    - the timer deadline is ``last_seen + gap``; it fires when the
      watermark STRICTLY passes it, and the watermark reaches
      ``ep − delay`` just before the event at ``ep`` processes — so a
      closure fires INSIDE a user's history at every consecutive-event
      silence ``> gap + delay``, resetting the per-key state
      (n_events restarts), not only at end-of-stream;
    - the user's final run of events closes iff the end-of-stream
      watermark (corpus max − delay) strictly passes its deadline.

    So the replay is gaps-and-islands sessionization with a
    ``gap + delay`` break, emitting every non-final session plus
    final sessions the last watermark outruns — per-closure
    ``n_events`` is the SINCE-LAST-RESET count, exactly the state the
    streaming operator carries. (The live timer mechanics — firing
    with no data for the key, state removal — are pinned by the
    three-micro-batch test in test_streaming.py; batch-boundary
    watermark coarseness is the one thing this replay idealizes
    away.)

    Scale shape: one window per user key (the natural partition key)
    stacked on a single sort/exchange, then a partial-aggregated
    session rollup; the corpus max rides a 1-row broadcast cross
    join. Known hot-key bound: a single bot-grade key's whole history
    sorts in one task here — the per-key-ordered replay is inherent
    to batch sessionization; for that regime run the STREAMING
    operator (O(1) state per key, no per-key sort) or the
    time-bucketed two-phase split ``asof_join(bucket_width=...)``
    demonstrates. gap=4h / 10-min delay sit inside the fixture's one-month
    span, so internal closures, final closures, and still-active
    tails all occur at every sf."""
    ev = load_testdata(spark, sf_dir)["events"].select(
        "user_id", F.unix_timestamp("ts").alias("ep")
    )
    return inactivity_closures(ev, gap_s=4 * 3600, delay_s=600).orderBy(
        "user_id", "last_ts_epoch"
    )


def inactivity_closures(
    ev: DataFrame, gap_s: int, delay_s: int
) -> DataFrame:
    """The closure-replay core over any (user_id, ep) frame — factored
    out so property tests can drive it with arbitrary event sets
    against a plain-Python replay of the timer semantics."""
    from pyspark.sql import Window

    wm = ev.agg((F.max("ep") - delay_s).alias("wm_ep"))
    w = Window.partitionBy("user_id").orderBy("ep")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ep").over(w).isNull()
            | ((F.col("ep") - F.lag("ep").over(w)) > gap_s + delay_s),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ep").alias("last_ep"),
        # deepened pins (r13), riding the same session rollup: the
        # session START (a boundary drifted by one event moves it even
        # when a downstream count compensates) and the full member-
        # epoch checksum (pins exactly WHICH events each closure ate)
        F.min("ep").alias("first_ep"),
        F.sum("ep").cast("bigint").alias("ep_sum"),
    )
    last_sid = agg.groupBy("user_id").agg(F.max("sid").alias("msid"))
    return (
        agg.join(last_sid, "user_id")
        .crossJoin(wm)
        .filter(
            (F.col("sid") < F.col("msid"))
            | (F.col("last_ep") + gap_s < F.col("wm_ep"))
        )
        .select(
            "user_id",
            "n_events",
            F.col("last_ep").alias("last_ts_epoch"),
            F.col("first_ep").alias("first_ts_epoch"),
            "ep_sum",
        )
    )


INACTIVITY_ORACLE = """
WITH e AS (
    SELECT user_id,
           CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ep
    FROM events
), wm AS (
    SELECT max(ep) - 600 AS wm_ep FROM e
), flagged AS (
    SELECT user_id, ep,
           CASE WHEN lag(ep) OVER w IS NULL
                  OR ep - lag(ep) OVER w > 15000
                THEN 1 ELSE 0 END AS new_sess
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ep)
), sess AS (
    SELECT user_id, ep,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ep
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged
), agg AS (
    SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
           max(ep) AS last_ep, min(ep) AS first_ep,
           CAST(sum(ep) AS BIGINT) AS ep_sum
    FROM sess GROUP BY 1, 2
), lastsid AS (
    SELECT user_id, max(sid) AS msid FROM agg GROUP BY 1
)
SELECT a.user_id, a.n_events, a.last_ep AS last_ts_epoch,
       a.first_ep AS first_ts_epoch, a.ep_sum
FROM agg a JOIN lastsid l USING (user_id), wm
WHERE a.sid < l.msid OR a.last_ep + 14400 < wm.wm_ep
ORDER BY a.user_id, last_ts_epoch
"""


def register_all() -> None:
    from .registry import register

    register("events_tumbling_hourly", events_tumbling_hourly, TUMBLING_ORACLE)
    register("events_sliding_counts", events_sliding_counts, SLIDING_ORACLE)
    register("events_session_stats", events_session_stats, SESSION_ORACLE)
    register(
        "stream_click_purchase_join",
        stream_click_purchase_join,
        CLICK_PURCHASE_ORACLE,
    )
    register(
        "stream_click_purchase_left",
        stream_click_purchase_left,
        CLICK_PURCHASE_LEFT_ORACLE,
    )
    register("stateful_spend_alerts", stateful_spend_alerts, SPEND_ALERTS_ORACLE)
    register("events_time_rollup", events_time_rollup, EVENTS_ROLLUP_ORACLE)
    register("stream_exact_dedup", stream_exact_dedup, STREAM_DEDUP_ORACLE)
    register(
        "stream_static_enrichment", stream_static_enrichment, STREAM_STATIC_ORACLE
    )
    register("user_inactivity_report", user_inactivity_report, INACTIVITY_ORACLE)
