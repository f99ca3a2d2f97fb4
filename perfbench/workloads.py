"""The workloads. Each one offers the same three calls:

- ``prepare()``: make the inputs from the seed;
- ``warmup(phase)``: one untimed-as-operation pass that absorbs JIT
  and artifact builds and checks outputs against an oracle;
- ``cycle(phase)``: restore state without timing, then run primary
  operations through ``phase.step`` — a closed loop with one client.

Layer spans are recorded around the calls the benchmark itself makes
(``tracer.span``) and by the wrappers each workload's ``wrappers()``
puts on the package's public functions while a traced phase runs.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import tempfile
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from spans import Tracer, dir_bytes, dir_files, new_files, wrap_attr, wrap_context_manager

# -- cooling ----------------------------------------------------------------

# minutes per calendar year of the reference grid (leap 2020/2024) and
# the January 2025 tail that stays hot
YEAR_MINUTES = {2020: 527_040, 2021: 525_600, 2022: 525_600, 2023: 525_600,
                2024: 527_040, 2025: 44_640}


class Cooling:
    """The reference product: five yearly cooling windows 2020-2024,
    each followed by the federation read over hot store plus lake.

    ``stride`` thins the minute grid to every stride-th payment (it
    must divide 1440, so every year keeps an exact share)."""

    name = "cooling"

    def __init__(self, ctx, stride: int = 10) -> None:
        if 1440 % stride:
            raise ValueError(f"stride must divide 1440, got {stride}")
        self.ctx = ctx
        self.stride = stride
        base = os.path.join(ctx.work, "cooling")
        self.pristine = os.path.join(base, "hot_pristine")
        self.hot = os.path.join(base, "hot")
        self.lake_path = os.path.join(base, "lake")
        self.state_path = os.path.join(base, "state", "exp_date.json")
        self.expected = {y: m // stride for y, m in YEAR_MINUTES.items()}

    def prepare(self) -> None:
        from pyspark.sql import functions as F
        from yc_yq_airflow_etl_spark.sources.generator import generate_payments

        spark = self.ctx.spark
        df = (
            generate_payments(spark, seed=self.ctx.seed)
            .filter((F.col("id") - 1) % self.stride == 0)
            .withColumn("payment_year", F.year("payment_date"))
        )
        df.write.mode("overwrite").partitionBy("payment_year").parquet(self.pristine)

    def _source(self):
        from yc_yq_airflow_etl_spark.schemas import PAYMENTS_LAKE

        with self.ctx.tracer.span("bench.hot_source"):
            return self.ctx.spark.read.schema(PAYMENTS_LAKE).parquet(self.hot)

    def _retire(self, year: int) -> None:
        with self.ctx.tracer.span("bench.retire"):
            shutil.rmtree(os.path.join(self.hot, f"payment_year={year}"))

    def warmup(self, phase) -> None:
        # a whole cycle: reads still drift down through the first five
        # windows of a session, so a shorter warm-up leaves the timed
        # cycle warming
        self.cycle(phase)

    def cycle(self, phase) -> None:
        """Restore the hot store, an empty lake and an unset watermark,
        then run the yearly windows 2020-2024."""
        from yc_yq_airflow_etl_spark.plans.cooling import CoolingPipeline
        from yc_yq_airflow_etl_spark.plans.federation import federated_counts_by_year
        from yc_yq_airflow_etl_spark.sources.lake import LakeTable
        from yc_yq_airflow_etl_spark.sources.state import PipelineState

        for p in (self.hot, self.lake_path, os.path.dirname(self.state_path)):
            shutil.rmtree(p, ignore_errors=True)
        shutil.copytree(self.pristine, self.hot)
        spark = self.ctx.spark
        lake = LakeTable(self.lake_path)
        state = PipelineState(self.state_path)
        pipe = CoolingPipeline(
            spark, source=self._source, lake=lake, state=state, retire=self._retire
        )

        def read(_):
            with self.ctx.tracer.span("plans.federation.federated_counts_by_year"):
                rows = federated_counts_by_year(self._source(), lake.read(spark)).collect()
            return {(r["dyear"], r["src"]): r["cnt"] for r in rows}

        cooled = 0
        for year in range(2020, 2025):

            def check(out, cells, year=year):
                want = {(y, "s3" if y <= year else "pg"): n for y, n in self.expected.items()}
                return (
                    out["diff"] == 0
                    and out["retired_year"] == year
                    and cells == want
                    and state.get_watermark("2020-01-01") == datetime(year + 1, 1, 1)
                )

            phase.step(pipe.run_once, read, check, label=f"window {year}")
            cooled += self.expected[year]
        if cooled:
            phase.stored.append(dir_bytes(self.lake_path) / cooled)

    def wrappers(self, tracer: Tracer) -> list:
        from yc_yq_airflow_etl_spark.plans import cooling
        from yc_yq_airflow_etl_spark.sources.lake import LakeTable
        from yc_yq_airflow_etl_spark.sources.state import PipelineState

        def lake_before(args):
            return dir_files(args[0].path)

        def lake_after(before, _res, counters, args, _outer):
            files, nbytes = new_files(before, dir_files(args[0].path))
            counters["files_written"] = files
            counters["bytes_written"] = nbytes

        return [
            wrap_attr(cooling, "load_year", tracer, "plans.cooling.load_year"),
            wrap_attr(cooling, "reconcile_year", tracer, "plans.cooling.reconcile_year"),
            wrap_attr(cooling, "exclusion_diff_count", tracer,
                      "operators.joins.exclusion_diff_count"),
            wrap_attr(LakeTable, "overwrite_partitions", tracer,
                      "sources.lake.overwrite_partitions", lake_before, lake_after),
            wrap_attr(LakeTable, "read", tracer, "sources.lake.read"),
            wrap_context_manager(PipelineState, "lock", tracer, "sources.state.lock"),
            wrap_attr(PipelineState, "get_watermark", tracer, "sources.state.get_watermark"),
            wrap_attr(PipelineState, "set_watermark", tracer, "sources.state.set_watermark"),
        ]


# -- cdc --------------------------------------------------------------------


class Cdc:
    """Changelog apply on the manifest table: merge-on-read batches of
    upserts and deletes scattered over every file, ``maybe_compact``
    after each commit, then a full snapshot read checked against a
    plain-Python replay of the changelog."""

    name = "cdc"

    def __init__(self, ctx, base_rows: int = 20_000, files: int = 8,
                 batches: int = 2, keys_per_batch: int = 400,
                 inserts_per_batch: int = 100) -> None:
        self.ctx = ctx
        self.base_rows = base_rows
        self.files = files
        self.batches = batches
        self.keys_per_batch = keys_per_batch
        self.inserts_per_batch = inserts_per_batch
        base = os.path.join(ctx.work, "cdc")
        self.pristine = os.path.join(base, "mirror_pristine")
        self.path = os.path.join(base, "mirror")
        self.base = datagen.base_orders(base_rows, ctx.seed)
        self.cycles = 0

    def _frame(self, rows, name: str):
        """Land ``rows`` as one parquet file (as a changelog export
        would) and return the Spark reader over it; building the file
        is input preparation, not the program's work."""
        cols = ["o_orderkey", "o_custkey", "o_totalprice", "seq", "op"]
        data = {c: [r[i] for r in rows] for i, c in enumerate(cols[: len(rows[0])])}
        path = os.path.join(self.ctx.work, "cdc", "input", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table(data), path)
        return self.ctx.spark.read.parquet(path)

    def prepare(self) -> None:
        from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable

        rows = [(k, c, p / 100) for k, (c, p) in self.base.items()]
        table = ManifestTable(self.pristine, stat_cols=("o_orderkey",))
        table.overwrite(self._frame(rows, "base").repartition(self.files))

    def warmup(self, phase) -> None:
        self.cycle(phase, batches=1)

    def cycle(self, phase, batches: int | None = None) -> None:
        """Restore the base table, then apply a whole cycle of batches
        (batch cost grows with deletion-vector debt until compaction,
        so a timed phase always runs whole cycles)."""
        from pyspark.sql import functions as F
        from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable
        from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

        shutil.rmtree(self.path, ignore_errors=True)
        shutil.copytree(self.pristine, self.path)
        spark = self.ctx.spark
        table = ManifestTable(self.path, stat_cols=("o_orderkey",))
        live = dict(self.base)
        next_key = self.base_rows
        rng = np.random.default_rng([self.ctx.seed, self.cycles])
        self.cycles += 1
        tracer = self.ctx.tracer

        def read(_):
            with tracer.span("bench.snapshot_check"):
                r = table.read(spark).agg(
                    F.count(F.lit(1)),
                    F.sum("o_orderkey"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                ).first()
            return (int(r[0]), int(r[1] or 0), int(r[2] or 0))

        for batch_id in range(1, (batches or self.batches) + 1):
            rows, next_key = datagen.changelog_batch(
                rng, live, next_key, self.keys_per_batch, self.inserts_per_batch
            )
            batch = self._frame(
                [(k, c, p / 100, s, o) for k, c, p, s, o in rows], f"batch{batch_id}"
            )
            datagen.replay(live, rows)
            want = datagen.checksums(live)

            def op(batch=batch, batch_id=batch_id):
                with tracer.span("streaming.manifest_sink.apply_cdc_batch"):
                    applied = apply_cdc_batch(
                        table, batch, batch_id, key="o_orderkey",
                        order_col="seq", mode="merge-on-read",
                    )
                table.maybe_compact(spark)
                return applied

            phase.step(
                op, read, lambda applied, got, want=want: applied and got == want,
                label=f"batch {batch_id}",
            )
        phase.stored.append(dir_bytes(self.path) / max(1, len(live)))

    def wrappers(self, tracer: Tracer) -> list:
        from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable

        spark = self.ctx.spark

        def snapshot(table):
            v = table.current_version(spark)
            return set(table.manifest_files(spark, v)) if v is not None else set()

        def merge_before(args):
            return snapshot(args[0]), dir_files(args[0].path)

        def merge_after(before, _res, counters, args, _outer):
            old_files, old_disk = before
            new = snapshot(args[0])
            counters["files_rewritten"] = len(old_files - new)
            counters["files_appended"] = len(new - old_files)
            counters["bytes_written"] = new_files(old_disk, dir_files(args[0].path))[1]

        def compact_before(args):
            return dir_files(args[0].path)

        def compact_after(before, res, counters, args, _outer):
            counters["compactions"] = int(res is not None)
            counters["bytes_rewritten"] = new_files(before, dir_files(args[0].path))[1]

        def read_after(_state, _res, counters, args, outer):
            # count only the snapshot reads the benchmark itself makes,
            # not the ones merge/compaction issue internally
            if outer != "bench.snapshot_check":
                return
            table = args[0]
            m = table._manifest(spark, table.current_version(spark))
            counters["files_read"] = len(m["files"])
            counters["dv_files"] = len(m.get("dvs", {}))

        return [
            wrap_attr(ManifestTable, "merge", tracer, "sources.manifest.merge",
                      merge_before, merge_after),
            wrap_attr(ManifestTable, "maybe_compact", tracer,
                      "sources.manifest.maybe_compact", compact_before, compact_after),
            wrap_attr(ManifestTable, "read", tracer, "sources.manifest.read",
                      None, read_after),
        ]


# -- registry query loops ---------------------------------------------------

# A fixed query set (the seed changes only its order) spanning the four
# registry modules. Most of it is short queries of similar cost, so the
# median operation falls among them rather than on the boundary between
# two single queries; the costly ones carry the layers that need them.
QUERIES = [
    "federation_counts",  # reference_queries: the federation read
    "q3_shipping_priority",  # analytics: three-way join + top-k
    "window_running_totals",  # analytics: window functions
    "manifest_merge_upsert",  # analytics: copy-on-write ManifestTable.merge
    "similarity_bruteforce_topk",  # llm_queries: vector similarity
    "dedup_exact",  # llm_queries: exact dedup
    "multimodal_ppm_features",  # llm_queries: Arrow/pandas Python workers
    "events_tumbling_hourly",  # streaming_queries: windowed aggregate
    "stream_exact_dedup",  # streaming_queries: live query with dedup state
]
# the query whose output table gives stored_bytes_per_row on this workload
STORED_QUERY = "manifest_merge_upsert"
# the registry tables are the same on every run; the seed orders queries
DATA_SEED = 42
SCALE_FACTOR = 0.001


def digest(rows, cols) -> str:
    """Order-insensitive value digest, over the same canonical cell
    form the oracle comparison uses."""
    from selfcheck import rows_multiset

    items = sorted(rows_multiset(rows, cols).items())
    return hashlib.sha1(repr(items).encode()).hexdigest()


class Queries:
    """A closed loop over a fixed set of registry queries: each
    operation builds the query and counts it; the verification read
    collects it and compares its digest with the warm-up's. The data
    seed is fixed; the workload seed only orders the queries.

    ``stored_bytes_per_row`` is what the program writes for
    :data:`STORED_QUERY` (its merged table, cloned base included: every
    file that appears under the temp dir while it runs) per row of that
    table, ``n_rows_after``."""

    name = "queries"

    def __init__(self, ctx, queries: list[str]) -> None:
        if STORED_QUERY not in queries:
            raise ValueError(f"the query set must include {STORED_QUERY}")
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "queries_data")
        self.queries = list(queries)
        self.rng = random.Random(ctx.seed)
        self.expected: dict[str, tuple[int, str]] = {}
        self.stored_rows = 0

    def prepare(self) -> None:
        datagen.write_testdata(self.sf_dir, SCALE_FACTOR, DATA_SEED)

    def _specs(self):
        from yc_yq_airflow_etl_spark.plans import registry

        by_name = {s.name: s for s in registry.specs()}
        missing = [q for q in self.queries if q not in by_name]
        if missing:
            raise KeyError(f"queries not in the registry: {missing}")
        return by_name

    def warmup(self, phase) -> None:
        import duckdb
        from selfcheck import TABLES, rows_multiset

        by_name = self._specs()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        spark = self.ctx.spark
        for q in self.rng.sample(self.queries, len(self.queries)):
            spec = by_name[q]

            def read(df):
                cols = df.columns
                return cols, [tuple(r) for r in df.collect()]

            def check(df, got, spec=spec):
                cols, rows = got
                self.expected[spec.name] = (len(rows), digest(rows, cols))
                if spec.name == STORED_QUERY:
                    self.stored_rows = rows[0][cols.index("n_rows_after")]
                if spec.oracle is None:
                    return len(rows) > 0
                rel = con.sql(spec.oracle)
                return rows_multiset(rows, cols) == rows_multiset(rel.fetchall(), list(rel.columns))

            phase.step(lambda spec=spec: spec.builder(spark, self.sf_dir), read, check, label=q)

    def cycle(self, phase) -> None:
        by_name = self._specs()
        spark = self.ctx.spark
        tracer = self.ctx.tracer
        for q in self.rng.sample(self.queries, len(self.queries)):
            spec = by_name[q]
            module = spec.builder.__module__.rsplit(".", 1)[-1]

            def op(spec=spec, module=module):
                with tracer.span(f"plans.{module}.builder"):
                    df = spec.builder(spark, self.sf_dir)
                with tracer.span(f"plans.{module}.action"):
                    n = df.count()
                return df, n

            def read(out):
                df, _ = out
                with tracer.span("bench.digest"):
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                    return len(rows), digest(rows, cols)

            def check(out, got, q=q):
                return out[1] == got[0] and got == self.expected.get(q)

            if q == STORED_QUERY:
                before = dir_files(tempfile.gettempdir())
            phase.step(op, read, check, label=q, module=module)
            if q == STORED_QUERY:
                written = new_files(before, dir_files(tempfile.gettempdir()))[1]
                phase.stored.append(written / max(1, self.stored_rows))

    def wrappers(self, tracer: Tracer) -> list:
        return []


def make(name: str, ctx):
    if name == "cooling":
        return Cooling(ctx)
    if name == "cdc":
        return Cdc(ctx)
    if name == "queries":
        return Queries(ctx, QUERIES)
    raise ValueError(f"unknown workload {name!r}")
