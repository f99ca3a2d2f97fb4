"""Benchmark entry point.

    python3 perfbench/run.py --workload cooling --seed 1 --seconds 6 --trace 0

Runs one workload in one process: start a Spark session on
``local[<cpus>]``, make the inputs from the seed, warm up, then run a
closed loop with one client for ``--seconds`` of measured work. The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (a run that measures
traced, untraced and traced phases, so the tracing overhead is the
difference of their medians). Everything the run writes stays under
``.perfbench_work/`` (removed at exit) and, for traced runs, the span
file under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("cooling", "cdc", "queries")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "peak_rss_mb": "MiB",
    "stored_bytes_per_row": "bytes",
}

# span name → counters it carries (besides its self time, "<name>.s")
LAYER_SPANS = {
    "plans.cooling.load_year": {},
    "sources.lake.overwrite_partitions": {"bytes_written": "bytes", "files_written": "count"},
    "plans.cooling.reconcile_year": {},
    "operators.joins.exclusion_diff_count": {"shuffle_bytes": "bytes"},
    "sources.lake.read": {},
    "sources.state.lock": {},
    "sources.state.get_watermark": {},
    "sources.state.set_watermark": {},
    "bench.hot_source": {},
    "bench.retire": {},
    "plans.federation.federated_counts_by_year": {},
    "streaming.manifest_sink.apply_cdc_batch": {},
    "sources.manifest.merge": {
        "files_rewritten": "count", "files_appended": "count", "bytes_written": "bytes",
    },
    "sources.manifest.maybe_compact": {"compactions": "count", "bytes_rewritten": "bytes"},
    "sources.manifest.read": {"files_read": "count", "dv_files": "count"},
    "bench.snapshot_check": {},
    "bench.digest": {},
    "bench.trace_hooks": {},
}
PLAN_MODULES = ("reference_queries", "analytics", "llm_queries", "streaming_queries")
SPARK_COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "driver_gap_s": "s",
}
TRACE_SUMMARY = {
    "trace.op_s": "s",
    "trace.read_s": "s",
    "trace.unattributed_s": "s",
    "trace.op_p50_overhead_s": "s",
    "trace.read_p50_overhead_s": "s",
}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for span, counters in LAYER_SPANS.items():
        out[f"{span}.s"] = "s"
        for c, unit in counters.items():
            out[f"{span}.{c}"] = unit
    for m in PLAN_MODULES:
        out[f"plans.{m}.builder_s"] = "s"
        out[f"plans.{m}.builder_jobs"] = "count"
        out[f"plans.{m}.action_s"] = "s"
        out[f"plans.{m}.persisted_rdds_delta"] = "count"
    for c, unit in SPARK_COUNTERS.items():
        out[f"spark.{c}"] = unit
    out.update(TRACE_SUMMARY)
    return out


class Phase:
    """Operations of one measured phase (or the warm-up)."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.op_walls: list[float] = []
        self.read_walls: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.busy = 0.0
        self.stored: list[float] = []

    @staticmethod
    def merge(phases: list[Phase]) -> Phase:
        out = Phase(phases[0].ctx)
        for p in phases:
            out.op_walls += p.op_walls
            out.read_walls += p.read_walls
            out.attempted += p.attempted
            out.failed += p.failed
            out.busy += p.busy
            out.stored += p.stored
        return out

    def step(self, op, read, check, label: str = "", module: str | None = None) -> None:
        """One primary operation, its verification read and the check
        of both; an exception or a failed check counts as failed."""
        ctx = self.ctx
        tracer = ctx.tracer
        self.attempted += 1
        ctx.op_seq += 1
        tracer.op_id = ctx.op_seq
        p0 = ctx.persisted() if tracer.enabled else 0
        t0 = time.time()
        ok = False
        try:
            with tracer.span("op", module=module) as counters:
                out = op()
            t1 = time.time()
            with tracer.span("read"):
                got = read(out)
            t2 = time.time()
            ok = bool(check(out, got))
            if tracer.enabled:
                counters["persisted_delta"] = ctx.persisted() - p0
        except Exception:
            traceback.print_exc(file=sys.stderr)
        if ok:
            self.op_walls.append(t1 - t0)
            self.read_walls.append(t2 - t1)
            print(
                f"perfbench: op {ctx.op_seq} {label} {t1 - t0:.3f}s read {t2 - t1:.3f}s",
                file=sys.stderr,
            )
        else:
            self.failed += 1
            print(f"perfbench: op {ctx.op_seq} {label} failed", file=sys.stderr)
        self.busy += time.time() - t0


class Context:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.op_seq = 0

    def persisted(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())


def run_phase(wl, ctx, budget: float) -> Phase:
    """Whole cycles until ``budget`` seconds of measured work: every
    run measures whole cycles, so its mix of operations is fixed."""
    phase = Phase(ctx)
    while phase.busy < budget:
        wl.cycle(phase)
    return phase


def run_traced(wl, ctx, budget: float, traced: bool) -> Phase:
    """:func:`run_phase`, with the layer wrappers installed when
    ``traced``; they are removed again before returning."""
    if not traced:
        return run_phase(wl, ctx, budget)
    undo = wl.wrappers(ctx.tracer)
    ctx.tracer.enabled = True
    try:
        return run_phase(wl, ctx, budget)
    finally:
        ctx.tracer.enabled = False
        for u in undo:
            u()


def end_to_end(setup_s: float, phase: Phase, rss_mb: float) -> dict[str, float]:
    from stats import median

    return {
        "setup_s": setup_s,
        "ops_per_s": len(phase.op_walls) / (sum(phase.op_walls) + sum(phase.read_walls)),
        "op_p50_s": median(phase.op_walls),
        "read_p50_s": median(phase.read_walls),
        "peak_rss_mb": rss_mb,
        "stored_bytes_per_row": median(phase.stored),
    }


def per_layer(tracer, untraced: Phase, traced: Phase, log_dir: str) -> dict[str, float]:
    """Per-primary-operation means over the traced phase: layer self
    times and counters, plan-module splits, Spark executor counters
    attributed by time, and the tracing overhead."""
    from stats import median
    from spans import read_event_log, stage_gap

    stages, jobs = read_event_log(log_dir)
    spans = [s for s in tracer.spans if s["end"] is not None]
    ops = [s for s in spans if s["name"] == "op"]
    n = max(1, len(ops))
    selft = tracer.self_times()
    out = {k: 0.0 for k in layer_metric_units()}
    for r in (s for s in spans if s["name"] == "read"):
        out["trace.read_s"] += (r["end"] - r["start"]) / n
        out["trace.unattributed_s"] += selft[r["id"]] / n

    def inside(t: float, s: dict) -> bool:
        return s["start"] <= t < s["end"]

    for s in spans:
        name = s["name"]
        if name in LAYER_SPANS:
            out[f"{name}.s"] += selft[s["id"]] / n
            for c, v in s["counters"].items():
                out[f"{name}.{c}"] += v / n
            if name == "operators.joins.exclusion_diff_count":
                out[f"{name}.shuffle_bytes"] += sum(
                    st["shuffle_write_bytes"] for st in stages if inside(st["start"], s)
                ) / n
        elif name.startswith("plans.") and name.rsplit(".", 1)[1] in ("builder", "action"):
            out[f"{name}_s"] += selft[s["id"]] / n
            if name.endswith(".builder"):
                out[f"{name}_jobs"] += sum(1 for j in jobs if inside(j, s)) / n
    for op in ops:
        module = op["counters"].get("module")
        if module:
            out[f"plans.{module}.persisted_rdds_delta"] += op["counters"].get("persisted_delta", 0)
        mine = [st for st in stages if inside(st["start"], op)]
        out["spark.jobs"] += sum(1 for j in jobs if inside(j, op)) / n
        out["spark.stages"] += len(mine) / n
        for key in SPARK_COUNTERS:
            if key not in ("jobs", "stages", "driver_gap_s"):
                out[f"spark.{key}"] += sum(st[key] for st in mine) / n
        out["spark.driver_gap_s"] += stage_gap(stages, op["start"], op["end"]) / n
        out["trace.op_s"] += (op["end"] - op["start"]) / n
        out["trace.unattributed_s"] += selft[op["id"]] / n
    if traced.op_walls and untraced.op_walls:
        out["trace.op_p50_overhead_s"] = median(traced.op_walls) - median(untraced.op_walls)
        out["trace.read_p50_overhead_s"] = median(traced.read_walls) - median(untraced.read_walls)
    return out


def start_session(work: str, trace: bool):
    from yc_yq_airflow_etl_spark.session import build_session

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed driver heap (-Xms = -Xmx, through the package's own
    # SPARK_GRAFT_DRIVER_MEM): with the package's 8 GiB ceiling and the
    # JVM's default start size, the resident size depends on when the
    # heap happened to grow and spreads 20-30 % between runs; see
    # perfbench/README.md
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby "
            f"-XX:-UsePerfData -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
        os.makedirs(os.path.join(work, "eventlog"))
    spark = build_session(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers) to exit; a later session then starts a fresh JVM."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import yc_yq_airflow_etl_spark  # noqa: F401
        import selfcheck  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of the driver, its Python workers and the JVM
    # lands in the run's own directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None
    try:
        import workloads

        result = run(args, work, os.path.join(ROOT, ".perfbench_out"), workloads.make)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


def run(args, work: str, out_dir: str, make) -> dict:
    """One run in ``work``: ``make(name, ctx)`` builds the workload;
    traced runs leave their spans in ``out_dir``."""
    from pyspark import SparkContext
    from spans import RssSampler, Tracer

    tracer = Tracer()
    t0 = time.time()
    spark = start_session(work, bool(args.trace))
    session_s = time.time() - t0
    sampler = RssSampler(SparkContext._gateway.proc.pid).start()
    try:
        ctx = Context(spark, work, args.seed, tracer)
        wl = make(args.workload, ctx)
        t = time.time()
        wl.prepare()
        prep_s = time.time() - t
        warm = Phase(ctx)
        t = time.time()
        wl.warmup(warm)
        warm_s = time.time() - t
        setup_s = time.time() - t0
        print(
            f"perfbench: session {session_s:.2f}s, prepare {prep_s:.2f}s, "
            f"warm-up {warm_s:.2f}s",
            file=sys.stderr,
        )

        if args.trace:
            # traced, untraced, traced: the order cancels a linear
            # warming trend out of the overhead estimate
            runs = [run_traced(wl, ctx, args.seconds / 2, on) for on in (1, 0, 1)]
            untraced, traced = runs[1], Phase.merge(runs[0::2])
            phases = [warm, untraced, traced]
        else:
            timed = run_phase(wl, ctx, args.seconds)
            phases = [warm, timed]
    finally:
        rss_mb = sampler.stop()
        stop_session(spark)
    print(
        f"perfbench: peak rss jvm {sampler.jvm_peak / 2**20:.0f} MiB, "
        f"workers {sampler.workers_peak / 2**20:.0f} MiB",
        file=sys.stderr,
    )

    if args.trace:
        metrics = per_layer(tracer, untraced, traced, os.path.join(work, "eventlog"))
        units = layer_metric_units()
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    else:
        metrics = end_to_end(setup_s, timed, rss_mb)
        units = END_TO_END
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


if __name__ == "__main__":
    sys.exit(main())
