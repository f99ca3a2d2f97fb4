"""Tracing from outside the program.

- :class:`Tracer` keeps spans in memory (name, start, end, parent, op
  id) and writes them out as JSON lines at the end of a run.
- :func:`wrap_attr` replaces a module function or class method with a
  timing wrapper and returns an undo callable; the package itself is
  never edited.
- :class:`RssSampler` follows the driver JVM and its Python workers
  through ``/proc``.
- :func:`read_event_log` turns Spark's own event log (the status
  stream the UI is built from) into per-stage and per-job records, so
  executor counters are attributed to spans by time after the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections.abc import Callable

from stats import clip, self_times, union_length


class Tracer:
    """Spans of the operations the benchmark drives. A span opened
    outside every root span (``op`` or ``read``) is not recorded, so
    self times of the recorded spans add up to the roots' walls."""

    ROOTS = ("op", "read")

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: int | None = None
        self._stack: list[int] = []

    def current_name(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, **counters):
        """Record one span; the yielded dict holds its counters (and
        stays attached to the span after it closes)."""
        if not self.enabled or (not self._stack and name not in self.ROOTS):
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "counters": dict(counters),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        return self_times([s for s in self.spans if s["end"] is not None])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap_attr(
    owner,
    attr: str,
    tracer: Tracer,
    name: str,
    before: Callable | None = None,
    after: Callable | None = None,
) -> Callable[[], None]:
    """Time every call of ``owner.attr`` as span ``name``.

    ``before(args)`` returns a state object; ``after(state, result,
    counters, args, outer)`` fills the span's counters, ``outer`` being
    the name of the span the call was made in. Both run in
    ``bench.trace_hooks`` spans beside the timed one, so their cost is
    reported as the tracer's, not the layer's. Returns the undo
    callable that restores the original."""
    orig = owner.__dict__[attr]

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return orig(*args, **kwargs)
        outer = tracer.current_name()
        with tracer.span("bench.trace_hooks"):
            state = before(args) if before else None
        with tracer.span(name) as counters:
            result = orig(*args, **kwargs)
        if after:
            with tracer.span("bench.trace_hooks"):
                after(state, result, counters, args, outer)
        return result

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


def wrap_context_manager(
    owner, attr: str, tracer: Tracer, name: str
) -> Callable[[], None]:
    """Like :func:`wrap_attr` for a method returning a context
    manager: the span covers the whole ``with`` block, so its self
    time is acquire + release plus whatever untraced code the block
    runs between its traced children."""
    orig = owner.__dict__[attr]

    @functools.wraps(orig)
    @contextlib.contextmanager
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            with orig(*args, **kwargs) as v:
                yield v
            return
        with tracer.span(name), orig(*args, **kwargs) as v:
            yield v

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


def dir_files(path: str) -> dict[str, int]:
    """Every regular file under ``path`` with its size."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def new_files(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) present in ``after`` and not in ``before``."""
    added = [p for p in after if p not in before]
    return len(added), sum(after[p] for p in added)


# -- memory -----------------------------------------------------------------

def _pss(pid: int) -> int:
    """Proportional set size: forked workers share the daemon's pages,
    so summing their RSS would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _hwm(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _python_descendants(root: int) -> list[int]:
    """Python processes below ``root`` (the PySpark daemon and its
    workers). Other children are skipped: a child the JVM forks to run
    a shell command shares the JVM's pages until it execs, and would
    briefly count for half of them."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            ppid = int(tail.split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
        comm[int(d)] = head.split("(", 1)[-1]
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            if comm[c].startswith("python"):
                out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers:
    the JVM's kernel-kept high-water mark plus the largest sampled
    proportional set size summed over the JVM's Python descendants."""

    INTERVAL_S = 0.2

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            total = sum(_pss(p) for p in _python_descendants(self.jvm_pid))
            self.workers_peak = max(self.workers_peak, total)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.jvm_peak = _hwm(self.jvm_pid)
        return (self.jvm_peak + self.workers_peak) / 2**20


# -- Spark event log --------------------------------------------------------

_STAGE_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def read_event_log(log_dir: str) -> tuple[list[dict], list[float]]:
    """(stages, job submission times) from every event log file under
    ``log_dir`` (plain or rolling layout). A stage is a dict with ``start``/``end`` in epoch
    seconds plus the counters named in ``_STAGE_ACC``; skipped stages
    never complete and so never appear."""
    stages, jobs = [], []
    for path in sorted(dir_files(log_dir)):
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    jobs.append(json.loads(line)["Submission Time"] / 1e3)
                elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                    info = json.loads(line)["Stage Info"]
                    if "Submission Time" not in info or "Completion Time" not in info:
                        continue
                    st = {
                        "start": info["Submission Time"] / 1e3,
                        "end": info["Completion Time"] / 1e3,
                    }
                    for key, scale in _STAGE_ACC.values():
                        st[key] = 0.0
                    for acc in info.get("Accumulables", []):
                        hit = _STAGE_ACC.get(acc.get("Name"))
                        if hit:
                            st[hit[0]] += float(acc.get("Value", 0)) * hit[1]
                    stages.append(st)
    return stages, jobs


def stage_gap(stages: list[dict], lo: float, hi: float) -> float:
    """Wall time inside [lo, hi] during which no stage was running."""
    return (hi - lo) - union_length(clip(((s["start"], s["end"]) for s in stages), lo, hi))
