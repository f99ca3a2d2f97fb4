"""The cooling pipeline — the reference's actual product
(yq_dag.py:45-137): move one year of the hot store to the lake,
verify byte-equivalence, and only then retire the hot partition.

Task graph (yq_dag.py:136-137, img/DAG_chart.png):

    s3_delete_year >> yq_load_task >> yq_check_diff_task
        >> check_result >> [drop_copied_partition, raise_error]
    drop_copied_partition >> shift_date

One step, two callers. :func:`cooling_step` is the transactional part
(yq_dag.py:61-96): overwrite the staged slice's partitions (dynamic
overwrite subsumes ``s3_delete_year``), read them back, reconcile
with an EXCLUSION JOIN count and raise on a difference. The batch
DAG (:meth:`CoolingPipeline.run_once`) wraps it in the run lock, the
retire and the watermark advance; the streaming job
(``streaming.cooling_stream.cooling_foreach_batch``) calls it once per
micro-batch. Each caller stages its own slice — the DAG through
``unwrap``/``to_uint32``, which fails closed on NULL, the stream
through a plain year cast that lands a NULL year in the default
partition — and the step starts after it.

Readback rule: a caller with a ``[lo, hi)`` window reads back the
window's ``payment_year`` partitions filtered to the window. Without
one, it reads back the partition set observed on the write job, plus
the default partition when a NULL year was written: ``isin`` is never
true for NULL, and missing those rows would raise a false difference
that stream replay reproduces forever.

The safety property the reference pins — destructive source
retirement happens **only** after an empty reconciliation diff — is
structural: the step raises on any other diff, and ``retire`` runs
only after the step returns. :func:`load_year` and
:func:`reconcile_year` are the step's two halves for one batch
window, for callers that time or check them apart.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import get_year, to_datetime, to_uint32, unwrap
from ..operators.joins import exclusion_diff_count
from ..sources.lake import LakeTable
from ..sources.state import PipelineState

# Reconciliation key (yq_dag.py:93-94): payment_date deliberately
# excluded — one side passed through a second-precision Datetime cast.
RECONCILE_KEY = ["id", "doc_num", "accdt", "acckt", "amount", "state"]

Window = tuple[datetime, datetime]


class ReconciliationError(ValueError):
    """yq_dag.py:28-29: ``raise ValueError('Data are not equal!')``."""


def _in_window(lo: datetime, hi: datetime) -> Column:
    """The half-open window ``lo <= payment_date < hi`` (yq_dag.py:68-69)."""
    return (F.col("payment_date") >= F.lit(lo)) & (F.col("payment_date") < F.lit(hi))


def extract_window(payments: DataFrame, lo: datetime, hi: datetime) -> DataFrame:
    """The batch DAG's staged slice: the load query's ``$s``
    (yq_dag.py:66-70) — one-year half-open window, ``unwrap(id)``,
    datetime cast — with ``payment_year =
    unwrap(cast(DateTime::GetYear(payment_date) as UInt32))``
    (yq_dag.py:73), which fails closed on NULL.

    The filter is applied to the *raw* column before the cast so the
    predicate stays pushable to the source scan (JDBC pushdown /
    parquet row-group pruning) — the reference achieves the same by
    hand-inlining the filter into the per-source subquery.
    """
    return payments.filter(_in_window(lo, hi)).select(
        unwrap("id", "payments.id").alias("id"),
        "doc_num",
        "accdt",
        "acckt",
        "amount",
        to_datetime("payment_date").alias("payment_date"),
        "descr",
        "state",
        to_uint32(get_year("payment_date"), "payment_year").alias("payment_year"),
    )


def _write(staged: DataFrame, lake: LakeTable) -> tuple[int, list, bool]:
    """Overwrite the staged slice's partitions, clustered by
    ``payment_date`` inside each file (the readback and every
    time-range query then skip row groups via parquet min/max stats).
    Returns the row count, the non-NULL ``payment_year`` values and
    whether a NULL year was written, all observed on the write job."""
    obs = Observation()
    year = F.col("payment_year")
    lake.overwrite_partitions(
        staged.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set(year).alias("years"),
            F.max(year.isNull()).alias("null_year"),
        ),
        sort_by=("payment_date",),
    )
    m = obs.get
    return m["rows"], m["years"], bool(m["null_year"])


def _diff(
    staged: DataFrame,
    lake: LakeTable,
    window: Window | None,
    years: Sequence[int] = (),
    null_year: bool = False,
) -> int:
    """EXCLUSION JOIN count of the staged slice against the lake's
    readback (the rule is in the module docstring). With a window, the
    ``payment_year`` filter prunes the scan to the window's Hive
    partitions and the ``payment_date`` filter keeps the reference's
    exact predicate (yq_dag.py:89-91)."""
    d, year = lake.read(staged.sparkSession), F.col("payment_year")
    if window is not None:
        lo, hi = window
        d = d.filter((year >= F.lit(lo.year)) & (year <= F.lit(hi.year)))
        d = d.filter(_in_window(lo, hi))
    else:
        written = year.isin(list(years))
        d = d.filter(written | year.isNull() if null_year else written)
    return exclusion_diff_count(
        staged.select(*RECONCILE_KEY), d.select(*RECONCILE_KEY), RECONCILE_KEY
    )


def cooling_step(
    staged: DataFrame,
    lake: LakeTable,
    label: str,
    window: Window | None = None,
    load: bool = True,
    on_diff: Callable[[int], None] | None = None,
) -> dict:
    """Load → reconcile → raise for one staged slice (yq_dag.py:61-96).

    ``load=False`` verifies an existing export without writing (it
    needs ``window``). Without a window, a slice that wrote no rows has
    nothing to read back and reconciles to 0 with no further job.
    ``on_diff`` sees the diff before the raise. Raises
    :class:`ReconciliationError` on a non-zero diff; otherwise returns
    ``{"diff": 0, "rows": <rows written, None without a load>}``."""
    rows, years, null_year = _write(staged, lake) if load else (None, (), False)
    diff = _diff(staged, lake, window, years, null_year) if window or rows else 0
    if on_diff is not None:
        on_diff(diff)
    if diff != 0:
        # check_result → raise_error branch (yq_dag.py:24-29)
        raise ReconciliationError(
            f"Data are not equal! exclusion-join diff={diff} for {label}"
        )
    return {"diff": diff, "rows": rows}


def load_year(payments: DataFrame, lake: LakeTable, lo: datetime, hi: datetime) -> None:
    """yq_load_task (yq_dag.py:61-75): the step's load half for one
    batch window."""
    _write(extract_window(payments, lo, hi), lake)


def reconcile_year(
    spark: SparkSession,
    payments: DataFrame,
    lake: LakeTable,
    lo: datetime,
    hi: datetime,
) -> int:
    """yq_check_diff_task (yq_dag.py:77-96): the step's reconcile half
    for one batch window — recompute both sides from their systems of
    record, EXCLUSION JOIN on the 6-col key, return the
    symmetric-difference count (0 ⇔ export verified). The lake is read
    in the session of ``payments``, which is ``spark``."""
    return _diff(extract_window(payments, lo, hi), lake, (lo, hi))


@dataclass
class CoolingPipeline:
    """The whole DAG as a driver object.

    ``retire`` stands in for ``drop_copied_partition``
    (yq_dag.py:106-122, the PL/pgSQL loop dropping
    ``payments_y<year>*`` child tables over JDBC) — injected because
    test fixtures have no PG; the production impl issues the same
    catalog-driven DROPs through a JDBC statement connection.
    """

    spark: SparkSession
    source: Callable[[], DataFrame]  # hot store reader (pg-finance.payments)
    lake: LakeTable
    state: PipelineState
    initial_watermark: str = "2020-01-01"
    retire: Callable[[int], None] = field(default=lambda year: None)

    def window(self) -> Window:
        """[EXP_DATE, EXP_DATE + 1 year) — yq_dag.py:13-14.

        The watermark must be 1 January: the load replaces whole
        ``payment_year`` partitions and ``retire`` drops a whole source
        year, so a window straddling two years would wipe the cooled
        half of one year from the lake and retire the other half before
        it was cooled."""
        lo = self.state.get_watermark(self.initial_watermark)
        if (lo.month, lo.day) != (1, 1):
            raise ValueError(f"cooling windows start on 1 January, not {lo:%Y-%m-%d}")
        return lo, lo.replace(year=lo.year + 1)

    def run_once(self, skip_load: bool = False) -> dict:
        """One DAG run: load → reconcile → branch → retire → advance,
        under the single-active-run lock (``max_active_runs=1``,
        yq_dag.py:50 — a concurrent run raises PipelineBusyError).

        ``skip_load=True`` runs verification-only over an existing
        lake partition (an operator re-checking a past export)."""
        with self.state.lock():
            lo, hi = self.window()
            step = cooling_step(
                extract_window(self.source(), lo, hi),
                self.lake,
                f"[{lo:%Y-%m-%d}, {hi:%Y-%m-%d})",
                window=(lo, hi),
                load=not skip_load,
            )
            # reached only on diff == 0 (the step raises otherwise):
            # check_result → drop_copied_partition → shift_date
            self.retire(lo.year)
            self.state.set_watermark(hi)
            return {"window": (lo, hi), "retired_year": lo.year, **step}
