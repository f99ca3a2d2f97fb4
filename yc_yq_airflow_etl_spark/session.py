"""SparkSession builder with the engine's scale-oriented defaults.

The reference delegates planning to Yandex Query / PostgreSQL; our
equivalent of its observed behavior (column pruning, predicate
pushdown, partition pruning — SURVEY.md §4) is Catalyst with AQE on.
The settings below are the ones that matter at 100 TB:

- AQE: runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast demotion — replaces hand-tuned partition counts.
- ``partitionOverwriteMode=dynamic``: the reference's
  delete-prefix-then-insert idempotency step (yq_dag.py:16-19) becomes
  an atomic per-partition overwrite.
- UTC session timezone: the reference's minute-grid data is TZ-naive;
  fixing UTC keeps parity with the DuckDB oracle.
- Arrow enabled: every Pandas-UDF operator (similarity, multimodal)
  rides Arrow batches, never row-at-a-time pickling.

:func:`local_frame` is the one way the package turns driver-side rows
into a DataFrame: it ships them as an Arrow table that the JVM decodes,
so no Python worker ever runs to read them.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "yc-yq-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``)
    so the same entry point works in tests, bench, and a real cluster
    (where ``master`` is injected by spark-submit and must be None).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    # Python WORKER importability, independent of cwd: the driver can
    # import this package because the entry script put the repo root on
    # sys.path (or cwd happened to be the checkout), but executor-side
    # Python workers inherit neither — any Pandas UDF that references
    # package code then dies with ModuleNotFoundError when the session
    # is built from a foreign cwd (caught by tools/examples_smoke.py).
    # Local-mode workers DO inherit the process environment, so putting
    # the repo root on PYTHONPATH before the JVM starts fixes every
    # local entry point; on a real cluster ship the package with
    # --py-files / pip install as usual (this prepend is then inert).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI posture is PINNED, not inherited: Spark 4 defaults ANSI
        # on, Spark 3 defaulted it off, and operator semantics differ
        # materially across the flag — cast overflow and div-by-zero
        # throw vs return NULL, and degenerate-input failure modes
        # flip between loud and silent (the z-order NaN domain hole
        # was CAST_OVERFLOW under ANSI but SILENT de-clustering under
        # ANSI-off; invariant #30). The engine's loud-or-quarantine
        # doctrine assumes ANSI-on: unguarded arithmetic on corrupt
        # data must fail the job, never fabricate NULLs. Operators
        # that must tolerate bad rows carry their own explicit guards
        # (try_cast/when-isnan/quarantine), so they behave identically
        # either way — pinning `true` makes that the TESTED posture on
        # every Spark version rather than whatever the build defaults.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Write timestamps as INT64 micros, not legacy INT96: INT96
        # row groups carry no min/max statistics, which silently
        # disables row-group skipping for every time-range filter on
        # the lake (the cooling pipeline's main access pattern).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Files-first workloads: pack small test files but keep 128 MiB
        # splits so a 100 TB lake scan parallelizes across executors.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# the column types local_frame converts values for; each Python value
# maps to exactly one Arrow value (no widening, no truncation)
_LOCAL_FRAME_TYPES = (
    T.LongType(),
    T.IntegerType(),
    T.DoubleType(),
    T.StringType(),
    T.ArrayType(T.LongType(), True),
)


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | T.StructType,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-side rows,
    built from a ``pyarrow.Table`` so the JVM decodes it.

    ``createDataFrame(<list>)`` wraps the rows in a ``PythonRDD``: every
    job that reads the frame (a broadcast of 8 rows of file stats
    included) starts Python workers to unpickle them: ~0.3 s per job on
    4 vCPUs, plus the workers' memory. The JVM parallelizes the Arrow
    table itself (a ``ParallelCollectionRDD``), with Arrow on or off.

    ``rows`` are tuples or lists in ``schema`` order (a DDL string or a
    ``StructType``). Each row passes PySpark's own type verifier first,
    so what ``createDataFrame`` refuses (a float in a bigint, an int
    out of range, a NULL in a non-nullable field) raises the same error
    here. Columns that carry values must be bigint, int, double, string
    or array<bigint>; any other type raises ``TypeError`` rather than
    guess a conversion. An empty frame may have any Arrow-typed schema.
    """
    struct = (
        schema
        if isinstance(schema, T.StructType)
        else T._parse_datatype_string(schema)
    )
    rows = list(rows)
    if rows:
        odd = [
            f"{f.name} {f.dataType.simpleString()}"
            for f in struct.fields
            if f.dataType not in _LOCAL_FRAME_TYPES
        ]
        if odd:
            raise TypeError(
                f"local_frame has no value conversion for {odd}; "
                "supported: bigint, int, double, string, array<bigint>"
            )
        verify = T._make_type_verifier(struct)
        for r in rows:
            if type(r) not in (tuple, list):
                raise TypeError(
                    f"local_frame rows are positional tuples or lists, "
                    f"got {type(r).__name__}"
                )
            verify(r)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
