"""Local replay of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet, then compares
row count, column names/types, and order-insensitive values. Stricter
than the driver's hash (we diff actual values), so passing here should
imply passing CORRECTNESS_r{N}.json.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, "/root/repo")

DEFAULT_SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v: object) -> object:
    """Canonicalize a cell for comparison (mirrors what a sane hash
    would do: floats to 9 sig decimals, everything else str)."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rows_multiset(rows: list[tuple], colnames: list[str]) -> Counter:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    only = set(sys.argv[2:])

    # pre-step: spec ⇄ test lockstep (cheap, no Spark) — a drifted
    # TABLE_FORMAT.md fails the gate exactly like a wrong query
    import spec_check

    drift = spec_check.check()
    for p in drift:
        print("FAIL  spec-drift:", p)

    import __spark_entry__ as entrymod
    from yc_yq_airflow_etl_spark.operators.checkpoints import scope
    from yc_yq_airflow_etl_spark.session import build_session

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = build_session(app_name="selfcheck")
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[str] = [f"spec-drift: {p}" for p in drift]
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with scope():  # what the query materialized goes with it
                sdf = fn(spark, sf_dir)
                scols = [f.name for f in sdf.schema.fields]
                stypes = [f.dataType.simpleString() for f in sdf.schema.fields]
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            print(f"FAIL  {name:32s} spark error: {str(e)[:200]}")
            continue
        dt_spark = time.time() - t0

        if name not in oracles:
            print(f"ok?   {name:32s} rows={len(srows)} (rows-only, no oracle) "
                  f"[{dt_spark:.1f}s]")
            if len(srows) == 0:
                failures.append(f"{name}: 0 rows on rows-only query")
            continue

        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            drows = rel.fetchall()
        except Exception as e:
            failures.append(f"{name}: DUCKDB ERROR {e}")
            print(f"FAIL  {name:32s} duckdb error: {str(e)[:200]}")
            continue

        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns differ: spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
        if not problems:
            sm, dm = rows_multiset(srows, scols), rows_multiset(drows, dcols)
            if sm != dm:
                extra_s = list((sm - dm).items())[:3]
                extra_d = list((dm - sm).items())[:3]
                problems.append(
                    f"values differ; spark-only={extra_s} duck-only={extra_d}"
                )
        if problems:
            failures.append(f"{name}: " + "; ".join(problems))
            print(f"FAIL  {name:32s} " + " | ".join(p[:220] for p in problems))
        else:
            print(f"PASS  {name:32s} rows={len(srows)} [{dt_spark:.1f}s] "
                  f"types={dict(zip(scols, stypes))}")

    spark.stop()
    print(f"\n{len(failures)} failure(s)")
    for f in failures:
        print(" -", f[:500])
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
