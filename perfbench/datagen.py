"""Seeded input generators for the benchmark.

Everything the program under test reads is made here, from the
workload seed, inside the benchmark's work directory:

- ``write_testdata``: the ten registry tables (TPC-H-like star schema
  plus events, documents and embeddings) with the column types of
  ``schemas.TESTDATA_TABLES`` and the value domains of the fixture
  set the registry queries and their DuckDB oracles were written for.
- ``changelog_batch`` / ``Replay``: CDC change batches over an
  orders-like table, and the plain-Python replay that is the
  reference answer for the snapshot after each batch.

Only numpy and pyarrow are used, so generation costs no Spark job.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# rows per unit scale factor (documents/embeddings are floored: the
# corpus queries need a few hundred rows to find pairs at any scale)
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def table_rows(sf: float) -> dict[str, int]:
    out = {"region": 5, "nation": 25}
    for name, base in BASE_ROWS.items():
        out[name] = max(MIN_ROWS.get(name, 1), int(round(base * sf)))
    return out


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def make_testdata(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, npart) / 10.0,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(
                _epoch_us(1995, 1, 1) + rng.integers(0, 2400, no) * _DAY_US
            ),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 901.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _ts(
                _epoch_us(1995, 1, 2) + rng.integers(0, 2500, nl) * _DAY_US
            ),
        }
    )
    ne = n["events"]
    users = max(15, int(round(150_000 * sf)))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(
                np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, ne))
            ),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k)).tolist())
        for k in rng.integers(10, 100, nd)
    ]
    # a few exact duplicates, as in the fixture corpus the dedup
    # queries were written against
    for i in range(0, nd - 1, max(2, nd // 8)):
        texts[i + 1] = texts[i]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def write_testdata(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the registry tables as ``<sf_dir>/<name>.parquet``;
    returns rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, tbl in make_testdata(sf, seed).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# -- CDC changelog ----------------------------------------------------------


def base_orders(n: int, seed: int) -> dict[int, tuple[int, int]]:
    """Base mirror content: key → (custkey, price in cents)."""
    rng = np.random.default_rng(seed)
    cust = rng.integers(0, 10_000, n)
    cents = rng.integers(100_000, 50_000_000, n)
    return {k: (int(c), int(p)) for k, c, p in zip(range(n), cust, cents)}


def changelog_batch(
    rng: np.random.Generator,
    live: dict[int, tuple[int, int]],
    next_key: int,
    n_keys: int,
    n_inserts: int,
) -> tuple[list[tuple], int]:
    """One change batch: ``n_keys`` live keys drawn across the whole
    key space get 1-3 changes each (updates, some ending in a delete),
    plus ``n_inserts`` new keys. Rows are (key, custkey, price_cents,
    seq, op); ``seq`` is unique per key within the batch."""
    keys = rng.choice(np.fromiter(live.keys(), np.int64), n_keys, replace=False)
    rows: list[tuple] = []
    seq = 0
    for k in keys.tolist():
        cust = live[k][0]
        for _ in range(int(rng.integers(1, 4))):
            seq += 1
            op = "D" if rng.random() < 0.3 else "U"
            rows.append((k, cust, int(rng.integers(100_000, 50_000_000)), seq, op))
    for k in range(next_key, next_key + n_inserts):
        seq += 1
        rows.append((k, int(rng.integers(0, 10_000)), int(rng.integers(100_000, 50_000_000)), seq, "I"))
    order = rng.permutation(len(rows))
    return [rows[i] for i in order], next_key + n_inserts


def replay(live: dict[int, tuple[int, int]], rows: list[tuple]) -> None:
    """Apply one batch to ``live`` in place: each key's last change by
    ``seq`` wins; a last change of ``D`` removes the key."""
    last: dict[int, tuple] = {}
    for r in rows:
        if r[0] not in last or r[3] > last[r[0]][3]:
            last[r[0]] = r
    for k, (_, cust, cents, _, op) in last.items():
        if op == "D":
            live.pop(k, None)
        else:
            live[k] = (cust, cents)


def checksums(live: dict[int, tuple[int, int]]) -> tuple[int, int, int]:
    """(rows, sum of keys, sum of price cents) — what the snapshot
    must reproduce exactly."""
    return (
        len(live),
        sum(live.keys()),
        sum(p for _, p in live.values()),
    )
