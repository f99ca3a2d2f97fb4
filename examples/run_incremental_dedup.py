"""Demo: incremental ingest dedup — the production loop where a live
corpus admits daily batches without re-deduplicating itself.

Day 0 bootstraps: a full self-join near-dup pass over the corpus
(minhash_lsh_pairs) plus ONE fingerprinting pass materialized as the
persisted index (write_minhash_index). Each following "day":

1. probe_minhash_index — hashes ONLY the batch, equi-joins its band
   buckets against the STORED fingerprints (corpus text never re-read);
2. admitted (non-duplicate) docs are folded in with
   append_to_minhash_index — no rebuild, no rewrite of landed files.

Per-ingest cost is O(batch) hashing + one equi-join however large the
corpus grows — the property that keeps a 100 TB corpus's ingest path
flat.

    python examples/run_incremental_dedup.py [sf_dir] [workdir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from yc_yq_airflow_etl_spark.catalog import load_testdata
from yc_yq_airflow_etl_spark.operators.checkpoints import release
from yc_yq_airflow_etl_spark.operators.dedup import (
    append_to_minhash_index,
    minhash_lsh_pairs,
    probe_minhash_index,
    write_minhash_index,
)
from yc_yq_airflow_etl_spark.session import build_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="mhidx_")
    idx = f"{workdir}/minhash_index"

    spark = build_session(app_name="incremental-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_testdata(spark, sf_dir)["documents"]
    # day 0 = 70% bootstrap corpus; days 1-3 = rolling 10% ingests
    corpus = docs.filter(F.col("doc_id") % 10 < 7)
    t0 = time.time()
    boot_pairs = minhash_lsh_pairs(corpus)
    n_boot = boot_pairs.count()
    release(boot_pairs)  # a checkpoint: unpersist() would not free it
    write_minhash_index(corpus, idx)
    print(
        f"day 0 bootstrap: {corpus.count()} docs, {n_boot} near-dup pairs; "
        f"fingerprint index written ({time.time() - t0:.2f}s, paid once)"
    )

    for day, bucket in enumerate((7, 8, 9), start=1):
        batch = docs.filter(F.col("doc_id") % 10 == bucket)
        t0 = time.time()
        links = probe_minhash_index(spark, idx, batch)
        dup_ids = {r.new_id for r in links.select("new_id").collect()}
        admitted = batch.join(
            links.select(F.col("new_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        append_to_minhash_index(admitted, idx)
        n_batch = batch.count()
        print(
            f"day {day}: batch={n_batch} docs -> "
            f"{n_batch - len(dup_ids)} admitted (appended to index), "
            f"{len(dup_ids)} blocked as near-dups "
            f"({links.count()} links, {time.time() - t0:.2f}s — "
            f"batch-only hashing, corpus text untouched)"
        )
        release(links)

    from yc_yq_airflow_etl_spark.operators.dedup import _index_table

    n_index = _index_table(idx).read(spark).count()
    print(f"final index: {n_index} fingerprinted docs at {idx}")
    spark.stop()


if __name__ == "__main__":
    main()
