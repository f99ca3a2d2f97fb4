"""End-to-end training-corpus pipeline: the LLM-data equivalent of the
reference's cooling pipeline (extract → verify → land), composing the
engine's operators into one lineage:

    documents
      → quality gates (dedup keeper, token count, word length, lang)
      → near-duplicate removal (MinHash→LSH→exact-Jaccard verify)
      → context-window chunking
      → Hive-partitioned parquet corpus (partitioned by lang,
        clustered by doc_id for zone maps)

Everything stays one declarative lineage per stage — gates are column
flags, near-dup removal is an anti-join against the verified pair set,
chunking is a narrow explode. The only shuffles are the dedup-keeper
window, the LSH band join, and the final partitioned write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import chunk_documents, normalize_text, token_count
from ..operators.checkpoints import cache, scope
from ..operators.dedup import minhash_lsh_pairs
from ..sources.lake import LakeTable


def quality_filter(
    documents: DataFrame,
    min_tokens: int = 30,
    max_tokens: int = 90,
    min_awl: float = 4.0,
    max_awl: float = 5.0,
    lang: str | None = "en",
) -> DataFrame:
    """Rows that survive the pretraining gates (same dedup/token/
    word-length predicates as the oracle-checked
    ``pretrain_quality_filter`` funnel, returned as surviving rows
    instead of counts). DELIBERATE difference on the language gate:
    the funnel runs the self-contained ``lang_id`` classifier (its
    scan never reads the lang column); this corpus builder trusts the
    STORED ``lang`` label — the right call when ingest metadata is
    authoritative, and the two counts may differ on mislabeled docs.
    Pass ``lang=None`` and pre-filter on ``lang_id("text")`` for
    classifier-gated corpora."""
    norm = normalize_text("text")
    toks = token_count("text")
    awl = (F.length(norm) - (toks - 1)).cast("double") / toks
    flagged = documents.withColumn("_fp", F.md5(norm)).withColumn(
        "_keeper",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("_fp")),
    )
    keep = (
        F.col("_keeper")
        & toks.between(min_tokens, max_tokens)
        & (awl >= min_awl)
        & (awl <= max_awl)
    )
    if lang is not None:
        keep = keep & (F.col("lang") == lang)
    return flagged.filter(keep).drop("_fp", "_keeper")


def drop_near_duplicates(
    documents: DataFrame, jaccard_threshold: float = 0.5
) -> DataFrame:
    """Remove the higher-id member of every verified near-dup pair
    (keeps one canonical doc per near-dup cluster edge). Implemented
    as a left-anti join against the pair set's ``id_b`` side — the
    pair set is orders of magnitude smaller than the corpus, so the
    anti-join broadcasts under AQE."""
    pairs = minhash_lsh_pairs(
        documents, jaccard_threshold=jaccard_threshold
    ).select(F.col("id_b").alias("doc_id"))
    return documents.join(pairs.distinct(), "doc_id", "left_anti")


def build_training_corpus(
    documents: DataFrame,
    corpus_lake: LakeTable,
    chunk_tokens: int = 32,
    stride: int = 24,
) -> dict[str, int]:
    """Run the full pipeline and land the chunk corpus. Returns the
    per-stage survivor counts (the funnel the operator dashboards
    track). The landed table is Hive-partitioned by ``lang`` and
    clustered by ``doc_id`` so per-document reads prune row groups."""
    total = documents.count()
    filtered = quality_filter(documents)
    n_filtered = filtered.count()
    # The MinHash/LSH lineage above `deduped` is the expensive part of
    # the pipeline; persist it once so the count, the chunk explode and
    # the landed write all reuse the materialized survivors instead of
    # replaying the signature computation three times. Both caches go
    # with the scope, a failed landing write included. Both keep
    # DataFrame.persist()'s own deserialized level.
    level = StorageLevel.MEMORY_AND_DISK_DESER
    with scope():
        deduped = cache(drop_near_duplicates(filtered), level)
        n_deduped = deduped.count()
        kept = deduped.select("doc_id", "lang")
        chunks = cache(chunk_documents(deduped).join(kept, "doc_id"), level)
        # Count the chunks we are landing, not the lake path: dynamic
        # partition overwrite only replaces partitions present in this
        # write, so a whole-path count would include stale partitions
        # from earlier runs with a different surviving-language set.
        n_chunks = chunks.count()
        corpus_lake.overwrite_partitions(chunks, sort_by=("doc_id", "chunk_id"))
    return {
        "total_docs": total,
        "after_quality_filter": n_filtered,
        "after_near_dedup": n_deduped,
        "chunks_landed": n_chunks,
    }
