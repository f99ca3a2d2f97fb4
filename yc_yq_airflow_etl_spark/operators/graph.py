"""Bounded-iteration PageRank over an edge list — the generic
"iterative graph algorithm on DataFrames" pattern, complementing the
min-label connected components in ``operators/dedup.py``.

Why it exists here: after near-dup clustering, a training-data
pipeline often wants the most CENTRAL document of a cluster (the one
most corroborated by its neighbors) rather than the min-id one —
PageRank over the dup-pair graph is the standard centrality choice,
and the same operator serves link graphs, citation graphs, and
user-interaction graphs.

Scale shape (the part that must survive 100 TB):

- State per round is ONE (id, rank) row per vertex; the edge list is
  never re-derived — symmetrized once, out-degrees attached once, and
  both persisted before the loop.
- Each round = one equi-join (edges ⋈ ranks on src — the shuffle
  rides the edge partitioning) + one partial-aggregated groupBy(dst)
  sum. No collect, no driver-side graph.
- Every round ends in an EAGER ``localCheckpoint`` — mandatory for
  iterative DataFrame loops: round k's plan references round k-1's
  output, so without truncation the logical plan grows linearly and
  analysis time superlinearly (same discipline as
  ``dedup.connected_components``, which also documents the freeing of
  superseded checkpoint blocks).
- Iterations are FIXED (caller-chosen), not convergence-detected:
  rank deltas need an extra O(V) join per round to measure, and for
  ranking use-cases a fixed small iteration count is the standard
  cost/quality trade.

Semantics (matched exactly by the DuckDB oracle in
``plans/llm_queries.py``): damping ``d``, uniform teleport; vertex
set = vertices incident to at least one edge (the caller's pair
graphs have no isolated vertices by construction); undirected input
pairs are symmetrized so every vertex has out-degree ≥ 1 — no
dangling-mass redistribution term needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..session import local_frame
from .checkpoints import checkpointed_rdd_id, free_checkpoint


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the undirected graph given as a pair list.

    Returns (id, rank) for every vertex incident to an edge; ranks
    sum to ~1.0 (exactly 1.0 up to float addition, since the
    symmetrized graph has no dangling vertices).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0.0 <= damping <= 1.0:
        raise ValueError(f"damping must be in [0, 1], got {damping}")
    # NULL-id pairs are NON-EDGES (r15 degenerate-input sweep): a NULL
    # never equi-matches, so a (NULL, b) edge would receive rank mass
    # at the NULL "vertex" that the src-side join can never pay back —
    # ranks silently stop summing to 1 and a ghost NULL row appears in
    # the output. Dropped here, same contract as join/DELETE NULL
    # semantics and connected_components.
    pairs = pairs.filter(
        F.col(id_a).isNotNull() & F.col(id_b).isNotNull()
    )
    edges = (
        pairs.select(
            F.col(id_a).alias("src"), F.col(id_b).alias("dst")
        )
        .unionAll(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # One row per edge with the source's out-degree attached; this is
    # the loop-invariant operand, so pay its join exactly once.
    edges_deg = (
        edges.join(deg, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n_vertices = deg.count()  # also materializes edges
        if n_vertices == 0:
            # empty-graph schema must match the non-empty one: the id
            # column keeps the INPUT pair columns' type (string ids in
            # ≠ bigint ids out would break a caller's union/join)
            id_type = pairs.schema[id_a].dataType
            return local_frame(
                pairs.sparkSession,
                [],
                T.StructType(
                    [
                        T.StructField("id", id_type, True),
                        T.StructField("rank", T.DoubleType(), True),
                    ]
                ),
            )

        teleport = (1.0 - damping) / n_vertices
        spark = pairs.sparkSession
        ranks = deg.select(
            F.col("src").alias("id"),
            F.lit(1.0 / n_vertices).alias("rank"),
        ).localCheckpoint()
        rank_id = checkpointed_rdd_id(ranks)

        try:
            for _ in range(iterations):
                contribs = (
                    edges_deg.join(ranks, edges_deg["src"] == ranks["id"])
                    .select(
                        F.col("dst").alias("id"),
                        (F.col("rank") / F.col("out_deg")).alias("c"),
                    )
                    .groupBy("id")
                    .agg(F.sum("c").alias("in_mass"))
                )
                # Symmetrized graph ⇒ every vertex has in-edges, so the
                # inner aggregate covers the whole vertex set — no
                # outer-join top-up.
                new_ranks = contribs.select(
                    "id",
                    (
                        F.lit(teleport) + F.lit(damping) * F.col("in_mass")
                    ).alias("rank"),
                ).localCheckpoint()  # eager: truncates plan AND materializes
                # the new generation is materialized; free the superseded
                # one (checkpoint blocks outlive DataFrame dereference —
                # see operators/checkpoints.py)
                free_checkpoint(spark, rank_id)
                ranks, rank_id = new_ranks, checkpointed_rdd_id(new_ranks)
            return ranks
        except BaseException:
            # a mid-iteration failure must free the last live rank
            # generation too (the finally below only covers the loop
            # invariants); on success the returned frame keeps its
            # checkpoint — the caller owns it
            free_checkpoint(spark, rank_id)
            raise
    finally:
        # executor memory is a shared resource: a mid-iteration failure
        # must not leak the persisted loop invariants
        edges.unpersist(blocking=False)
        edges_deg.unpersist(blocking=False)
