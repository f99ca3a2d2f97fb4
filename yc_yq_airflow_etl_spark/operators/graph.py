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

from ..session import local_frame
from .checkpoints import cache, materialize, release, scope


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
    with scope() as s:
        edges = cache(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .unionAll(
                pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
            )
            .distinct()
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        # One row per edge with the source's out-degree attached; this
        # is the loop-invariant operand, so pay its join exactly once.
        edges_deg = cache(edges.join(deg, "src"))
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
        ranks = materialize(
            deg.select(
                F.col("src").alias("id"),
                F.lit(1.0 / n_vertices).alias("rank"),
            ),
            "pagerank: initial ranks",
        )
        for i in range(iterations):
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
            new_ranks = materialize(  # truncates the plan
                contribs.select(
                    "id",
                    (
                        F.lit(teleport) + F.lit(damping) * F.col("in_mass")
                    ).alias("rank"),
                ),
                f"pagerank: round {i + 1}",
            )
            # the new generation exists: free the superseded one
            release(ranks)
            ranks = new_ranks
        # the last generation is the caller's; the loop invariants
        # (and, on a failure, every generation) go with this scope
        return s.keep(ranks)
