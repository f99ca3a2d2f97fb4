"""Training-data pipeline queries over ``documents``/``embeddings`` —
the driver-mandated extension surface (dedup, similarity search, text
analysis, multimodal), each oracle-checked where SQL-expressible.

The md5-based MinHash construction (functions/text.py) exists
precisely so the full minhash→LSH→verify pipeline has a DuckDB twin;
the xxhash64-based ops (SimHash, hyperplane LSH) have no SQL twin and
get rows-only checks plus property tests in tests/test_llm_ops.py.
"""

from __future__ import annotations

import contextvars

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import artifact, data_tag, load_testdata
from ..functions.scalar import round6
from ..functions.text import (
    LANG_ORDER,
    STOPWORDS,
    lang_id,
    normalize_text,
    rolling_fingerprint,
    token_count,
    tokenize,
)
from ..operators.checkpoints import materialize, scope
from ..operators.dedup import (
    embedding_cosine_dupes,
    exact_dedup,
    minhash_lsh_pairs,
    simhash_dup_pairs,
)
from ..operators.multimodal import documents_as_media, extract_features
from ..operators.similarity import brute_force_topk
from ..session import local_frame

# --- dedup --------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_testdata(spark, sf_dir)
    return exact_dedup(t["documents"]).orderBy("keeper_id")


DEDUP_EXACT_ORACLE = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keeper_id, count(*) AS copies,
       max(doc_id) AS max_id,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY keeper_id
"""


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_testdata(spark, sf_dir)
    return minhash_lsh_pairs(t["documents"]).orderBy("id_a", "id_b")


# DuckDB replay of the identical minhash→banding→verify pipeline.
# Parameters must mirror minhash_lsh_pairs defaults: k=3 shingles,
# 24 hashes (affine family, constants inlined from _minhash_coeffs),
# 8 bands × 3 rows, jaccard ≥ 0.5, bucket cap 50.
from ..functions.text import minhash_signature_sql  # noqa: E402

DEDUP_MINHASH_ORACLE = r"""
WITH base AS (
    SELECT doc_id AS id,
           list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
    FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
          FROM documents)
    WHERE len(w) >= 3
), sig AS (
    SELECT id, sh, """ + minhash_signature_sql("sh") + r""" AS sig
    FROM base
), banded AS (
    SELECT id, sh, sig, b.band AS band,
           md5(array_to_string(sig[b.band*3+1 : b.band*3+3], '|')) AS bucket
    FROM sig, (SELECT unnest(generate_series(0, 7)) AS band) b
), capped AS (
    SELECT * FROM banded
    WHERE (band, bucket) IN (
        SELECT (band, bucket) FROM banded GROUP BY band, bucket
        HAVING count(*) <= 50)
), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           a.sh AS sh_a, b.sh AS sh_b, a.sig AS sig_a, b.sig AS sig_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b,
       floor(len(list_filter(list_zip(sig_a, sig_b), x -> x[1] = x[2])) / 24.0
             * 1e6 + 0.5) / 1e6 AS est_jaccard,
       floor(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(sh_a || sh_b)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM cand
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      / len(list_distinct(sh_a || sh_b)) >= 0.5
ORDER BY id_a, id_b
"""


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. Oracle-checked: the md5-derived token
    hash is replayed bit-for-bit in DuckDB (DEDUP_SIMHASH_ORACLE);
    locality additionally property-tested in tests/test_llm_ops.py."""
    t = load_testdata(spark, sf_dir)
    return simhash_dup_pairs(t["documents"], max_hamming=SIMHASH_MAX_HAMMING).orderBy("id_a", "id_b")


# DuckDB replay of the identical simhash→banding→popcount pipeline.
# Token hash = first 8 bytes of md5 (simhash_u64_sql); bit b of the
# fingerprint is set iff the ±1 balance of bit b over all tokens
# (duplicates counted) is > 0; candidates agree on one of four 16-bit
# bands (bucket cap 1000); verify = two's-complement XOR popcount ≤ 8.
# The CTE chain ends in ham_pairs(id_a, id_b, hamming) and is shared
# with the n-gram Jaccard verification oracle.
from ..functions.text import simhash_u64_sql  # noqa: E402

# THE simhash duplicate threshold — single source of truth for both
# engines: every Spark `simhash_dup_pairs(..., max_hamming=...)` call
# and every oracle CTE's hamming predicate reads this constant, so the
# threshold can never drift between the Spark plan and its DuckDB
# replay (a one-sided tweak would silently split the engines on every
# query downstream of the pair set: pairs, jaccard verify, clusters,
# canonical corpus, splits, pagerank).
SIMHASH_MAX_HAMMING = 8
_HAM_PRED = f"hamming <= {SIMHASH_MAX_HAMMING}"

_SIMHASH_CTES = (
    r"""w AS (
    SELECT doc_id,
           unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
    FROM documents WHERE text IS NOT NULL
), h AS (
    SELECT doc_id, """
    + simhash_u64_sql("w")
    + r""" AS h FROM w
), bb AS (
    SELECT doc_id, bit,
           sum(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS bal
    FROM h, (SELECT unnest(generate_series(0, 63)) AS bit) bits
    GROUP BY doc_id, bit
), fp AS (
    SELECT doc_id,
           sum(CASE WHEN bal > 0 THEN (CAST(1 AS HUGEINT) << bit)
                    ELSE CAST(0 AS HUGEINT) END) AS fpu
    FROM bb GROUP BY doc_id
), banded AS (
    SELECT doc_id, fpu, band,
           CAST((fpu >> (band * 16)) & 65535 AS INTEGER) AS val
    FROM fp, (SELECT unnest(generate_series(0, 3)) AS band) bands
), capped AS (
    SELECT * FROM banded WHERE (band, val) IN (
        SELECT (band, val) FROM banded
        GROUP BY band, val HAVING count(*) <= 1000)
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.fpu AS f_a, b.fpu AS f_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
), ham_pairs AS (
    SELECT id_a, id_b,
           CAST(bit_count(xor(
               CAST(CASE WHEN f_a >= 9223372036854775808
                         THEN f_a - 18446744073709551616 ELSE f_a END AS BIGINT),
               CAST(CASE WHEN f_b >= 9223372036854775808
                         THEN f_b - 18446744073709551616 ELSE f_b END AS BIGINT)
           )) AS INTEGER) AS hamming
    FROM cand
)"""
)

DEDUP_SIMHASH_ORACLE = (
    "WITH "
    + _SIMHASH_CTES
    + """
SELECT id_a, id_b, hamming FROM ham_pairs
WHERE """ + _HAM_PRED + r""" ORDER BY id_a, id_b
"""
)


# Session-scoped simhash artifacts: the near-dup PAIR SET and the
# CLUSTER ASSIGNMENT over <sf_dir>'s documents, computed once per
# (session, dataset) and localCheckpointed. Six registry queries sit
# downstream of the same pair graph (pairs → verify → clusters →
# canonical corpus → splits → pagerank); without this memo each of
# them re-runs the full fingerprint pipeline, so a bench/selfcheck
# session pays the simhash stage six times and the downstream entries
# time FIXTURE REBUILD instead of their own decision logic. This is
# the production shape too: a pipeline materializes the pair set once
# and every consumer reads it. ``dedup_simhash_pairs`` itself stays
# un-memoized — it IS the fingerprint-stage benchmark. Both frames
# are bounded by the duplicate rate (pairs) and clustered-doc count
# (assignments), so the checkpoint blocks are metadata-scale next to
# the corpus. Keyed by applicationId so a new SparkSession can never
# see another session's dead RDD blocks, and by data_tag so a fixture
# regeneration under the same path invalidates.
_SIMHASH_ARTIFACT_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def ensure_simhash_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Return (pairs, assignments) for ``sf_dir``'s documents —
    building and caching them on first use. ``pairs`` = (id_a, id_b)
    at hamming ≤ SIMHASH_MAX_HAMMING; ``assignments`` = (doc_id,
    keeper_id, cluster_size) for clustered docs. bench.py calls this
    in its untimed setup block (same pattern as the ANN index and
    manifest demos) so the downstream queries time their own logic."""
    key = (spark.sparkContext.applicationId, data_tag(sf_dir, "documents"))
    if key not in _SIMHASH_ARTIFACT_CACHE:
        # built in a fresh context, where no scope is open: the
        # artifacts belong to the session even when the first caller
        # sits inside a scope
        _SIMHASH_ARTIFACT_CACHE[key] = contextvars.Context().run(
            _build_simhash_artifacts, load_testdata(spark, sf_dir)["documents"]
        )
    return _SIMHASH_ARTIFACT_CACHE[key]


def _build_simhash_artifacts(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two artifacts, materialized; what the operators returned
    on the way (the verified pairs, the labels) goes with the scope."""
    from ..operators.dedup import dedup_cluster_assignments

    with scope() as s:
        found = simhash_dup_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING)
        pairs = materialize(found.select("id_a", "id_b"), "simhash pairs")
        assign = materialize(
            dedup_cluster_assignments(docs, pairs), "simhash clusters"
        )
        return s.keep(pairs), s.keep(assign)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard verification over the SimHash
    candidate pairs — the verification stage every blocking scheme
    funnels into (operators/dedup.ngram_jaccard_pairs). Shuffle shape:
    the candidate set is tiny, so both shingle joins broadcast. The
    candidate pair set comes from the session-scoped artifact cache
    (ensure_simhash_artifacts) — this query times the VERIFY stage."""
    from ..operators.dedup import ngram_jaccard_pairs

    t = load_testdata(spark, sf_dir)
    cand, _ = ensure_simhash_artifacts(spark, sf_dir)
    return ngram_jaccard_pairs(t["documents"], cand, n=3).orderBy("id_a", "id_b")


DEDUP_NGRAM_ORACLE = (
    "WITH "
    + _SIMHASH_CTES
    + r""", keep AS (
    SELECT id_a, id_b FROM ham_pairs WHERE """ + _HAM_PRED + r"""
), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, greatest(len(wl) - 2, 0)),
               i -> array_to_string(wl[i:i+2], ' '))) AS grams
    FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS wl
          FROM documents)
)
SELECT k.id_a, k.id_b,
       floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(a.grams || b.grams)) * 1e6 + 0.5) / 1e6
           AS jaccard
FROM keep k
JOIN sh a ON a.doc_id = k.id_a
JOIN sh b ON b.doc_id = k.id_b
ORDER BY id_a, id_b
"""
)


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane LSH blocking
    (threshold tuned to the near-random testdata embeddings).
    Oracle-checked: the md5-derived hyperplane signs and the
    micro-quantized projection are replayed exactly in DuckDB."""
    t = load_testdata(spark, sf_dir)
    return embedding_cosine_dupes(t["embeddings"], threshold=0.30).orderBy(
        "id_a", "id_b"
    )


def _sketch_cte(planes: int = 8, seed: int = 42) -> str:
    """CTE chain ending in ``sk(vec_id, sketch)`` — the DuckDB replay
    of similarity.sign_sketch: md5-parity hyperplane signs times the
    micro-quantized (floor(x*1e6+0.5)) embedding, summed in exact
    int64, bit h set iff the projection is > 0."""
    return f"""qdim AS (
    SELECT vec_id, i,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
    FROM (SELECT vec_id, embedding,
                 unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
), proj AS (
    SELECT vec_id, p,
           sum(CASE WHEN (('0x' || substr(md5('hp:{seed}:' || p || ':' || (i-1)), 1, 1))::INT & 1) = 1
                    THEN xq ELSE -xq END) AS s
    FROM qdim, (SELECT unnest(generate_series(0, {planes - 1})) AS p) pl
    GROUP BY vec_id, p
), sk AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS INTEGER) AS sketch
    FROM proj GROUP BY vec_id
)"""


_COSINE_AB = """floor(
            list_sum(list_transform(list_zip(
                list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
                list_transform(eb.embedding, x -> CAST(x AS DOUBLE))),
                pr -> pr[1] * pr[2]))
            / (sqrt(list_sum(list_transform(ea.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(eb.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
            * 1e6 + 0.5) / 1e6"""


DEDUP_EMBEDDING_ORACLE = (
    "WITH "
    + _sketch_cte()
    + f""", cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
), scored AS (
    SELECT c.id_a, c.id_b, {_COSINE_AB} AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM scored
WHERE cosine >= 0.30 ORDER BY id_a, id_b
"""
)


# --- similarity search --------------------------------------------------

# Deterministic query vector: embedding of vec_id = 0 (fetched by the
# builder at plan time — a tiny driver-side lookup of ONE row, which
# stands in for the user-supplied query vector of a real ANN service).


def _query_vec(t: dict[str, DataFrame]) -> list[float]:
    row = t["embeddings"].filter(F.col("vec_id") == 0).select("embedding").first()
    return [float(x) for x in row[0]]


def _pin_topk_rank(df: DataFrame) -> DataFrame:
    """Deepened pin (r12, shared by the three ANN top-k queries): the
    driver's value hash is order-insensitive, so a top-k's RANKING was
    previously unpinned — ``rnk`` makes the order itself data. Computed
    AFTER the operator's limit (a k-row window, never a global sort),
    same pattern as topk_orders."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return df.withColumn("rnk", F.row_number().over(w).cast("int"))


def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_testdata(spark, sf_dir)
    q = _query_vec(t)
    return _pin_topk_rank(brute_force_topk(t["embeddings"], q, k=10))


SIMILARITY_BRUTEFORCE_ORACLE = """
WITH q AS (
    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id = 0
), scored AS (
    SELECT vec_id,
           floor(
             list_sum(list_transform(list_zip(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)), qv),
                 p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(qv, x -> x * x))))
             * 1e6 + 0.5) / 1e6 AS cosine
    FROM embeddings, q
)
SELECT vec_id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS rnk
FROM scored
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN path: hamming prune over the STORED sketch column of the
    materialized index (no per-query sketch recompute — the filter is
    pure JVM bit arithmetic; tools/plan_audit asserts no Python stage
    before the filter) + exact cosine re-rank. Oracle-checked: the
    sketch derivation and the re-rank are replayed in DuckDB; recall
    vs brute force additionally asserted in tests (which also cover
    the index-less lsh_topk, proving stored ≡ recomputed sketch)."""
    from ..operators.similarity import lsh_topk_indexed

    t = load_testdata(spark, sf_dir)
    q = _query_vec(t)
    index_df, _ = _ensure_ann_index(spark, sf_dir)
    return _pin_topk_rank(lsh_topk_indexed(index_df, q, k=10, max_hamming=3))


SIMILARITY_LSH_ORACLE = (
    "WITH "
    + _sketch_cte()
    + """, qv AS (
    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
    FROM embeddings WHERE vec_id = 0
), qs AS (
    SELECT sketch AS qsk FROM sk WHERE vec_id = 0
), cand AS (
    SELECT s.vec_id FROM sk s, qs WHERE bit_count(xor(s.sketch, qsk)) <= 3
), scored AS (
    SELECT e.vec_id,
           floor(
             list_sum(list_transform(list_zip(
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qvec),
                 pr -> pr[1] * pr[2]))
             / (sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qvec, x -> x * x))))
             * 1e6 + 0.5) / 1e6 AS cosine
    FROM embeddings e JOIN cand USING (vec_id), qv
)
SELECT vec_id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS rnk
FROM scored
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""
)


def _ensure_ann_index(spark: SparkSession, sf_dir: str):
    """Build (once per dataset) and read back the materialized ANN
    index over ``embeddings``: integer micro-unit k-means on a
    deterministic md5-sampled quarter of the table, cluster id as a
    Hive partition column, hyperplane sketch as a stored int column.
    Returns (index DataFrame, centroids). The index and its trained
    centroids (tiny JSON — they are exact integer vectors) are one
    ``catalog.artifact``: a fresh session finds both on disk and
    loads the centroids instead of re-running the k-means jobs (the
    training pass measured ~7 s per session at sf0.1, dwarfing every
    probe it serves)."""
    import json
    import os

    def build(stage: str) -> None:
        from ..operators.similarity import (
            md5_bucket,
            train_ivf_centroids,
            write_ann_index,
        )

        emb = load_testdata(spark, sf_dir)["embeddings"]
        sample = emb.filter(md5_bucket(F.col("vec_id"), 4) == 0)
        cents = train_ivf_centroids(sample, k_clusters=8, iters=2)
        write_ann_index(emb, os.path.join(stage, "index"), cents)
        with open(os.path.join(stage, "centroids.json"), "w") as fh:
            json.dump([[int(x) for x in c] for c in cents], fh)

    path = artifact("ann_index", sf_dir, ("embeddings",), build)
    with open(os.path.join(path, "centroids.json")) as fh:
        cents = json.load(fh)
    return spark.read.parquet(os.path.join(path, "index")), cents


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the MATERIALIZED index (_ensure_ann_index): the
    probe filter compiles to PartitionFilters — partition pruning, the
    scan reads nprobe/k of the files (asserted in tools/plan_audit).
    Fully oracle-checked: DuckDB replays the sampling, both Lloyd
    iterations, probe selection and the cosine re-rank exactly."""
    from ..operators.similarity import ivf_topk_indexed

    t = load_testdata(spark, sf_dir)
    q = _query_vec(t)
    index_df, cents = _ensure_ann_index(spark, sf_dir)
    return _pin_topk_rank(ivf_topk_indexed(index_df, q, cents, k=10, nprobe=3))


def _fdiv(a: str, b: str) -> str:
    """Python-semantics floor division as a DuckDB expression (DuckDB's
    ``//`` truncates toward zero; numpy floor_divide floors)."""
    return f"((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b}))"


def _kmeans_iter_sql(n: int, prev: str) -> str:
    """One Lloyd iteration as CTEs d{n}/a{n}/u{n}/c{n}: integer argmin
    assignment of the sample to ``prev``'s centroids (ties → lowest
    cluster id), then the floor(mean + 1/2) integer centroid update
    (empty clusters keep their previous centroid)."""
    upd = _fdiv("2 * sum(s.x) + count(*)", "2 * count(*)")
    return f"""d{n} AS (
    SELECT s.vec_id, c.c, sum((s.x - c.x) * (s.x - c.x)) AS d
    FROM samp s JOIN {prev} c USING (i) GROUP BY s.vec_id, c.c
), a{n} AS (
    SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM d{n}) WHERE rn = 1
), u{n} AS (
    SELECT a.c, s.i, {upd} AS x
    FROM a{n} a JOIN samp s USING (vec_id) GROUP BY a.c, s.i
), c{n} AS (
    SELECT p.c, p.i, COALESCE(u.x, p.x) AS x
    FROM {prev} p LEFT JOIN u{n} u ON u.c = p.c AND u.i = p.i
)"""


SIMILARITY_IVF_ORACLE = (
    r"""
WITH xq AS (
    SELECT vec_id, i,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
    FROM (SELECT vec_id, embedding,
                 unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
), samp AS (
    SELECT * FROM xq
    WHERE (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 4) = 0
), init_ids AS (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
    FROM (SELECT DISTINCT vec_id FROM samp ORDER BY vec_id LIMIT 8)
), c0 AS (
    SELECT ii.c, s.i, s.x FROM init_ids ii JOIN samp s USING (vec_id)
), """
    + _kmeans_iter_sql(1, "c0")
    + ", "
    + _kmeans_iter_sql(2, "c1")
    + r""", qx AS (
    SELECT i, x FROM xq WHERE vec_id = 0
), pd AS (
    SELECT c.c, sum((q.x - c.x) * (q.x - c.x)) AS d
    FROM qx q JOIN c2 c USING (i) GROUP BY c.c
), probe AS (
    SELECT c FROM (SELECT c, row_number() OVER (ORDER BY d, c) AS rn FROM pd)
    WHERE rn <= 3
), dall AS (
    SELECT x.vec_id, c.c, sum((x.x - c.x) * (x.x - c.x)) AS d
    FROM xq x JOIN c2 c USING (i) GROUP BY x.vec_id, c.c
), assign_all AS (
    SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM dall) WHERE rn = 1
), keep AS (
    SELECT vec_id FROM assign_all WHERE c IN (SELECT c FROM probe)
), qv AS (
    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
    FROM embeddings WHERE vec_id = 0
), scored AS (
    SELECT e.vec_id,
           floor(
             list_sum(list_transform(list_zip(
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qvec),
                 pr -> pr[1] * pr[2]))
             / (sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qvec, x -> x * x))))
             * 1e6 + 0.5) / 1e6 AS cosine
    FROM embeddings e JOIN keep USING (vec_id), qv
)
SELECT vec_id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS rnk
FROM scored
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""
)


def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs top-k similarity join (operators/similarity.topk_join):
    each of the 20 lowest-id probe vectors → its 3 nearest neighbors
    among all OTHER vectors by cosine. Physical shape: broadcast of
    the right side + per-probe WindowGroupLimit rank — the cross-dedup
    primitive between a small query set and a large corpus (at corpus
    × corpus scale, swap the broadcast for the sketch filter).
    Deepened pin (r12): ``norm_b`` re-derives each winning neighbor's
    L2 norm independently of the operator — a topk_join that ranked on
    a mis-normalized cosine could still emit a plausible ordering; the
    denominator itself is now data. The re-join broadcasts the tiny
    k×probes result against the corpus scan (never the reverse)."""
    from ..operators.similarity import topk_join

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    probes = emb.filter(F.col("vec_id") < 20)
    top = topk_join(probes, emb, k=3)
    norms = emb.select(
        F.col("vec_id").alias("id_b"),
        round6(
            F.sqrt(
                F.aggregate(
                    F.transform("embedding", lambda x: x.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            )
        ).alias("norm_b"),
    )
    return F.broadcast(top).join(norms, "id_b").select(
        "id_a", "id_b", "cosine", "rnk", "norm_b"
    ).orderBy("id_a", "rnk")


SIMILARITY_KNN_JOIN_ORACLE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), p AS (
    SELECT * FROM e WHERE vec_id < 20
), scored AS (
    SELECT p.vec_id AS id_a, e.vec_id AS id_b,
           floor(list_sum(list_transform(list_zip(p.v, e.v), pr -> pr[1] * pr[2]))
                 / (sqrt(list_sum(list_transform(p.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(e.v, x -> x * x))))
                 * 1e6 + 0.5) / 1e6 AS cosine
    FROM p JOIN e ON p.vec_id <> e.vec_id
), ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY id_a ORDER BY cosine DESC, id_b) AS INTEGER) AS rnk
    FROM scored
)
SELECT r.id_a, r.id_b, r.cosine, r.rnk,
       floor(sqrt(list_sum(list_transform(e.v, x -> x * x)))
             * 1e6 + 0.5) / 1e6 AS norm_b
FROM ranked r JOIN e ON e.vec_id = r.id_b
WHERE r.rnk <= 3 ORDER BY id_a, rnk
"""


# --- text analysis ------------------------------------------------------


def text_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate signal (the Gopher-style gate every
    pretrain curation stack applies): per document, the fraction of
    word-3-grams that are repeats of an earlier gram in the same doc
    (1 − distinct/total). Entirely JVM-side higher-order functions —
    a narrow per-row projection, zero shuffles at any scale."""
    from ..functions.text import tokenize

    t = load_testdata(spark, sf_dir)
    words = tokenize("text")
    n = F.size(words)
    total = F.greatest(n - 2, F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, 3), " "),
    )
    distinct = F.size(F.array_distinct(grams))
    return t["documents"].select(
        "doc_id",
        total.alias("n_grams"),
        F.when(total > 0, distinct).otherwise(F.lit(0)).alias("n_distinct"),
        F.when(
            total > 0,
            round6(F.lit(1.0) - distinct.cast("double") / total),
        )
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    ).orderBy("doc_id")


BOILERPLATE_ORACLE = r"""
WITH d AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS wl
    FROM documents
), g AS (
    SELECT doc_id,
           greatest(len(wl) - 2, 0) AS total,
           list_transform(generate_series(1, greatest(len(wl) - 2, 0)),
                          i -> array_to_string(wl[i:i+2], ' ')) AS grams
    FROM d
)
SELECT doc_id,
       CAST(total AS INTEGER) AS n_grams,
       CAST(CASE WHEN total > 0 THEN len(list_distinct(grams)) ELSE 0 END
            AS INTEGER) AS n_distinct,
       CASE WHEN total > 0
            THEN floor((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                        / total) * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS rep_ratio
FROM g ORDER BY doc_id
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic relevance/
    distinctiveness score for corpus exploration. Distributed shape:
    explode → (doc, term) partial-aggregated counts, document
    frequency as a second small aggregate broadcast back, window
    top-3. The vocabulary table is tiny next to the corpus, so the
    idf join broadcasts at any scale."""
    from pyspark.sql import Window

    from ..functions.text import tokenize

    t = load_testdata(spark, sf_dir)
    d = t["documents"]
    n_docs = d.count()  # one scalar job; embedded as a literal
    terms = d.select("doc_id", F.explode(tokenize("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "score",
        round6(
            F.col("tf")
            * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0)
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
        .orderBy("doc_id", "rnk")
    )


TFIDF_ORACLE = r"""
WITH d AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS wl
    FROM documents
), n AS (
    SELECT count(*) AS nd FROM documents
), terms AS (
    SELECT doc_id, unnest(wl) AS term FROM d
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
    SELECT doc_id, term, tf, df,
           floor(tf * (ln((nd + 1.0) / (df + 1.0)) + 1.0)
                 * 1e6 + 0.5) / 1e6 AS score
    FROM tf JOIN dfreq USING (term), n
), ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rnk
    FROM scored
)
SELECT doc_id, term, tf, df, score, rnk FROM ranked
WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


def _split_expr(key) -> "F.Column":
    """THE split function — md5-derived bucket in [0,100): <80 train,
    <90 val, else test (15-hex-char hash rule shared with the
    CMS/Bloom/KMV sketches). One definition on purpose: the thresholds
    and hash rule are load-bearing for BOTH `dataset_splits` and the
    leakage-free `cluster_aware_splits` (and their two DuckDB
    oracles); a tweak applied to one copy must reach the other."""
    h = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % 100
    )
    return (
        F.when(h < 80, F.lit("train"))
        .when(h < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — the split step every
    training pipeline needs to be STABLE under corpus growth: a doc's
    split is a pure function of its id (md5-derived bucket in [0,100):
    <80 train, <90 val, else test), so adding data never moves an
    existing document across splits (no leakage from re-shuffling),
    and re-runs are reproducible with no persisted split table.

    Scale shape: map-only hash + a partial-aggregated rollup — no
    join, no window, nothing driver-side. The md5 bucket is replayed
    bit-for-bit in DuckDB (same 15-hex-char rule as the CMS/Bloom
    hashes), so the per-(split, lang) populations are value-checked,
    which pins disjointness and completeness too (counts per split
    sum to the corpus)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .select(_split_expr(F.col("doc_id")).alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # deepened pin (r11): split MEMBERSHIP — two docs of the
            # same lang swapped between splits preserve every count;
            # the id checksum pins exactly who landed where (the
            # no-leakage property the split exists for).
            F.sum("doc_id").alias("doc_id_sum"),
            # deepened pin (r16), PARITY class: a compensating id pair
            # (+k here, -k there) balances the sum across two cells;
            # xor membership can't be balanced that way
            F.expr("bit_xor(doc_id)").cast("bigint").alias("doc_id_xor"),
        )
        .orderBy("split", "lang")
    )


DATASET_SPLITS_ORACLE = """
WITH h AS (
    SELECT lang, doc_id,
           (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT % 100) AS b
    FROM documents
)
SELECT CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
       CAST(bit_xor(doc_id) AS BIGINT) AS doc_id_xor
FROM h GROUP BY 1, 2 ORDER BY split, lang
"""


def source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document capping — the over-represented-domain
    rebalance every pretraining mix applies (cap each source at N
    docs): rank docs WITHIN each source by a hash of their id (so the
    kept subset is a stable uniform sample, not a head-of-file bias)
    and keep rank ≤ 120. The ranked filter compiles to
    WindowGroupLimit (plan-audited): Spark pushes the per-group top-k
    below the final sort, so no source's full document list is ever
    buffered — the 100 TB shape for group-wise capping. Ties inside
    one 60-bit hash bucket are broken by doc_id, making the selection
    total and engine-portable; the per-source survivor counts and the
    kept-id checksum are value-matched against DuckDB."""
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    kept = (
        t["documents"]
        .select("doc_id", "source")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 120)
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
            # deepened pins (r16): PARITY over the kept-id set (a
            # compensating swap balances the sum, not the xor) and
            # EXTREMUM — the hash-largest survivor (a rank-boundary
            # drift replaces the tail doc; max id can't follow both)
            F.expr("bit_xor(doc_id)").cast("bigint").alias("kept_id_xor"),
            F.max("doc_id").cast("bigint").alias("kept_id_max"),
        )
        .orderBy("source")
    )


SOURCE_CAPPED_ORACLE = """
WITH ranked AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT,
                        doc_id
           ) AS rnk
    FROM documents
)
SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
       CAST(bit_xor(doc_id) AS BIGINT) AS kept_id_xor,
       CAST(max(doc_id) AS BIGINT) AS kept_id_max
FROM ranked WHERE rnk <= 120
GROUP BY source ORDER BY source
"""


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-weight computation for rebalancing a multilingual
    corpus to a UNIFORM per-language token mix (the data-mixing step
    ahead of training): weight(lang) = target share (1/n_langs) over
    actual token share. One partial-aggregated rollup for per-lang
    token totals; corpus totals join back as a broadcast single row —
    never collected, never a window over the corpus."""
    t = load_testdata(spark, sf_dir)
    per_lang = (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # deepened pin (r13): WHICH docs weigh into each language's
            # bucket — a doc attributed to the wrong lang can balance
            # both langs' doc counts, never both id checksums
            F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
        )
    )
    totals = per_lang.agg(
        F.sum("n_tokens").cast("double").alias("_tot"),
        F.count(F.lit(1)).cast("double").alias("_nl"),
    )
    return (
        per_lang.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "doc_id_sum",
            round6(F.col("n_tokens") / F.col("_tot")).alias(
                "token_share"
            ),
            round6(
                (F.lit(1.0) / F.col("_nl"))
                / (F.col("n_tokens") / F.col("_tot"))
            ).alias("mix_weight"),
        )
        .orderBy("lang")
    )


CORPUS_MIXTURE_ORACLE = r"""
WITH d AS (
    SELECT lang, doc_id,
           len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                            ' ')) AS n_tok
    FROM documents
), per_lang AS (
    SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
    FROM d GROUP BY lang
), tot AS (
    SELECT CAST(sum(n_tokens) AS DOUBLE) AS t,
           CAST(count(*) AS DOUBLE) AS nl
    FROM per_lang
)
SELECT lang, n_docs, n_tokens, doc_id_sum,
       floor(n_tokens / t * 1e6 + 0.5) / 1e6 AS token_share,
       floor((1.0 / nl) / (n_tokens / t) * 1e6 + 0.5) / 1e6 AS mix_weight
FROM per_lang, tot ORDER BY lang
"""


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality/statistics panel: token count, char count,
    punctuation count, mean word length, rolling fingerprint."""
    t = load_testdata(spark, sf_dir)
    d = t["documents"]
    norm = normalize_text("text")
    n_chars = F.length(norm)
    n_punct = n_chars - F.length(F.regexp_replace(norm, r"[.,!?;:]", ""))
    toks = token_count("text")
    return d.select(
        "doc_id",
        toks.alias("n_tokens"),
        n_chars.alias("n_chars_norm"),
        n_punct.alias("n_punct"),
        round6(
            (n_chars - (toks - 1)).cast("double") / toks
        ).alias("avg_word_len"),
        rolling_fingerprint("text").alias("fingerprint"),
        # deepened pin (r10): vocabulary size per doc — token COUNTS
        # can agree while the token SET differs (a tokenizer merging
        # two words and splitting another nets to the same count)
        F.size(F.array_distinct(F.split(norm, " "))).alias(
            "n_distinct_tokens"
        ),
    ).orderBy("doc_id")


TEXT_STATS_ORACLE = r"""
WITH d AS (
    SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
    FROM documents
)
SELECT doc_id,
       CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_tokens,
       CAST(length(norm) AS INTEGER) AS n_chars_norm,
       CAST(length(norm) - length(regexp_replace(norm, '[.,!?;:]', '', 'g'))
            AS INTEGER) AS n_punct,
       floor(CAST(length(norm) - (len(string_split(norm, ' ')) - 1) AS DOUBLE)
             / len(string_split(norm, ' ')) * 1e6 + 0.5) / 1e6
           AS avg_word_len,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split_regex(norm, ''),
                          c -> CAST(ascii(c) AS BIGINT))),
           (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint,
       CAST(len(list_distinct(string_split(norm, ' '))) AS INTEGER)
           AS n_distinct_tokens
FROM d ORDER BY doc_id
"""


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition — the duplicate-n-gram-fraction
    quality signal large-corpus filters threshold on (a high fraction
    of repeated 3-grams marks boilerplate/spam/generation loops).
    Pure JVM higher-order functions over one scan: the n-gram list is
    built per row with sequence+transform+slice and never explodes
    into rows, so the only exchange is the final ORDER BY — at 100 TB
    this is a map-only pass."""
    t = load_testdata(spark, sf_dir)
    from ..functions.text import ngram_list

    g = ngram_list("text", 3)
    return (
        t["documents"]
        .select(
            "doc_id",
            F.size(g).alias("n_ngrams"),
            F.size(F.array_distinct(g)).alias("n_distinct"),
        )
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_ngrams") > 0,
                round6(
                    F.lit(1.0)
                    - F.col("n_distinct") / F.col("n_ngrams").cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy("doc_id")
    )


DOC_REPETITION_ORACLE = r"""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                        ' ') AS words
    FROM documents
), g AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                          i -> array_to_string(words[i:i+2], ' ')) AS ngrams
    FROM w
)
SELECT doc_id,
       CAST(len(ngrams) AS INTEGER) AS n_ngrams,
       CAST(len(list_distinct(ngrams)) AS INTEGER) AS n_distinct,
       CASE WHEN len(ngrams) > 0
            THEN floor((1.0 - len(list_distinct(ngrams))
                           / CAST(len(ngrams) AS DOUBLE)) * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS dup_frac
FROM g ORDER BY doc_id
"""


def token_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential sequence packing — the batch-preparation step
    that turns variable-length documents into fixed-token-budget
    training bins: lay the docs out in a deterministic order and cut
    at every 2048 cumulative tokens (next-fit packing: a doc's bin is
    the budget-quotient of the tokens BEFORE it). The prefix sum is a
    window PARTITIONED by lang — the shard key a real pipeline packs
    within — so no single-partition global sort exists at any scale;
    the per-bin rollup rides a partial-aggregated exchange."""
    t = load_testdata(spark, sf_dir)
    from pyspark.sql import Window

    from ..functions.text import token_count

    d = t["documents"].select(
        "doc_id", "lang", token_count("text").alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = d.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(2048.0)
        ).cast("int"),
    )
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("bin_tokens"),
            # deepened pin (r11): bin MEMBERSHIP — two equal-length
            # docs swapped across a bin cut preserve both bins'
            # n_docs and bin_tokens; the id checksum they can't.
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .orderBy("lang", "bin")
    )


TOKEN_PACKING_ORACLE = r"""
WITH d AS (
    SELECT doc_id, lang,
           len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                           'g'), ' ')) AS n_tok
    FROM documents
), b AS (
    SELECT lang, doc_id, n_tok,
           CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tok) / 2048.0)
                AS INTEGER) AS bin
    FROM d
)
SELECT lang, bin, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality proxy — the unigram version of the
    KenLM-perplexity filter production corpus pipelines run: score
    each document by the mean log-probability of its tokens under the
    corpus's own unigram distribution (low = rare-token-dense: OCR
    noise, codes, gibberish; filters threshold the tail).

    Shape at scale: token frequencies are ONE partial-aggregated
    shuffle of the exploded corpus; the corpus-total is a 1-row frame
    cross-joined (broadcast) rather than a driver collect; the
    score-back join hits the frequency table on the token key (AQE
    broadcasts it — a natural-language vocabulary is sublinear in
    corpus size). Rounded to 6 decimals on both engines so last-ulp
    ln/avg differences cannot hash-mismatch."""
    t = load_testdata(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(tokenize("text")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    total = freq.agg(F.sum("_c").alias("_n"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            round6(
                F.avg(F.log(F.col("_c") / F.col("_n")))
            ).alias("avg_logprob"),
            # deepened pin (r11): the doc's rarest token's corpus
            # frequency as an exact integer — pins the score-back
            # frequency join row-for-row where the rounded float
            # average leaves 6-decimal slack.
            F.min("_c").cast("bigint").alias("rarest_tok_count"),
        )
        .orderBy("doc_id")
    )


UNIGRAM_LOGPROB_ORACLE = r"""
WITH t AS (
    SELECT doc_id,
           unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                              'g'), ' ')) AS tok
    FROM documents
), f AS (
    SELECT tok, count(*) AS c FROM t GROUP BY 1
), n AS (
    SELECT sum(c) AS nn FROM f
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_tokens,
       floor(avg(ln(CAST(c AS DOUBLE) / nn)) * 1e6 + 0.5) / 1e6
           AS avg_logprob,
       CAST(min(c) AS BIGINT) AS rarest_tok_count
FROM t JOIN f USING (tok), n
GROUP BY doc_id ORDER BY doc_id
"""


# Inline multilingual evaluation fixture: the synthetic corpus is
# monolingual English-ish, so these literal rows (same rows replayed
# via VALUES in the oracle) exercise the classifier across languages,
# including deliberately confusable texts that produce off-diagonal
# confusion rows (English-stopword-dominated text under a non-en
# label).
MULTILINGUAL_FIXTURE: list[tuple[str, str]] = [
    ("en", "the cat and the dog of a to in is that with us"),
    ("de", "der hund und die katze das ist nicht mit ein gut"),
    ("fr", "le chat et la maison les est pas pour une belle"),
    ("es", "el perro los gatos las es por para una con casa"),
    ("zh", "wo men shi bu ni ta de le"),
    ("fr", "the and of to in is that with le paris"),
    ("de", "the and of to in is that with der berlin"),
    ("es", "the is el la"),
]


def lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled ``lang`` column: confusion
    counts per (label, prediction) over documents plus the inline
    multilingual fixture (the synthetic corpus alone is monolingual).
    Deepened pin (r12): ``doc_id_sum`` per confusion cell pins WHICH
    documents landed in each (label, prediction) — a classifier drift
    that reshuffles docs between cells of equal size now fails the
    hash. Fixture rows carry deterministic negative ids (-1…-8, their
    enumeration order) so they can never collide with corpus ids."""
    t = load_testdata(spark, sf_dir)
    fixture = local_frame(
        spark,
        [
            (-(i + 1), lang, text)
            for i, (lang, text) in enumerate(MULTILINGUAL_FIXTURE)
        ],
        "doc_id bigint, label string, text string",
    )
    src = t["documents"].select(
        "doc_id", F.col("lang").alias("label"), F.col("text")
    ).unionByName(fixture)
    return (
        src.select("doc_id", "label", lang_id("text").alias("predicted"))
        .groupBy("label", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
        )
        .orderBy("label", "predicted")
    )


def _lang_hits_sql(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_intersect(w, [{arr}]))"


_FIXTURE_VALUES = ", ".join(
    f"({-(i + 1)}, '" + lang + "', '" + text + "')"
    for i, (lang, text) in enumerate(MULTILINGUAL_FIXTURE)
)

LANG_ID_ORACLE = (
    r"""
WITH src AS (
    SELECT doc_id, lang AS label, text FROM documents
    UNION ALL
    SELECT * FROM (VALUES """
    + _FIXTURE_VALUES
    + r""") AS f(doc_id, label, text)
), d AS (
    SELECT doc_id, label,
           list_distinct(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
    FROM src
), scored AS (
    SELECT doc_id, label, """
    + ", ".join(f"{_lang_hits_sql(lang)} AS h_{lang}" for lang in LANG_ORDER)
    + """,
           greatest("""
    + ", ".join(f"{_lang_hits_sql(lang)}" for lang in LANG_ORDER)
    + """) AS best
    FROM d
)
SELECT label,
       CASE """
    + " ".join(f"WHEN h_{lang} = best THEN '{lang}'" for lang in LANG_ORDER)
    + """ END AS predicted,
       count(*) AS n,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM scored GROUP BY label, predicted ORDER BY label, predicted
"""
)


def pretrain_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pretraining-corpus funnel as ONE distributed
    pass: exact-dedup keeper → token-count gate → word-length gate →
    language gate, reported as cumulative survivor counts. Every gate
    is a column flag, so the whole funnel is a single scan + one
    window (dedup keeper) + one partial+final aggregate — no
    per-stage jobs, no driver loop; at 100 TB this runs exactly two
    shuffles (fingerprint window, final 1-row agg)."""
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir)
    d = t["documents"]
    norm = normalize_text("text")
    toks = token_count("text")
    n_chars = F.length(norm)
    awl = (n_chars - (toks - 1)).cast("double") / toks

    flagged = d.select(
        "doc_id",
        F.md5(norm).alias("_fp"),
        toks.alias("_toks"),
        awl.alias("_awl"),
        # language gate runs the ENGINE classifier (lang_id), not the
        # stored label — the funnel is self-contained and the scan no
        # longer reads the lang column at all (column pruning)
        lang_id("text").alias("_pred"),
    ).withColumn(
        "_keeper",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("_fp")),
    )
    k_dedup = F.col("_keeper")
    k_len = k_dedup & F.col("_toks").between(30, 90)
    k_awl = k_len & (F.col("_awl") >= 4.0) & (F.col("_awl") <= 5.0)
    k_lang = k_awl & (F.col("_pred") == "en")
    one = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return flagged.agg(
        F.count(F.lit(1)).alias("total"),
        one(k_dedup).alias("kept_dedup"),
        one(k_len).alias("kept_length"),
        one(k_awl).alias("kept_wordlen"),
        one(k_lang).alias("kept_lang"),
        # deepened pin (r11): the surviving SET — the funnel's final
        # output is those documents, and two gates trading rejections
        # (one admits a doc another should have cut) can preserve
        # every cumulative count; the survivor id checksum cannot.
        F.sum(F.when(k_lang, F.col("doc_id"))).alias("survivor_id_sum"),
    )


PRETRAIN_FILTER_ORACLE = (
    r"""
WITH d AS (
    SELECT doc_id,
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
    FROM documents
), m AS (
    SELECT doc_id, md5(norm) AS fp,
           len(string_split(norm, ' ')) AS toks,
           (length(norm) - (len(string_split(norm, ' ')) - 1)) * 1.0
               / len(string_split(norm, ' ')) AS awl,
           list_distinct(string_split(norm, ' ')) AS w
    FROM d
), p AS (
    SELECT *, CASE """
    + " ".join(
        f"WHEN {_lang_hits_sql(lang)} = greatest("
        + ", ".join(_lang_hits_sql(g) for g in LANG_ORDER)
        + f") THEN '{lang}'"
        for lang in LANG_ORDER
    )
    + r""" END AS pred
    FROM m
), f AS (
    SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS keeper FROM p
), g AS (
    SELECT doc_id,
           keeper AS k_dedup,
           keeper AND toks BETWEEN 30 AND 90 AS k_len,
           keeper AND toks BETWEEN 30 AND 90
                  AND awl >= 4.0 AND awl <= 5.0 AS k_awl,
           keeper AND toks BETWEEN 30 AND 90
                  AND awl >= 4.0 AND awl <= 5.0 AND pred = 'en' AS k_lang
    FROM f
)
SELECT count(*) AS total,
       CAST(sum(CAST(k_dedup AS BIGINT)) AS BIGINT) AS kept_dedup,
       CAST(sum(CAST(k_len AS BIGINT)) AS BIGINT) AS kept_length,
       CAST(sum(CAST(k_awl AS BIGINT)) AS BIGINT) AS kept_wordlen,
       CAST(sum(CAST(k_lang AS BIGINT)) AS BIGINT) AS kept_lang,
       CAST(sum(CASE WHEN k_lang THEN doc_id END) AS BIGINT)
           AS survivor_id_sum
FROM g
"""
)


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (functions/text.
    chunk_documents): 32-token windows, stride 24, chunk payload
    represented by its md5 so the result is compact and
    exactly comparable."""
    from ..functions.text import chunk_documents

    t = load_testdata(spark, sf_dir)
    return chunk_documents(t["documents"]).orderBy("doc_id", "chunk_id")


DOC_CHUNKS_ORACLE = r"""
WITH t AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                        ' ') AS toks
    FROM documents WHERE text IS NOT NULL
), s AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, greatest(len(toks) - 1, 0), 24)) AS start
    FROM t
)
SELECT doc_id,
       CAST(start // 24 AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + 32)) AS INT) AS n_tokens,
       md5(array_to_string(list_slice(toks, start + 1, start + 32), ' '))
           AS chunk_md5
FROM s ORDER BY doc_id, chunk_id
"""


def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: n docs per language stratum,
    chosen by md5-hash order — the seeded-sample shape every corpus
    ablation needs, made engine-portable (no RNG) so the exact draw
    replays bit-identically in DuckDB. One window shuffle on the
    stratum key; rank truncation compiles to WindowGroupLimit so each
    partition keeps only its top-n heap rather than sorting the
    stratum."""
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir)
    d = t["documents"]
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    sampled = (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )
    # deepened pin (r10): stratum POPULATION — a stratum silently
    # dropped before sampling is invisible in the drawn rows alone;
    # the independently aggregated count is not. Broadcast join of a
    # lang-count dim; the WindowGroupLimit plan is untouched.
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_in_stratum"))
    # Null-safe join key (r10 ADVICE): window/groupBy both treat NULL
    # lang as its own stratum, so an inner equi-join here would be the
    # one step that silently drops it — exactly the failure mode the
    # n_in_stratum pin exists to catch. <=> keeps the NULL stratum.
    counts = counts.select(
        F.col("lang").alias("_clang"), "n_in_stratum"
    )
    return (
        sampled.join(
            F.broadcast(counts), F.col("lang").eqNullSafe(F.col("_clang"))
        )
        .select("doc_id", "lang", "rn", "n_in_stratum")
        .orderBy("lang", "rn")
    )


STRATIFIED_SAMPLE_ORACLE = """
WITH ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
    FROM documents
), counts AS (
    SELECT lang, count(*) AS n_in_stratum FROM documents GROUP BY lang
)
SELECT doc_id, ranked.lang AS lang, CAST(rn AS INT) AS rn, n_in_stratum
FROM ranked JOIN counts ON ranked.lang IS NOT DISTINCT FROM counts.lang
WHERE rn <= 20 ORDER BY lang, rn
"""


# --- multimodal ---------------------------------------------------------


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the Arrow/mapInPandas
    plumbing (deterministic fake decoder). The oracle recomputes
    n_bytes/byte_sum/md5 from the (pure-ASCII) text — verifying the
    bytes really round-tripped through the binary column and the
    pandas batches."""
    t = load_testdata(spark, sf_dir)
    media = documents_as_media(t["documents"])
    return extract_features(media).orderBy("media_id")


MULTIMODAL_ORACLE = """
SELECT doc_id AS media_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(string_split_regex(text, ''),
                                    c -> ascii(c))) % 1000000007 AS BIGINT)
           AS byte_sum_mod,
       md5(text) AS digest
FROM documents ORDER BY media_id
"""


def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (operators/multimodal.decode_wav): synthesize
    one genuine RIFF/WAV PCM16 payload per document id (manual byte
    packer), decode it back through the stdlib ``wave`` module in an
    Arrow-batched stage, and emit integer amplitude features. The
    oracle recomputes the features closed-form from the synthesis
    formula — a byte off anywhere in the RIFF container, the frame
    extraction, or the sample decode shows up as a value mismatch."""
    from ..operators.multimodal import extract_wav_features, synthesize_wav_corpus

    t = load_testdata(spark, sf_dir)
    ids = t["documents"].select(F.col("doc_id").alias("media_id"))
    feats = extract_wav_features(synthesize_wav_corpus(ids))
    return feats.withColumnRenamed("media_id", "doc_id").orderBy("doc_id")


MULTIMODAL_WAV_ORACLE = """
SELECT d.doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(200 + d.doc_id % 100 AS INT) AS n_samples,
       CAST(MAX(ABS(((d.doc_id*31 + t.i*17) % 65536) - 32768)) AS INT)
           AS peak_abs,
       CAST(SUM(ABS(((d.doc_id*31 + t.i*17) % 65536) - 32768)) AS BIGINT)
           AS sum_abs,
       CAST(SUM((((d.doc_id*31 + t.i*17) % 65536) - 32768) * t.i) AS BIGINT)
           AS wsum_amp
FROM documents d CROSS JOIN generate_series(0, 298) t(i)
WHERE t.i < 200 + d.doc_id % 100
GROUP BY d.doc_id ORDER BY d.doc_id
"""


def multimodal_ppm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (operators/multimodal.decode_ppm): one
    genuine binary P6 PPM payload per document id (numpy pixel
    writer), parsed back by the from-scratch netpbm header parser,
    per-channel integer sums as features; closed-form oracle."""
    from ..operators.multimodal import extract_ppm_features, synthesize_ppm_corpus

    t = load_testdata(spark, sf_dir)
    ids = t["documents"].select(F.col("doc_id").alias("media_id"))
    feats = extract_ppm_features(synthesize_ppm_corpus(ids))
    return feats.withColumnRenamed("media_id", "doc_id").orderBy("doc_id")


MULTIMODAL_PPM_ORACLE = """
SELECT d.doc_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(SUM((d.doc_id + x.x + y.y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((d.doc_id * 3 + x.x) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((d.doc_id * 7 + y.y) % 256) AS BIGINT) AS sum_b,
       CAST(SUM(((d.doc_id + x.x + y.y) % 256
               + (d.doc_id * 3 + x.x) % 256
               + (d.doc_id * 7 + y.y) % 256) * (y.y * 16 + x.x))
            AS BIGINT) AS wsum_lum
FROM documents d
CROSS JOIN generate_series(0, 15) x(x)
CROSS JOIN generate_series(0, 11) y(y)
GROUP BY d.doc_id ORDER BY d.doc_id
"""


def multimodal_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize
    (operators/multimodal.resize_nearest): each document's P6 payload
    is decoded, resampled 16×12 → 8×6 with integer index math
    (source pixel (2x, 2y)), re-encoded and feature-extracted — all
    inside one mapInPandas stage, so the bytes never cross a shuffle.
    The oracle states the resized image in closed form."""
    from ..operators.multimodal import (
        resize_ppm_features,
        synthesize_ppm_corpus,
    )

    t = load_testdata(spark, sf_dir)
    ids = t["documents"].select(F.col("doc_id").alias("media_id"))
    feats = resize_ppm_features(synthesize_ppm_corpus(ids), out_w=8, out_h=6)
    return feats.withColumnRenamed("media_id", "doc_id").orderBy("doc_id")


MULTIMODAL_RESIZE_ORACLE = """
SELECT d.doc_id,
       CAST(8 AS INT) AS width,
       CAST(6 AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(SUM((d.doc_id + 2 * x.x + 2 * y.y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((d.doc_id * 3 + 2 * x.x) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((d.doc_id * 7 + 2 * y.y) % 256) AS BIGINT) AS sum_b,
       CAST(SUM(((d.doc_id + 2 * x.x + 2 * y.y) % 256
               + (d.doc_id * 3 + 2 * x.x) % 256
               + (d.doc_id * 7 + 2 * y.y) % 256) * (y.y * 8 + x.x))
            AS BIGINT) AS wsum_lum
FROM documents d
CROSS JOIN generate_series(0, 7) x(x)
CROSS JOIN generate_series(0, 5) y(y)
GROUP BY d.doc_id ORDER BY d.doc_id
"""


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling
    (operators/multimodal.sample_video_frames): each document gets a
    4-frame concatenated-P6 video (frame f seeded doc_id*10+f), the
    container is parsed frame-by-frame from its headers, every 2nd
    frame kept and decoded. Payloads are read once per row,
    executor-side — frame extraction is a map-only pass."""
    from ..operators.multimodal import (
        sample_video_frames,
        synthesize_video_corpus,
    )

    t = load_testdata(spark, sf_dir)
    ids = t["documents"].select(F.col("doc_id").alias("media_id"))
    frames = sample_video_frames(
        synthesize_video_corpus(ids, n_frames=4), every_k=2
    )
    return frames.withColumnRenamed("media_id", "doc_id").orderBy(
        "doc_id", "frame_idx"
    )


MULTIMODAL_VIDEO_ORACLE = """
SELECT d.doc_id,
       CAST(4 AS INT) AS n_frames,
       CAST(f.f AS INT) AS frame_idx,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(SUM((d.doc_id * 10 + f.f + x.x + y.y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM(((d.doc_id * 10 + f.f) * 3 + x.x) % 256) AS BIGINT) AS sum_g,
       CAST(SUM(((d.doc_id * 10 + f.f) * 7 + y.y) % 256) AS BIGINT) AS sum_b,
       CAST(SUM(((d.doc_id * 10 + f.f + x.x + y.y) % 256
               + ((d.doc_id * 10 + f.f) * 3 + x.x) % 256
               + ((d.doc_id * 10 + f.f) * 7 + y.y) % 256)
              * (y.y * 16 + x.x)) AS BIGINT) AS wsum_lum
FROM documents d
CROSS JOIN (VALUES (0), (2)) f(f)
CROSS JOIN generate_series(0, 15) x(x)
CROSS JOIN generate_series(0, 11) y(y)
GROUP BY d.doc_id, f.f ORDER BY d.doc_id, frame_idx
"""


# --- UDF surface --------------------------------------------------------


def udf_text_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF over Arrow batches (functions/udfs.py).
    Deepened pin (r10): the UDF's internal tokenizer/length are also
    emitted as JVM-side twin columns — a cross-RUNTIME consistency
    pin (pandas `.str` ops over Arrow batches vs Catalyst
    expressions), so an Arrow transfer or vectorized-string-op drift
    shows up as a density/twin disagreement the oracle catches."""
    from ..functions.udfs import text_density_score

    t = load_testdata(spark, sf_dir)
    trimmed = F.lower(F.trim("text"))
    return t["documents"].select(
        "doc_id",
        text_density_score("text").alias("density"),
        F.size(F.split(trimmed, r"\s+")).alias("n_toks_jvm"),
        F.length(trimmed).alias("n_chars_jvm"),
    ).orderBy("doc_id")


UDF_DENSITY_ORACLE = r"""
SELECT doc_id,
       floor(len(string_split_regex(trim(lower(text)), '\s+'))
             / sqrt(1 + length(trim(text))) * 1e6 + 0.5) / 1e6 AS density,
       CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INTEGER)
           AS n_toks_jvm,
       CAST(length(trim(lower(text))) AS INTEGER) AS n_chars_jvm
FROM documents ORDER BY doc_id
"""


def udaf_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas aggregation (UDAF surface)."""
    from ..functions.udfs import lang_char_stats

    t = load_testdata(spark, sf_dir)
    return lang_char_stats(t["documents"]).orderBy("lang")


UDAF_LANG_STATS_ORACLE = """
SELECT lang, count(*) AS n_docs,
       floor(avg(n_chars) * 1e6 + 0.5) / 1e6 AS mean_chars,
       floor(stddev_samp(n_chars) * 1e6 + 0.5) / 1e6 AS std_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM documents GROUP BY lang ORDER BY lang
"""


def udtf_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join: explode word trigrams, count the
    most frequent (deterministic tiebreak on the ngram). Deepened pins
    (r12): per top ngram, its document frequency (``n_docs``) and the
    distinct containing-doc id checksum (``doc_id_sum``) — a UDTF that
    emitted grams against the wrong doc_id, or double-emitted within a
    doc, now fails the hash even when the raw counts survive."""
    from ..functions.udfs import register_all as register_udfs

    load_testdata(spark, sf_dir)
    register_udfs(spark)
    return spark.sql(
        """
        SELECT ngram, count(*) AS n,
               count(DISTINCT g.doc_id) AS n_docs,
               CAST(sum(DISTINCT g.doc_id) AS BIGINT) AS doc_id_sum
        FROM documents, LATERAL word_ngrams(documents.doc_id, text, 3) g
        GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 10
        """
    )


UDTF_NGRAMS_ORACLE = r"""
WITH g AS (
    SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(w) - 2, 0)),
        i -> array_to_string(w[i:i+2], ' '))) AS ngram
    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents)
)
SELECT ngram, count(*) AS n,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(DISTINCT doc_id) AS BIGINT) AS doc_id_sum
FROM g
GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 10
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: SimHash pairs (hamming ≤ 8) → connected
    components → (doc_id, keeper_id, cluster_size) per clustered doc
    (operators/dedup.connected_components — min-label propagation,
    one shuffle join + partial-combined min per round). The DuckDB
    oracle replays the simhash pipeline AND computes the transitive
    closure with WITH RECURSIVE — the entire pairs→clusters step is
    verified, not just the pair set. The PAIR SET comes from the
    artifact cache (ensure_simhash_artifacts) — this query's timed
    work is the iterative connected-components itself, which is
    exactly what its 10× bench entry tracks (cc_rounds)."""
    from ..operators.dedup import dedup_cluster_assignments

    t = load_testdata(spark, sf_dir)
    pairs, _ = ensure_simhash_artifacts(spark, sf_dir)
    return dedup_cluster_assignments(t["documents"], pairs).orderBy("doc_id")


DEDUP_CLUSTERS_ORACLE = (
    "WITH RECURSIVE "
    + _SIMHASH_CTES
    + """, edges AS (
    SELECT id_a AS src, id_b AS dst FROM ham_pairs WHERE """ + _HAM_PRED + r"""
    UNION
    SELECT id_b, id_a FROM ham_pairs WHERE """ + _HAM_PRED + r"""
), reach(id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
), lab AS (
    SELECT id AS doc_id, min(r) AS keeper_id FROM reach GROUP BY 1
), sizes AS (
    SELECT keeper_id, count(*) AS cluster_size FROM lab GROUP BY 1
)
SELECT l.doc_id, l.keeper_id, s.cluster_size
FROM lab l JOIN sizes s USING (keeper_id)
ORDER BY doc_id
"""
)


def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step a training pipeline actually runs AFTER clustering:
    keep ONE canonical document per near-dup cluster (the keeper =
    min doc_id — deterministic, engine-portable) plus every
    unclustered document, and report the per-language corpus shrink.

    Scale shape: the removal set is bounded by the duplicate rate
    (orders of magnitude under corpus size), so the filter is a
    left join of the corpus against a SMALL doc_id set — AQE
    broadcasts it — followed by a partial-aggregated per-lang rollup.
    No full-corpus shuffle beyond the one the pair generator already
    pays. The DuckDB oracle replays simhash → recursive transitive
    closure → keeper selection, so the whole decision chain is
    value-verified, not just the counts."""
    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    # cluster assignment from the session artifact cache: this query's
    # own logic is the anti-filter + rollup, and that is what it times
    _, assign = ensure_simhash_artifacts(spark, sf_dir)
    removed = assign.filter(F.col("doc_id") != F.col("keeper_id")).select(
        "doc_id", F.lit(1).alias("_rm")
    )
    return (
        docs.join(removed, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("_rm").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("_rm").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            # deepened pin (r11): WHICH docs survived — a keeper
            # selection that kept the wrong cluster member preserves
            # every count above but not the kept-id checksum.
            F.sum(
                F.when(F.col("_rm").isNull(), F.col("doc_id"))
            ).alias("kept_id_sum"),
        )
        .orderBy("lang")
    )


# Transitive-closure labeling over the simhash dup-pair graph:
# edges → reach → lab(doc_id, keeper_id = min reachable vertex) —
# the DuckDB twin of operators/dedup.connected_components. Shared by
# every oracle that replays the clustering decision chain.
_CLOSURE_CTES = """edges AS (
    SELECT id_a AS src, id_b AS dst FROM ham_pairs WHERE """ + _HAM_PRED + r"""
    UNION
    SELECT id_b, id_a FROM ham_pairs WHERE """ + _HAM_PRED + r"""
), reach(id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
), lab AS (
    SELECT id AS doc_id, min(r) AS keeper_id FROM reach GROUP BY 1
)"""

DEDUP_CANONICAL_ORACLE = (
    "WITH RECURSIVE "
    + _SIMHASH_CTES
    + ", "
    + _CLOSURE_CTES
    + """, removed AS (
    SELECT doc_id FROM lab WHERE doc_id <> keeper_id
)
SELECT d.lang,
       count(*) AS n_docs,
       count(*) FILTER (WHERE r.doc_id IS NULL) AS n_kept,
       count(r.doc_id) AS n_removed,
       CAST(sum(d.doc_id) FILTER (WHERE r.doc_id IS NULL) AS BIGINT)
           AS kept_id_sum
FROM documents d LEFT JOIN removed r USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""
)


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d-\d{3}-\d{4}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pretraining-compliance pass —
    entirely in JVM regexp expressions (no Python in the path, one
    scan, no shuffle until the tiny per-source rollup). The synthetic
    corpus carries no organic PII, so the query first SEEDS
    deterministic emails/phones/IPs from doc_id (identically in the
    DuckDB oracle), then counts and strips them; chars_removed
    cross-checks that replacement semantics agree between engines.

    At 100 TB this is the exact shape to want: per-row narrow
    projection, predicate-free single pass, partial aggregation —
    the regex evaluation dominates and scales embarrassingly."""
    t = load_testdata(spark, sf_dir)
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                F.expr("(doc_id div 7) % 256").cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(seeded, _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IP,
        "[IP]",
    )
    return (
        t["documents"]
        .select(
            "source",
            "doc_id",
            F.size(F.regexp_extract_all(seeded, F.lit(_PII_EMAIL), F.lit(0))).alias(
                "_e"
            ),
            F.size(F.regexp_extract_all(seeded, F.lit(_PII_PHONE), F.lit(0))).alias(
                "_p"
            ),
            F.size(F.regexp_extract_all(seeded, F.lit(_PII_IP), F.lit(0))).alias(
                "_i"
            ),
            (F.length(seeded) - F.length(redacted)).alias("_d"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_e").alias("n_emails"),
            F.sum("_p").alias("n_phones"),
            F.sum("_i").alias("n_ips"),
            F.sum("_d").alias("chars_removed"),
            # deepened pin (r12): WHICH docs carried PII — the id
            # checksum of hit-bearing docs catches a regex drift that
            # trades hits between equal-count documents
            F.sum(
                F.when(
                    F.col("_e") + F.col("_p") + F.col("_i") > 0,
                    F.col("doc_id"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("pii_doc_id_sum"),
        )
        .orderBy("source")
    )


PII_REDACTION_ORACLE = r"""
WITH seeded AS (
    SELECT source, doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                   ELSE '' END AS s
    FROM documents
), red AS (
    SELECT source, doc_id, s,
           regexp_replace(
               regexp_replace(
                   regexp_replace(s,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\+\d-\d{3}-\d{4}', '[PHONE]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS r
    FROM seeded
)
SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
       CAST(sum(len(regexp_extract_all(s, '\+\d-\d{3}-\d{4}'))) AS BIGINT) AS n_phones,
       CAST(sum(len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS n_ips,
       CAST(sum(length(s) - length(r)) AS BIGINT) AS chars_removed,
       CAST(sum(CASE WHEN len(regexp_extract_all(s,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(s, '\+\d-\d{3}-\d{4}'))
                   + len(regexp_extract_all(s,
                        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) > 0
                THEN doc_id ELSE 0 END) AS BIGINT) AS pii_doc_id_sum
FROM red GROUP BY 1 ORDER BY source
"""


def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing
    verbatim 8-gram windows with an eval/benchmark set (here: the
    deterministic doc_id % 97 == 0 sample stands in for the benchmark
    corpus). The benchmark's distinct 8-grams are BROADCAST — at
    100 TB the training side streams through one scan + one explode
    with no shuffle of raw text; only the per-doc hit counts (tiny)
    shuffle for the rollup. This is the n-gram-overlap decontamination
    used by standard pretraining pipelines, as a pure DataFrame plan."""
    from ..functions.text import word_shingles

    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    grams = docs.select(
        "doc_id", F.explode(word_shingles("text", 8)).alias("g")
    )
    bench = F.broadcast(
        grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        docs.filter(F.col("doc_id") % 97 != 0)
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_shared").alias("n_contaminated"),
            F.sum(F.coalesce("n_shared", F.lit(0))).alias("total_shared_ngrams"),
            # deepened pins (r11): WHICH docs are contaminated (exact
            # id checksum — two docs swapping contamination status
            # within a source preserves every count above), and the
            # heaviest single-doc overlap (pins per-doc attribution,
            # not just the source total).
            F.sum(
                F.when(F.col("n_shared").isNotNull(), F.col("doc_id"))
            ).alias("contaminated_id_sum"),
            F.max("n_shared").alias("max_shared"),
        )
        .orderBy("source")
    )


DECONTAMINATION_ORACLE = r"""
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 7, 0)),
               i -> array_to_string(w[i:i+7], ' ')))) AS g
    FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
          FROM documents)
), bench AS (
    SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0
), hits AS (
    SELECT s.doc_id, count(*) AS n_shared
    FROM sh s JOIN bench b ON s.g = b.g
    WHERE s.doc_id % 97 <> 0
    GROUP BY 1
)
SELECT d.source AS source, count(*) AS n_docs,
       count(h.n_shared) AS n_contaminated,
       CAST(COALESCE(sum(h.n_shared), 0) AS BIGINT) AS total_shared_ngrams,
       CAST(sum(CASE WHEN h.n_shared IS NOT NULL THEN d.doc_id END)
            AS BIGINT) AS contaminated_id_sum,
       CAST(max(h.n_shared) AS BIGINT) AS max_shared
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 97 <> 0
GROUP BY 1 ORDER BY source
"""


def embedding_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization quality report — the storage-
    compression pass an embedding lake runs before serving (4×
    smaller vectors; this query measures what that costs). Per-vector
    symmetric scale (max|x| / 127), quantize, dequantize, and report
    reconstruction error per label: all JVM higher-order functions
    (transform/aggregate) over the array column — no Python, no
    explode (the per-element work never leaves the row), one scan,
    one tiny rollup shuffle. Elementwise math is done in DOUBLE on
    both engines (the parquet column is fp32) so the oracle replays
    it bit-for-bit; outputs round to 6 decimals."""
    t = load_testdata(spark, sf_dir)
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # epsilon floor keeps an all-zero vector from dividing by zero
    scale = F.greatest(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))),
        F.lit(1e-12),
    ) / F.lit(127.0)
    # floor(x+0.5), not round(): the IEEE-stable cross-engine form —
    # a code flipping at a .5-boundary ulp moves code_checksum by >=1
    deq = F.transform(vec, lambda x: F.floor(x / scale + 0.5) * scale)
    sq_err = F.aggregate(
        F.zip_with(vec, deq, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    max_err = F.aggregate(
        F.zip_with(vec, deq, lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    # deepened pin (r11): the quantized CODES themselves, as an exact
    # integer checksum — every error stat above is rounded to 6
    # decimals, but a code off by one anywhere moves this by ≥1.
    code_sum = F.aggregate(
        F.transform(vec, lambda x: F.floor(x / scale + 0.5)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = t["embeddings"].select(
        "label",
        (sq_err / F.size("embedding")).alias("_mse"),
        max_err.alias("_maxe"),
        scale.alias("_scale"),
        code_sum.alias("_codes"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round6(F.avg("_mse")).alias("avg_mse"),
            round6(F.max("_maxe")).alias("max_abs_err"),
            round6(F.avg("_scale")).alias("avg_scale"),
            F.sum("_codes").cast("bigint").alias("code_checksum"),
        )
        .orderBy("label")
    )


EMBEDDING_QUANT_ORACLE = """
WITH v AS (
    SELECT label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
    FROM embeddings
), s AS (
    SELECT label, vec,
           greatest(list_aggregate(list_transform(vec, x -> abs(x)), 'max'),
                    1e-12) / 127.0 AS scale
    FROM v
), e AS (
    SELECT label, scale,
           list_transform(vec, x -> x - floor(x / scale + 0.5) * scale)
               AS err,
           list_aggregate(list_transform(vec, x -> floor(x / scale + 0.5)),
                          'sum') AS codes
    FROM s
)
SELECT label, count(*) AS n_vecs,
       floor(avg(list_aggregate(list_transform(err, x -> x * x), 'sum')
                 / len(err)) * 1e6 + 0.5) / 1e6 AS avg_mse,
       floor(max(list_aggregate(list_transform(err, x -> abs(x)), 'max'))
             * 1e6 + 0.5) / 1e6 AS max_abs_err,
       floor(avg(scale) * 1e6 + 0.5) / 1e6 AS avg_scale,
       CAST(sum(codes) AS BIGINT) AS code_checksum
FROM e GROUP BY 1 ORDER BY label
"""


def similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall as DATA — the operational gauge the incremental-
    append story (operators/similarity.py append_to_ann_index) says to
    monitor: at 100 TB with centroid drift, recall@k against a
    brute-force spot-check is the number that tells you when to
    re-train. Emits recall@10 for the IVF index at nprobe ∈ {1, 3} and
    the LSH index at max_hamming=3, for two deterministic fixture
    query vectors (vec_id 0 and 1), all against the exact brute-force
    top-10.

    Driver-side set intersection is over k=10-row result sets only
    (same footprint class as the k-means centroid fetch) — in
    production this is a scheduled audit over a small query sample,
    not a data-path operator. The whole audit runs as TWO Spark jobs
    regardless of methods × params × query vectors: one fetch of the
    fixture query vectors, then ONE union of every per-method
    TakeOrdered top-10 branch (brute-force included — it is scored
    once per query vector inside that single job, never recomputed
    per method). The DuckDB oracle replays the whole chain — integer
    k-means, probe selection, stored sketches, recall arithmetic —
    exactly."""
    from functools import reduce

    from ..operators.similarity import (
        brute_force_topk,
        ivf_topk_indexed,
        lsh_topk_indexed,
    )

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    index_df, cents = _ensure_ann_index(spark, sf_dir)
    # job 1: both fixture query vectors in one bounded collect
    qvecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(0, 1))
        .select("vec_id", "embedding")
        .collect()
    }

    def tag(df: DataFrame, method: str, param: int, qid: int) -> DataFrame:
        return df.select(
            F.lit(method).alias("method"),
            F.lit(param).alias("param"),
            F.lit(qid).alias("query_id"),
            "vec_id",
        )

    parts = []
    for qid in (0, 1):
        q = qvecs[qid]
        parts.append(tag(brute_force_topk(emb, q, k=10), "bf", 0, qid))
        for nprobe in (1, 3):
            parts.append(
                tag(
                    ivf_topk_indexed(index_df, q, cents, k=10, nprobe=nprobe),
                    "ivf", nprobe, qid,
                )
            )
        parts.append(
            tag(
                lsh_topk_indexed(index_df, q, k=10, max_hamming=3),
                "lsh", 3, qid,
            )
        )
    # job 2: every top-10 branch in one union — ≤ 8 × k rows collected
    got: dict[tuple[str, int, int], set[int]] = {}
    for r in reduce(DataFrame.unionAll, parts).collect():
        got.setdefault((r.method, r.param, r.query_id), set()).add(r.vec_id)
    rows = []
    for qid in (0, 1):
        bf_ids = got[("bf", 0, qid)]
        # deepened pins (r12): the exact hit count and the hit-id
        # checksum — recall@10 only says HOW MANY of the true top-10
        # the index recovered; the id sum pins WHICH ones, so an index
        # recovering a different-but-same-size subset fails the hash
        for nprobe in (1, 3):
            inter = got.get(("ivf", nprobe, qid), set()) & bf_ids
            rows.append(
                ("ivf", nprobe, qid, round(len(inter) / 10.0, 6),
                 len(inter), sum(inter))
            )
        inter = got.get(("lsh", 3, qid), set()) & bf_ids
        rows.append(
            ("lsh", 3, qid, round(len(inter) / 10.0, 6),
             len(inter), sum(inter))
        )
    return local_frame(
        spark,
        rows,
        "method string, param int, query_id int, recall double, "
        "n_hits int, hit_id_sum bigint",
    ).orderBy("method", "param", "query_id")


def _recall_query_ctes(qid: int) -> str:
    """Per-query-vector CTE chain: exact cosine scores (sc), brute-
    force top-10 (bf), IVF top-10 at nprobe 1 and 3 (ivf{qid}_1/_3 —
    probe clusters from the replayed c2 centroids, candidates from
    assign_all), LSH top-10 at hamming ≤ 3 over the replayed sketches
    (lsh{qid})."""
    ivf = ""
    for nprobe in (1, 3):
        ivf += f""", ivf{qid}_{nprobe} AS (
    SELECT sc.vec_id FROM sc{qid} sc
    JOIN assign_all aa ON sc.vec_id = aa.vec_id
    WHERE aa.c IN (SELECT c FROM (
        SELECT c, row_number() OVER (ORDER BY d, c) AS rn FROM pd{qid})
        WHERE rn <= {nprobe})
    ORDER BY sc.cosine DESC, sc.vec_id ASC LIMIT 10
)"""
    return f"""qv{qid} AS (
    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
    FROM embeddings WHERE vec_id = {qid}
), sc{qid} AS (
    SELECT e.vec_id,
           floor(
             list_sum(list_transform(list_zip(
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qvec),
                 pr -> pr[1] * pr[2]))
             / (sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qvec, x -> x * x))))
             * 1e6 + 0.5) / 1e6 AS cosine
    FROM embeddings e, qv{qid}
), bf{qid} AS (
    SELECT vec_id FROM sc{qid}
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
), qx{qid} AS (
    SELECT i, x FROM xq WHERE vec_id = {qid}
), pd{qid} AS (
    SELECT c.c, sum((q.x - c.x) * (q.x - c.x)) AS d
    FROM qx{qid} q JOIN c2 c USING (i) GROUP BY c.c
){ivf}, lsh{qid} AS (
    SELECT sc.vec_id FROM sc{qid} sc
    JOIN sk s ON sc.vec_id = s.vec_id,
    (SELECT sketch AS qsk FROM sk WHERE vec_id = {qid}) q
    WHERE bit_count(xor(s.sketch, q.qsk)) <= 3
    ORDER BY sc.cosine DESC, sc.vec_id ASC LIMIT 10
)"""


def _recall_rows_sql(qid: int) -> str:
    rows = []
    for nprobe in (1, 3):
        rows.append(
            f"SELECT 'ivf' AS method, {nprobe} AS param, {qid} AS query_id, "
            f"(SELECT count(*) FROM ivf{qid}_{nprobe} JOIN bf{qid} USING (vec_id)) AS cnt, "
            f"(SELECT coalesce(sum(vec_id), 0) FROM ivf{qid}_{nprobe} "
            f"JOIN bf{qid} USING (vec_id)) AS hid"
        )
    rows.append(
        f"SELECT 'lsh' AS method, 3 AS param, {qid} AS query_id, "
        f"(SELECT count(*) FROM lsh{qid} JOIN bf{qid} USING (vec_id)) AS cnt, "
        f"(SELECT coalesce(sum(vec_id), 0) FROM lsh{qid} "
        f"JOIN bf{qid} USING (vec_id)) AS hid"
    )
    return " UNION ALL ".join(rows)


# The shared WITH list: the IVF oracle's k-means/assignment replay,
# the sketch replay (its own "qdim …, sk" chain splices in verbatim),
# then both per-query chains, then the recall arithmetic.
SIMILARITY_RECALL_ORACLE = (
    r"""
WITH xq AS (
    SELECT vec_id, i,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
    FROM (SELECT vec_id, embedding,
                 unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
), samp AS (
    SELECT * FROM xq
    WHERE (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 4) = 0
), init_ids AS (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
    FROM (SELECT DISTINCT vec_id FROM samp ORDER BY vec_id LIMIT 8)
), c0 AS (
    SELECT ii.c, s.i, s.x FROM init_ids ii JOIN samp s USING (vec_id)
), """
    + _kmeans_iter_sql(1, "c0")
    + ", "
    + _kmeans_iter_sql(2, "c1")
    + r""", dall AS (
    SELECT x.vec_id, c.c, sum((x.x - c.x) * (x.x - c.x)) AS d
    FROM xq x JOIN c2 c USING (i) GROUP BY x.vec_id, c.c
), assign_all AS (
    SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM dall) WHERE rn = 1
), """
    + _sketch_cte()
    + ", "
    + _recall_query_ctes(0)
    + ", "
    + _recall_query_ctes(1)
    + f"""
SELECT method, param, query_id, round(cnt / 10.0, 6) AS recall,
       CAST(cnt AS INT) AS n_hits, CAST(hid AS BIGINT) AS hit_id_sum
FROM (
    {_recall_rows_sql(0)} UNION ALL {_recall_rows_sql(1)}
)
ORDER BY method, param, query_id
"""
)


def cluster_aware_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test assignment: near-duplicate
    documents must NEVER straddle a split boundary (a test doc with a
    near-copy in train is benchmark contamination), so the split hash
    is applied to the document's near-dup CLUSTER representative —
    ``coalesce(keeper_id, doc_id)`` — rather than the doc itself.
    Singleton docs keep the plain ``dataset_splits`` behavior; whole
    clusters move between splits atomically, and the assignment stays
    growth-stable for exactly the same reason ``dataset_splits`` is.

    The output pins the guarantee AS DATA: per split, the doc and
    unit populations, the near-dup pairs fully inside the split, and
    the pairs CROSSING out of it — structurally zero, and the oracle
    replays the full chain (simhash → transitive closure → keeper →
    hash split → pair audit), so a clustering or unit-hashing bug
    shows up as a crossing-count or population mismatch.

    Scale shape: clustering cost is the same bounded-iteration CC the
    dedup queries pay; everything after it is a left join of the
    corpus against the duplicate-rate-bounded assignment (AQE
    broadcasts it), a map-only hash, and partial-aggregated rollups.
    The pair audit joins the pair list (bounded by the dup rate)
    against the per-doc split map twice — both AQE-sized."""
    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    # The pair list feeds BOTH the unit hashing (via the cluster
    # assignment) and the final pair audit; both come from the session
    # artifact cache, so this query times the split hash + audit.
    pairs, assign_full = ensure_simhash_artifacts(spark, sf_dir)
    assign = assign_full.select("doc_id", "keeper_id")
    us = (
        docs.select("doc_id")
        .join(assign, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("keeper_id", "doc_id").alias("unit")
        )
        .select("doc_id", "unit", _split_expr(F.col("unit")).alias("split"))
    )
    per_split = us.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("unit").cast("bigint").alias("n_units"),
    )
    ps = pairs.join(
        us.select(
            F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
        ),
        "id_a",
    ).join(
        us.select(
            F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
        ),
        "id_b",
    )
    inside = (
        ps.filter(F.col("split_a") == F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inside_pairs"))
    )
    crossing = (
        ps.filter(F.col("split_a") != F.col("split_b"))
        .select(F.col("split_a").alias("split"))
        .unionAll(
            ps.filter(F.col("split_a") != F.col("split_b")).select(
                F.col("split_b").alias("split")
            )
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_crossing_pairs"))
    )
    return (
        per_split.join(inside, "split", "left")
        .join(crossing, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_units",
            F.coalesce("n_inside_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_inside_pairs"),
            F.coalesce("n_crossing_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_crossing_pairs"),
        )
        .orderBy("split")
    )


CLUSTER_SPLITS_ORACLE = (
    "WITH RECURSIVE "
    + _SIMHASH_CTES
    + ", "
    + _CLOSURE_CTES
    + """, units AS (
    SELECT d.doc_id, COALESCE(l.keeper_id, d.doc_id) AS unit
    FROM documents d LEFT JOIN lab l USING (doc_id)
), us AS (
    SELECT doc_id, unit,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, unit,
                 (('0x' || substr(md5(unit::VARCHAR), 1, 15))::UBIGINT
                    % 100) AS b
          FROM units)
), per_split AS (
    SELECT split, count(*) AS n_docs, count(DISTINCT unit) AS n_units
    FROM us GROUP BY 1
), hp AS (
    SELECT id_a, id_b FROM ham_pairs WHERE """ + _HAM_PRED + r"""
), ps AS (
    SELECT a.split AS sa, b.split AS sb
    FROM hp JOIN us a ON a.doc_id = hp.id_a
            JOIN us b ON b.doc_id = hp.id_b
), inside AS (
    SELECT sa AS split, count(*) AS n_inside FROM ps
    WHERE sa = sb GROUP BY 1
), crossing AS (
    SELECT split, count(*) AS n_crossing FROM (
        SELECT sa AS split FROM ps WHERE sa <> sb
        UNION ALL
        SELECT sb FROM ps WHERE sa <> sb
    ) GROUP BY 1
)
SELECT p.split,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.n_units AS BIGINT) AS n_units,
       CAST(COALESCE(i.n_inside, 0) AS BIGINT) AS n_inside_pairs,
       CAST(COALESCE(c.n_crossing, 0) AS BIGINT) AS n_crossing_pairs
FROM per_split p
LEFT JOIN inside i USING (split)
LEFT JOIN crossing c USING (split)
ORDER BY p.split
"""
)


def multimodal_phash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection via perceptual average-hash
    (operators/multimodal.ahash_ppm) — the multimodal twin of the text
    dedup stack: every document's P6 image is decoded and hashed in
    one Arrow mapInPandas pass (bytes never cross a shuffle; only the
    64-char hash does), then exact-grouped into duplicate classes and
    summarized as a class-size histogram.

    The synthetic corpus makes the check sharp: pixel channels are
    periodic in doc_id mod 256, so ids 256 apart render IDENTICAL
    images — real duplicate structure (classes of ~20 at sf0.01) that
    byte-level md5 of the documents' TEXT cannot see. The oracle
    replays the whole chain (pixel formula → nearest downsample →
    integer cross-multiplied mean threshold → row-major bit string →
    class histogram), so the hash itself is value-checked, not just
    the counts."""
    from ..operators.multimodal import ppm_ahash, synthesize_ppm_corpus

    t = load_testdata(spark, sf_dir)
    ids = t["documents"].select(F.col("doc_id").alias("media_id"))
    hashes = ppm_ahash(synthesize_ppm_corpus(ids))
    classes = hashes.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    hist = classes.groupBy("class_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_images"),
    )
    # deepened pin (r11): WHICH images sit in classes of each size —
    # an id checksum over the class members. Two images swapped
    # between same-size classes (a hash bit flipped symmetrically)
    # keep the histogram intact but not the checksum.
    members = (
        hashes.join(classes, "ahash")
        .groupBy("class_size")
        .agg(F.sum("media_id").alias("member_id_sum"))
    )
    return hist.join(members, "class_size").orderBy("class_size")


MULTIMODAL_PHASH_ORACLE = """
WITH g AS (
    SELECT x.x, y.y, 2 * x.x AS sx, (3 * y.y) // 2 AS sy
    FROM generate_series(0, 7) x(x) CROSS JOIN generate_series(0, 7) y(y)
), lum AS (
    SELECT d.doc_id, g.y, g.x,
           ((d.doc_id + g.sx + g.sy) % 256)
             + ((d.doc_id * 3 + g.sx) % 256)
             + ((d.doc_id * 7 + g.sy) % 256) AS l
    FROM documents d CROSS JOIN g
), tot AS (
    SELECT doc_id, sum(l) AS t FROM lum GROUP BY 1
), bits AS (
    SELECT lum.doc_id,
           string_agg(CASE WHEN lum.l * 64 > tot.t THEN '1' ELSE '0' END,
                      '' ORDER BY lum.y, lum.x) AS ahash
    FROM lum JOIN tot USING (doc_id) GROUP BY lum.doc_id
), cls AS (
    SELECT ahash, count(*) AS class_size FROM bits GROUP BY 1
), hist AS (
    SELECT CAST(class_size AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_images
    FROM cls GROUP BY class_size
), members AS (
    SELECT CAST(c.class_size AS BIGINT) AS class_size,
           CAST(sum(b.doc_id) AS BIGINT) AS member_id_sum
    FROM bits b JOIN cls c USING (ahash)
    GROUP BY 1
)
SELECT h.class_size, h.n_classes, h.n_images, m.member_id_sum
FROM hist h JOIN members m USING (class_size)
ORDER BY class_size
"""


def quality_percentile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank calibration of a quality score — the
    scale-first formulation. The naive ``percent_rank() OVER (ORDER BY
    score)`` is a GLOBAL sort: one task owns the whole corpus at
    100 TB. Instead: (1) one partial-aggregated shuffle builds an
    integer-binned histogram (bin = score DIV 8 — metadata-scale,
    ~64 bins for this score range); (2) the CDF is a window over the
    BIN table (64 rows — the single-task sort happens on metadata,
    not data); (3) the bin→decile map broadcasts back onto the corpus
    as a map-only assignment, ``decile = cum_before·10 DIV total`` in
    exact integer arithmetic. Granularity is the bin width — the
    documented trade for never sorting the corpus — and the oracle
    replays the identical binning, so the output is value-exact."""
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir)
    # NULL scores are excluded EXPLICITLY: an unfiltered NULL bin
    # would sort NULLS FIRST in Spark's window but NULLS LAST in the
    # oracle's, shifting every decile on one side only
    d = (
        t["documents"]
        .filter(F.col("n_chars").isNotNull())
        .select(
            "doc_id",
            F.col("n_chars").alias("score"),
            F.expr("n_chars DIV 8").alias("bin"),
        )
    )
    hist = d.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy(F.lit(1))
    decile_map = (
        hist.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(wb), F.lit(0))
        )
        .withColumn("total", F.sum("cnt").over(wt))
        .select(
            "bin",
            F.expr("CAST(cum_before * 10 DIV total AS INT)").alias(
                "decile"
            ),
        )
    )
    return (
        d.join(F.broadcast(decile_map), "bin")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
            # deepened pin (r11): decile MEMBERSHIP — equal-score docs
            # swapped across a decile edge keep counts and min/max;
            # the id checksum pins the exact assignment.
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .orderBy("decile")
    )


PERCENTILE_CALIBRATION_ORACLE = """
WITH d AS (
    SELECT doc_id, n_chars AS score, n_chars // 8 AS bin
    FROM documents WHERE n_chars IS NOT NULL
), h AS (
    SELECT bin, count(*) AS cnt FROM d GROUP BY 1
), c AS (
    SELECT bin, cnt,
           COALESCE(sum(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before,
           sum(cnt) OVER () AS total
    FROM h
), m AS (
    SELECT bin, CAST((cum_before * 10) // total AS INT) AS decile FROM c
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM d JOIN m USING (bin)
GROUP BY decile ORDER BY decile
"""


def pagerank_doc_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the simhash near-dup pair graph — the
    'keep the most corroborated document per cluster' alternative to
    min-id canonical selection, and the registry's representative
    BOUNDED-ITERATION GRAPH ALGORITHM beyond connected components
    (see ``operators/graph.py`` for the per-round shuffle/checkpoint
    discipline that survives a 100 TB edge list).

    Correctness: 3 fixed rounds, damping 0.85, replayed by the DuckDB
    oracle as three CHAINED aggregation CTEs over the identical edge
    set (standard SQL forbids aggregates in a recursive term, so the
    unrolled form IS the portable formulation). All constants enter
    both engines as IEEE doubles via explicit casts; per-vertex sums
    accumulate ~tens of terms, so cross-engine summation-order drift
    is bounded well under the 1e-6 rounding grain."""
    from ..operators.graph import pagerank

    pairs, _ = ensure_simhash_artifacts(spark, sf_dir)
    ranks = pagerank(pairs, iterations=3, damping=0.85)
    return ranks.select(
        F.col("id").alias("doc_id"), round6("rank").alias("pr_rank")
    ).orderBy("doc_id")


PAGERANK_ORACLE = (
    "WITH "
    + _SIMHASH_CTES
    + """, edges AS (
    SELECT id_a AS src, id_b AS dst FROM ham_pairs WHERE """ + _HAM_PRED + r"""
    UNION
    SELECT id_b, id_a FROM ham_pairs WHERE """ + _HAM_PRED + r"""
), deg AS (
    SELECT src, count(*) AS out_deg FROM edges GROUP BY 1
), nv AS (
    SELECT CAST(count(*) AS BIGINT) AS n FROM deg
), r0 AS (
    SELECT src AS id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nv) AS rank
    FROM deg
), r1 AS (
    SELECT e.dst AS id,
           (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nv)
             + CAST(0.85 AS DOUBLE) * sum(r.rank / d.out_deg) AS rank
    FROM edges e JOIN r0 r ON r.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
), r2 AS (
    SELECT e.dst AS id,
           (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nv)
             + CAST(0.85 AS DOUBLE) * sum(r.rank / d.out_deg) AS rank
    FROM edges e JOIN r1 r ON r.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
), r3 AS (
    SELECT e.dst AS id,
           (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nv)
             + CAST(0.85 AS DOUBLE) * sum(r.rank / d.out_deg) AS rank
    FROM edges e JOIN r2 r ON r.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
)
SELECT id AS doc_id, floor(rank * 1e6 + 0.5) / 1e6 AS pr_rank
FROM r3 ORDER BY doc_id
"""
)


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sampling: keep each document
    with probability proportional to a quality weight (here
    ``least(n_chars, 500)/500`` — longer docs are likelier kept), the
    quality-aware downsampling step between filtering and training.

    Scale shape: a MAP-ONLY pass — the keep decision is a pure
    function of (doc_id, n_chars), so the operator repartitions
    nothing, broadcasts nothing, and composes with any upstream
    filter pushdown. Determinism across engines AND across reruns:
    the uniform draw is the first 8 hex digits of md5(doc_id) and the
    keep test is cross-multiplied to INTEGER arithmetic
    (``u * 500 < least(n_chars,500) * 2^32``) — no float compare
    anywhere near the decision boundary. The expected keep count is
    an exact integer sum divided once at the end."""
    t = load_testdata(spark, sf_dir)
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    wcap = F.least(F.col("n_chars"), F.lit(500))
    kept = (u * 500) < (wcap * F.lit(4294967296))
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sampled"),
            (
                F.floor(
                    F.sum(wcap).cast("double") / F.lit(500.0) * 1e2
                    + F.lit(0.5)
                )
                / 1e2
            ).alias("expected_sampled"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("sampled_chars"),
            # deepened pin (r11): WHO was kept — two equal-length docs
            # swapped across the keep boundary preserve n_sampled and
            # sampled_chars; the id checksum they can't.
            F.sum(F.when(kept, F.col("doc_id"))).alias("sampled_id_sum"),
        )
        .orderBy("lang")
    )


WEIGHTED_SAMPLE_ORACLE = """
WITH scored AS (
    SELECT lang, n_chars, doc_id,
           LEAST(n_chars, 500) AS wcap,
           CAST(('0x' || md5(CAST(doc_id AS VARCHAR))[1:8]) AS BIGINT)
               AS u
    FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN u * 500 < wcap * 4294967296 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sampled,
       floor(CAST(sum(wcap) AS DOUBLE) / 500.0 * 1e2 + 0.5) / 1e2
           AS expected_sampled,
       CAST(sum(CASE WHEN u * 500 < wcap * 4294967296 THEN n_chars
                     ELSE 0 END) AS BIGINT) AS sampled_chars,
       CAST(sum(CASE WHEN u * 500 < wcap * 4294967296 THEN doc_id END)
            AS BIGINT) AS sampled_id_sum
FROM scored GROUP BY lang ORDER BY lang
"""


def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.
    incremental_minhash_dedup): documents with ``doc_id % 10 == 0``
    play the incoming batch, the rest the live corpus index; each new
    doc's minhash band buckets are probed against the index's — an
    equi-join on (band, bucket), O(batch) fingerprinting — and bucket
    collisions are verified with exact shingle Jaccard. The oracle
    replays the full two-sided pipeline, which pins the central
    invariant: probing an index built by the SAME banding finds
    exactly the cross-pairs the full self-join dedup would."""
    from ..operators.dedup import incremental_minhash_dedup

    t = load_testdata(spark, sf_dir)
    d = t["documents"]
    batch = d.filter(F.col("doc_id") % 10 == 0)
    index = d.filter(F.col("doc_id") % 10 != 0)
    return incremental_minhash_dedup(index, batch).orderBy("new_id", "index_id")


INCREMENTAL_DEDUP_ORACLE = r"""
WITH base AS (
    SELECT doc_id AS id,
           list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
    FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
          FROM documents)
    WHERE len(w) >= 3
), sig AS (
    SELECT id, sh, """ + minhash_signature_sql("sh") + r""" AS sig
    FROM base
), banded AS (
    SELECT id, sh, sig, b.band AS band,
           md5(array_to_string(sig[b.band*3+1 : b.band*3+3], '|')) AS bucket
    FROM sig, (SELECT unnest(generate_series(0, 7)) AS band) b
), banded_b AS (
    SELECT * FROM banded WHERE id % 10 = 0
), banded_i AS (
    SELECT * FROM banded WHERE id % 10 <> 0
), capped_i AS (
    SELECT * FROM banded_i
    WHERE (band, bucket) IN (
        SELECT (band, bucket) FROM banded_i GROUP BY band, bucket
        HAVING count(*) <= 50)
), cand AS (
    SELECT DISTINCT a.id AS new_id, b.id AS index_id,
           a.sh AS sh_a, b.sh AS sh_b, a.sig AS sig_a, b.sig AS sig_b
    FROM banded_b a JOIN capped_i b
      ON a.band = b.band AND a.bucket = b.bucket
)
SELECT new_id, index_id,
       floor(len(list_filter(list_zip(sig_a, sig_b), x -> x[1] = x[2])) / 24.0
             * 1e6 + 0.5) / 1e6 AS est_jaccard,
       floor(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(sh_a || sh_b)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM cand
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      / len(list_distinct(sh_a || sh_b)) >= 0.5
ORDER BY new_id, index_id
"""


def doc_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per language in power-of-two buckets —
    the length-distribution profile every pretraining mix decision
    starts from (context-window fit, truncation rate, packing
    efficiency). Bucketing is pure integer logic (``length(bin(n))-1``
    = floor(log2) with no float log that could straddle a power-of-two
    boundary differently per engine), so the whole query is one
    map-side expression + a partial-aggregated rollup: no join, no
    window, nothing that grows with corpus size except the scan."""
    t = load_testdata(spark, sf_dir)
    toks = token_count("text")
    bucket = (F.length(F.bin(toks.cast("bigint"))) - 1).cast("int")
    return (
        t["documents"]
        .select(
            F.col("lang"),
            bucket.alias("log2_bucket"),
            toks.alias("_n"),
            "doc_id",
        )
        .groupBy("lang", "log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("_n").cast("bigint").alias("min_tokens"),
            F.max("_n").cast("bigint").alias("max_tokens"),
            # deepened pin (r11): bucket MEMBERSHIP — a doc bucketed
            # off-by-one at a power-of-two edge moves between adjacent
            # buckets; interior swaps keep counts and min/max intact,
            # the id checksum never does.
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .withColumn(
            "bucket_lo", F.pow(F.lit(2.0), F.col("log2_bucket")).cast("bigint")
        )
        .orderBy("lang", "log2_bucket")
    )


DOC_TOKEN_HISTOGRAM_ORACLE = r"""
WITH d AS (
    SELECT lang, doc_id,
           len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS n_tokens
    FROM documents
), b AS (
    SELECT lang, doc_id, n_tokens,
           CAST(length(bin(n_tokens)) - 1 AS INTEGER) AS log2_bucket
    FROM d
)
SELECT lang, log2_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
       CAST(power(2.0, log2_bucket) AS BIGINT) AS bucket_lo
FROM b GROUP BY lang, log2_bucket ORDER BY lang, log2_bucket
"""


def zipf_fit_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus term-frequency distribution: OLS
    slope/intercept of ln(freq) against ln(rank) for the top-100
    terms — the one-number summary of vocabulary naturalness
    (natural-language corpora sit near slope ≈ −1; machine-generated
    or template text drifts flat). Frequencies and ranks are exact
    integers; only the final regression runs in floats, over ≤100
    rows coalesced into one ordered partition so the accumulation
    order is deterministic, then rounded to 4 decimals (measured
    cross-engine agreement margin ~1e-12).

    Scale shape: the top-100 selection is ``orderBy().limit(100)`` —
    TakeOrderedAndProject (per-partition heaps + driver merge), NOT a
    rank window over the full vocabulary, which would sort every
    term of a 100 TB corpus in one task. The rank window runs AFTER
    the limit, over exactly 100 rows."""
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir)
    freq = (
        t["documents"]
        .select(F.explode(tokenize("text")).alias("term"))
        .filter(F.col("term").rlike("^[a-z]{2,}$"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    top = freq.orderBy(F.col("freq").desc(), F.col("term")).limit(100)
    w = Window.orderBy(F.col("freq").desc(), F.col("term"))
    ranked = (
        top.coalesce(1)
        .withColumn("rank", F.row_number().over(w))
        .sortWithinPartitions("rank")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        (
            F.floor(
                F.expr("regr_slope(ln(freq), ln(rank))") * 1e4 + F.lit(0.5)
            )
            / 1e4
        ).alias("zipf_slope"),
        (
            F.floor(
                F.expr("regr_intercept(ln(freq), ln(rank))") * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("zipf_intercept"),
        # rank is unique, so rank-1's term is the deterministic head
        F.expr("min_by(term, rank)").alias("top_term"),
        F.max("freq").alias("top_freq"),
        # deepened pin (r12): the exact mass of the selected top-100 —
        # a wrong TakeOrdered cut (off-by-one, tie mishandled) moves
        # this integer even when the regression floats barely budge
        F.sum("freq").cast("bigint").alias("top100_freq_sum"),
        # and a rank-weighted checksum pins the ORDER of the whole
        # ranked list, not just its head
        F.sum(F.col("rank") * F.col("freq")).cast("bigint").alias(
            "rank_weighted_sum"
        ),
    )


ZIPF_FIT_ORACLE = r"""
WITH terms AS (
    SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
               AS term
    FROM documents
), freq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS freq FROM terms
    WHERE regexp_matches(term, '^[a-z]{2,}$') GROUP BY term
), ranked AS (
    SELECT term, freq,
           row_number() OVER (ORDER BY freq DESC, term) AS rank
    FROM freq QUALIFY rank <= 100
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       floor(regr_slope(ln(freq), ln(rank)) * 1e4 + 0.5) / 1e4
           AS zipf_slope,
       floor(regr_intercept(ln(freq), ln(rank)) * 1e4 + 0.5) / 1e4
           AS zipf_intercept,
       arg_min(term, rank) AS top_term,
       max(freq) AS top_freq,
       CAST(sum(freq) AS BIGINT) AS top100_freq_sum,
       CAST(sum(rank * freq) AS BIGINT) AS rank_weighted_sum
FROM ranked
"""


def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over term co-occurrence — the
    classic collocation/association score (phrase mining, topic
    seeds): for the top-40 vocabulary terms by document frequency,
    PMI = ln(P(a,b) / (P(a)·P(b))) with probabilities over documents,
    for pairs co-occurring in ≥5 docs, top-20 by PMI.

    Scale shape (r18, guide §2.1/§5.3): the quadratic step is
    generated PER DOCUMENT from its vocab-restricted DISTINCT term
    set — fan-out is bounded by |vocab|²/2 per doc (≤780 here), never
    corpus². The r17 plan re-expanded the tokenize+vocab subtrees
    into every reference (the vocab-token table fed a doc_id
    self-join, and the top-40 vocabulary was itself a full
    tokenize+groupBy recomputed per broadcast — up to four tokenize
    passes over the corpus per run). Now the vocabulary is resolved
    once as a bounded 40-row collect (the bloom_build precedent:
    metadata-scale driver state embedded in the plan), each doc's
    vocab tokens come from ONE tokenize pass (array_intersect against
    the vocab literal, exploded and eagerly localCheckpoint'd —
    vocab-tokens are a tiny fraction of the corpus), and the pair
    self-join runs over that materialized frame: two tokenize passes
    total (vocab job + vocab-token job), zero corpus re-reads in the
    executed plan. (A fully narrow per-row pair generator — nested
    ``transform`` over the sorted term array — was measured ~35%
    SLOWER than the self-join at bench SF: higher-order functions run
    interpreted, the hash self-join is codegen'd. Evidence kept per
    guide §1.1.) The pair rollup is partial-aggregated; the final
    top-20 is a TakeOrdered, not a global sort. PMI is a single log
    of an exact-integer ratio — deterministic in both engines."""
    t = load_testdata(spark, sf_dir)
    d = t["documents"]
    n_docs = d.count()  # one scalar job; embedded as a literal
    toks = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(tokenize("text"))).alias("term"),
        )
        .filter(F.col("term").rlike("^[a-z]{4,}$"))
    )
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # top-40 by (df desc, term) — the SAME frame as before, resolved
    # eagerly: 40 rows of driver state, identical selection semantics
    vocab_rows = dfreq.orderBy(F.col("df").desc(), "term").limit(40).collect()
    vocab_terms = [r.term for r in vocab_rows]
    # per-doc vocab tokens in one pass: intersect the distinct token
    # set with the vocab literal (every vocab term already matches the
    # ^[a-z]{4,}$ gate, so the intersect subsumes the rlike filter),
    # explode, materialize — the multiset equals the r17 broadcast
    # join of toks against the vocab by construction
    vt = materialize(
        d.select(
            "doc_id",
            F.explode(
                F.array_intersect(
                    F.array_distinct(tokenize("text")), F.lit(vocab_terms)
                )
            ).alias("term"),
        ),
        "cooccurrence_pmi: vocab tokens",
    )
    co = (
        vt.select("doc_id", F.col("term").alias("term_a"))
        .join(
            vt.select("doc_id", F.col("term").alias("term_b")), "doc_id"
        )
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    vocab_local = local_frame(
        spark,
        [(r.term, int(r.df)) for r in vocab_rows], "term string, df bigint"
    )
    joined = co.join(
        F.broadcast(
            vocab_local.select(
                F.col("term").alias("term_a"), F.col("df").alias("c_a")
            )
        ),
        "term_a",
    ).join(
        F.broadcast(
            vocab_local.select(
                F.col("term").alias("term_b"), F.col("df").alias("c_b")
            )
        ),
        "term_b",
    )
    pmi = round6(
        F.log(
            F.col("c_ab").cast("double")
            * F.lit(float(n_docs))
            / (F.col("c_a") * F.col("c_b"))
        )
    )
    return (
        joined.select(
            "term_a",
            "term_b",
            "c_ab",
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(20)
    )


COOCCURRENCE_PMI_ORACLE = r"""
WITH toks AS (
    SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
                   AS term
        FROM documents)
    WHERE regexp_matches(term, '^[a-z]{4,}$')
), dfreq AS (
    SELECT term, count(*) AS df FROM toks GROUP BY term
), vocab AS (
    SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 40
), vt AS (
    SELECT doc_id, term FROM toks WHERE term IN (SELECT term FROM vocab)
), co AS (
    SELECT a.term AS term_a, b.term AS term_b,
           CAST(count(*) AS BIGINT) AS c_ab
    FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2 HAVING count(*) >= 5
), n AS (SELECT count(*) AS nd FROM documents)
SELECT term_a, term_b, c_ab,
       CAST(va.df AS BIGINT) AS c_a, CAST(vb.df AS BIGINT) AS c_b,
       floor(ln(CAST(c_ab AS DOUBLE) * nd / (va.df * vb.df))
             * 1e6 + 0.5) / 1e6 AS pmi
FROM co
JOIN vocab va ON va.term = co.term_a
JOIN vocab vb ON vb.term = co.term_b, n
ORDER BY pmi DESC, term_a, term_b LIMIT 20
"""


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA gate — the checks an ANN/retrieval pipeline
    runs before (re)building an index, since every downstream cosine
    assumes them: per label, vector count, dimensionality violations,
    non-unit norms (‖v‖ off 1.0 by >1e-3 — cosine degrades to dot
    product silently if normalization drifted), non-finite components,
    and the exact component value range. One scan, all aggregates
    JVM higher-order expressions folded in a single partial+final
    pass; every output is an exact count or an exact float min/max —
    no cross-row float summation to diverge between engines."""
    t = load_testdata(spark, sf_dir)
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    nonfinite = F.exists(
        vec, lambda x: F.isnan(x) | (F.abs(x) > F.lit(1e308))
    )
    return (
        t["embeddings"]
        .select(
            "label",
            "vec_id",
            F.size("embedding").alias("_dim"),
            norm.alias("_norm"),
            nonfinite.cast("int").alias("_bad"),
            F.array_min("embedding").cast("double").alias("_lo"),
            F.array_max("embedding").cast("double").alias("_hi"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum((F.col("_dim") != 64).cast("int"))
            .cast("bigint")
            .alias("n_wrong_dim"),
            F.sum((F.abs(F.col("_norm") - 1.0) > 1e-3).cast("int"))
            .cast("bigint")
            .alias("n_nonunit"),
            F.sum("_bad").cast("bigint").alias("n_nonfinite"),
            round6(F.min("_lo")).alias("min_val"),
            round6(F.max("_hi")).alias("max_val"),
            # deepened pins (r12): label-group membership and the
            # exact violator SET — the audit's counters alone let two
            # vectors trade places between labels, and "3 non-unit
            # vectors" says nothing about WHICH three.
            F.sum("vec_id").cast("bigint").alias("vec_id_sum"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("_norm") - 1.0) > 1e-3, F.col("vec_id")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("nonunit_id_sum"),
        )
        .orderBy("label")
    )


EMBEDDING_NORM_AUDIT_ORACLE = """
WITH v AS (
    SELECT label, vec_id,
           len(embedding) AS dim,
           sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
           CASE WHEN len(list_filter(embedding,
                x -> isnan(x) OR abs(CAST(x AS DOUBLE)) > 1e308)) > 0
                THEN 1 ELSE 0 END AS bad,
           CAST(list_min(embedding) AS DOUBLE) AS lo,
           CAST(list_max(embedding) AS DOUBLE) AS hi
    FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_wrong_dim,
       CAST(sum(CASE WHEN abs(nrm - 1.0) > 0.001 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nonunit,
       CAST(sum(bad) AS BIGINT) AS n_nonfinite,
       floor(min(lo) * 1e6 + 0.5) / 1e6 AS min_val,
       floor(max(hi) * 1e6 + 0.5) / 1e6 AS max_val,
       CAST(sum(vec_id) AS BIGINT) AS vec_id_sum,
       CAST(coalesce(sum(CASE WHEN abs(nrm - 1.0) > 0.001
                              THEN vec_id END), 0) AS BIGINT)
           AS nonunit_id_sum
FROM v GROUP BY label ORDER BY label
"""


def register_all() -> None:
    from .registry import register

    register("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE)
    register(
        "incremental_dedup_new_batch",
        incremental_dedup_new_batch,
        INCREMENTAL_DEDUP_ORACLE,
    )
    register("doc_token_histogram", doc_token_histogram, DOC_TOKEN_HISTOGRAM_ORACLE)
    register("zipf_fit_terms", zipf_fit_terms, ZIPF_FIT_ORACLE)
    register("cooccurrence_pmi", cooccurrence_pmi, COOCCURRENCE_PMI_ORACLE)
    register(
        "embedding_norm_audit", embedding_norm_audit, EMBEDDING_NORM_AUDIT_ORACLE
    )
    register("dedup_minhash_pairs", dedup_minhash_pairs, DEDUP_MINHASH_ORACLE)
    register("dedup_simhash_pairs", dedup_simhash_pairs, DEDUP_SIMHASH_ORACLE)
    register("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_ORACLE)
    register("dedup_embedding_pairs", dedup_embedding_pairs, DEDUP_EMBEDDING_ORACLE)
    register(
        "similarity_bruteforce_topk",
        similarity_bruteforce_topk,
        SIMILARITY_BRUTEFORCE_ORACLE,
    )
    register("similarity_lsh_topk", similarity_lsh_topk, SIMILARITY_LSH_ORACLE)
    register("similarity_ivf_topk", similarity_ivf_topk, SIMILARITY_IVF_ORACLE)
    register("similarity_knn_join", similarity_knn_join, SIMILARITY_KNN_JOIN_ORACLE)
    register(
        "similarity_recall_report",
        similarity_recall_report,
        SIMILARITY_RECALL_ORACLE,
    )
    register("text_stats", text_stats, TEXT_STATS_ORACLE)
    register("doc_repetition_stats", doc_repetition_stats, DOC_REPETITION_ORACLE)
    register("token_packing_bins", token_packing_bins, TOKEN_PACKING_ORACLE)
    register(
        "unigram_logprob_scores", unigram_logprob_scores, UNIGRAM_LOGPROB_ORACLE
    )
    register("text_boilerplate_stats", text_boilerplate_stats, BOILERPLATE_ORACLE)
    register("tfidf_top_terms", tfidf_top_terms, TFIDF_ORACLE)
    register("lang_id_eval", lang_id_eval, LANG_ID_ORACLE)
    register(
        "pretrain_quality_filter", pretrain_quality_filter, PRETRAIN_FILTER_ORACLE
    )
    register("doc_chunks", doc_chunks, DOC_CHUNKS_ORACLE)
    register("stratified_doc_sample", stratified_doc_sample, STRATIFIED_SAMPLE_ORACLE)
    register("multimodal_features", multimodal_features, MULTIMODAL_ORACLE)
    register(
        "multimodal_wav_features", multimodal_wav_features, MULTIMODAL_WAV_ORACLE
    )
    register(
        "multimodal_ppm_features", multimodal_ppm_features, MULTIMODAL_PPM_ORACLE
    )
    register(
        "multimodal_resize_features",
        multimodal_resize_features,
        MULTIMODAL_RESIZE_ORACLE,
    )
    register(
        "multimodal_video_frames", multimodal_video_frames, MULTIMODAL_VIDEO_ORACLE
    )
    register("dedup_clusters", dedup_clusters, DEDUP_CLUSTERS_ORACLE)
    register(
        "dedup_canonical_corpus",
        dedup_canonical_corpus,
        DEDUP_CANONICAL_ORACLE,
    )
    register("dataset_splits", dataset_splits, DATASET_SPLITS_ORACLE)
    register(
        "source_capped_sample", source_capped_sample, SOURCE_CAPPED_ORACLE
    )
    register(
        "corpus_mixture_weights",
        corpus_mixture_weights,
        CORPUS_MIXTURE_ORACLE,
    )
    register(
        "embedding_quantization_stats",
        embedding_quantization_stats,
        EMBEDDING_QUANT_ORACLE,
    )
    register("pii_redaction_stats", pii_redaction_stats, PII_REDACTION_ORACLE)
    register(
        "decontamination_overlap", decontamination_overlap, DECONTAMINATION_ORACLE
    )
    register("udf_text_density", udf_text_density, UDF_DENSITY_ORACLE)
    register("udaf_lang_stats", udaf_lang_stats, UDAF_LANG_STATS_ORACLE)
    register("udtf_top_ngrams", udtf_top_ngrams, UDTF_NGRAMS_ORACLE)
    register("pagerank_doc_ranks", pagerank_doc_ranks, PAGERANK_ORACLE)
    register("weighted_doc_sample", weighted_doc_sample, WEIGHTED_SAMPLE_ORACLE)
    register("cluster_aware_splits", cluster_aware_splits, CLUSTER_SPLITS_ORACLE)
    register(
        "multimodal_phash_dupes", multimodal_phash_dupes, MULTIMODAL_PHASH_ORACLE
    )
    register(
        "quality_percentile_calibration",
        quality_percentile_calibration,
        PERCENTILE_CALIBRATION_ORACLE,
    )
