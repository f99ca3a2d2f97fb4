"""Similarity search over embedding columns (``array<float>``).

Two tiers, matching the build target's scale story:

- :func:`brute_force_topk` — exact cosine top-k against one query
  vector. Linear scan, JVM-side arithmetic, TakeOrdered top-k: the
  correct baseline at any scale where a full pass is affordable, and
  the verification oracle for the ANN path.
- :func:`lsh_topk` — approximate top-k: random-hyperplane sign
  sketch (shared with ``embedding_cosine_dupes``) prunes the scan to
  buckets within a hamming radius of the query's sketch, then exact
  cosine re-ranks survivors. At 1000 executors the bucket filter is a
  partition-pruned scan, not a broadcast nested loop.

All vector math is built-in higher-order functions (zip_with /
aggregate) — Arrow/pandas never enters the hot path for 64-dim
vectors; a Pandas-UDF BLAS path only pays off at ≥ O(1k) dims.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import let, round6


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with+aggregate (strict left-to-right sum —
    deterministic and reproducible across engines)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_to_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine with a zero-norm guard (r13): a zero vector has no
    direction, so its cosine is NULL — NOT NaN. Unguarded, 0/0 yields
    NaN, and Spark sorts NaN ABOVE every real double, so one all-zeros
    embedding in the corpus would rank FIRST in every descending
    top-k. NULL sorts last under desc (nulls-last default), i.e. below
    every defined score — a zero vector can only surface when there
    are fewer than k defined candidates.

    Non-finite guard (r14): vectors carrying NaN/±Inf components (the
    corruption embedding_norm_audit counts in ``n_nonfinite``) make
    the ratio NaN by a different route — Spark treats NaN as GREATER
    than any value, so ``den > 0`` passes and the NaN score again
    tops every descending top-k. A NaN result is as directionless as
    a zero vector: NULL, sorts last. Matches cosine_pairs_vectorized,
    whose numpy path already converts non-finite results to NULL."""
    den = l2_norm(a) * l2_norm(b)
    r = dot(a, b) / den
    return F.when((den > 0) & ~F.isnan(r), r)


def _scored_cosine(
    a: Column, b: Column, norm_a: Column, norm_b: Column
) -> Column:
    """``round6(cosine_similarity(a, b))`` with precomputed norms and
    every heavy subexpression bound exactly once per row.

    The naive composition evaluates the 64-element folds up to SIX
    times per row: ``round6`` references its argument three times
    (isnan probe, |x| probe, floor branch) and the cosine's own NaN
    guard references the ratio twice — with no CSE across
    higher-order functions every reference re-executes the dot and
    both norms (confirmed in the executed bruteforce plan: the
    query-literal's norm aggregate is NOT even constant-folded).
    Here: den once, dot once, ratio once, then round6's three
    references read a bound scalar.

    BIT-IDENTICAL to ``round6(cosine_similarity(...))`` by
    construction — same ops on the same operands in the same order
    (den = norm_a * norm_b in the inline's l2(a)*l2(b) order; the
    division stays INSIDE the short-circuited ``den > 0`` guard, or
    ANSI raises DIVIDE_BY_ZERO on zero-norm vectors); pinned by
    ``test_topk_join_hoisted_norms_bit_identical`` and the
    ``_query_score`` memoization pins."""
    return let(
        norm_a * norm_b,
        lambda dn: let(
            dot(a, b),
            lambda d: let(
                F.when((dn > 0) & ~F.isnan(d / dn), d / dn), round6
            ),
        ),
    )


def cosine_pairs_vectorized(a: Column, b: Column) -> Column:
    """Cosine between two vector columns as a vectorized Pandas UDF —
    the verification path for LSH candidate PAIRS, where per-row
    expression evaluation (interpreted, not codegen) dominates once
    candidates number in the tens of thousands. One stacked numpy
    einsum per Arrow batch."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        # NULL on either side -> NULL cosine (np.vstack over a Series
        # containing None raises and would kill the task); zero-norm
        # vectors also -> NULL, matching cosine_similarity's guard
        # (NaN would sort above every real score in a desc top-k).
        # Length-mismatched or empty pairs -> NULL too: np.vstack over
        # MIXED lengths raises and ONE corrupt row (wrong-dim vector —
        # exactly what embedding_norm_audit exists to find) would kill
        # the whole verify job (r14 sweep); pairs are processed per
        # common length, deterministic row-by-row.
        la = va.apply(lambda v: -1 if v is None else len(v)).to_numpy()
        lb = vb.apply(lambda v: -1 if v is None else len(v)).to_numpy()
        out = np.full(len(va), np.nan)
        for dim in np.unique(la):
            if dim <= 0:
                continue
            mask = (la == dim) & (lb == dim)
            if not mask.any():
                continue
            x = np.vstack(va[mask].to_numpy()).astype(np.float64)
            y = np.vstack(vb[mask].to_numpy()).astype(np.float64)
            num = np.einsum("ij,ij->i", x, y)
            den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[mask] = np.where(den > 0, num / den, np.nan)
        res = pd.Series(out)
        return res.where(pd.Series(~np.isnan(out)), None)

    return cos(a, b)


def query_literal(vec: Sequence[float]) -> Column:
    """A query vector as a literal array<double> column (embedded in
    the plan → shipped once with the task binary, no join needed).

    Built as ONE py4j call via the numpy-1D form of ``F.lit`` (r18):
    on classic PySpark, ``F.lit(list)`` (the r17 attempt) expands to
    ``array(*[lit(x) …])`` — still one JVM round-trip per dimension,
    so the r17 driver-time claim for it was wrong (the measured
    recall-report win came from the ``_query_score`` memoization
    below); only the ndarray path crosses the boundary once.
    Resulting literal is identical (array<double>,
    containsNull=false — collect-verified)."""
    import numpy as np

    vals = [float(x) for x in vec]
    if not vals:
        return F.array()
    return F.lit(np.asarray(vals, dtype=np.float64))


def query_norm(vec: Sequence[float]) -> Column:
    """``l2_norm(query_literal(vec))`` computed once on the driver and
    passed as a double literal. Catalyst does not constant-fold
    ``aggregate()`` over a literal array, so the in-plan form re-ran
    the query's fold on every corpus row. Same left-to-right fold in
    IEEE doubles, ``sqrt(((0.0 + q0*q0) + q1*q1) + …)``, so the value
    is bit-identical to Spark's (pinned for zero, NaN, ±Inf and
    subnormal vectors)."""
    acc = 0.0
    for x in vec:
        x = float(x)
        acc = acc + x * x
    return F.lit(math.sqrt(acc))


@lru_cache(maxsize=64)
def _query_score_for_ctx(
    app_id: str | None, vec_col: str, qt: tuple[float, ...]
) -> Column:
    # let-bound scoring (r18): the naive composition executed the
    # corpus row's norm fold and the dot up to six times per row — see
    # _scored_cosine. Same values, one evaluation each; the query's
    # norm is a driver-side literal (query_norm).
    return _scored_cosine(
        F.col(vec_col),
        query_literal(qt),
        l2_norm(F.col(vec_col)),
        query_norm(qt),
    )


def _query_score(vec_col: str, qt: tuple[float, ...]) -> Column:
    """``round6(cosine(vec_col, literal(qt)))`` built once per
    (column, query vector) and memoized (r17): the expression tree
    costs ~0.2 s of driver py4j round-trips to BUILD (zip_with /
    aggregate lambdas), and a multi-branch audit (recall report: 8
    branches over 2 query vectors) paid it per branch — more wall
    time constructing plans than executing them. A ``Column`` is an
    immutable unresolved expression, safe to re-insert into any
    number of plans; the cache key is pure values, so the entry is
    deterministic.

    The key carries the ACTIVE SparkContext's application id: a
    Column wraps py4j JVM references, so an entry cached under a
    stopped-and-recreated context would be a stale JVM handle and
    every same-key call after the restart would die with opaque py4j
    errors instead of rebuilding the expression. A new context simply
    misses the cache and rebuilds. The application id, not ``id()`` of
    the context object: Python may hand a stopped context's ``id`` to
    its successor, while every context gets a fresh application id."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return _query_score_for_ctx(
        sc.applicationId if sc is not None else None, vec_col, qt
    )


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: scan + per-partition heap (TakeOrdered).
    Deterministic output via (score desc, id asc) ordering."""
    score = _query_score(vec_col, tuple(float(x) for x in query))
    return (
        df.select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


@lru_cache(maxsize=16)
def _rademacher(planes: int, dim: int, seed: int):
    """Deterministic ±1 hyperplane matrix (planes × dim), derived from
    md5 so ANY engine can replay it (the DuckDB oracles do): the sign
    for (plane p, dim d) is +1 iff the first hex digit of
    ``md5(f"hp:{seed}:{p}:{d}")`` is odd. Identical on driver and
    every executor — no broadcast, no RNG library dependence."""
    import hashlib

    m = np.empty((planes, dim), dtype=np.int64)
    for p in range(planes):
        for d in range(dim):
            digit = int(
                hashlib.md5(f"hp:{seed}:{p}:{d}".encode()).hexdigest()[0], 16
            )
            m[p, d] = 1 if digit & 1 else -1
    return m


def _quantize_micro(x: np.ndarray) -> np.ndarray:
    """float64 → int64 micro-units via ``floor(x*1e6 + 0.5)``. The
    sketch sign test then runs in exact integer arithmetic: no
    float-summation-order ambiguity between numpy (pairwise sums) and
    a SQL engine's sequential sum, so the sketch is bit-reproducible
    everywhere. 1e-6 resolution is far below any meaningful embedding
    geometry."""
    return np.floor(x * 1e6 + 0.5).astype(np.int64)


def sketch_bits(vec: Sequence[float], planes: int = 8, seed: int = 42) -> int:
    """Driver-side sketch of one vector (e.g. the query): bit h of the
    result is sign(planes[h] · quantize(v)) — exact integer math,
    matching :func:`sign_sketch` and the DuckDB replay bit-for-bit."""
    x = np.asarray(vec, dtype=np.float64)
    if not np.isfinite(x).all():
        # a query vector is caller input, not data — refuse loudly
        # (numpy's astype(int64) of NaN/Inf is undefined garbage that
        # would silently probe the wrong buckets)
        raise ValueError(
            "sketch_bits: query vector carries NaN/Inf components"
        )
    xq = _quantize_micro(x)
    signs = (_rademacher(planes, len(xq), seed) @ xq) > 0
    return int(sum(1 << h for h, s in enumerate(signs) if s))


def sign_sketch(vec: Column, planes: int = 8, seed: int = 42) -> Column:
    """Random-hyperplane sign sketch as an integer bitmask (bit h =
    sign of the projection of the micro-quantized vector onto
    hyperplane h — exact int64 arithmetic, engine-portable).
    Vectorized Pandas UDF — one (n × dim) @ (dim × planes) matmul per
    Arrow batch; the expression-level formulation ran interpreted and
    ~20× slower. Hamming distance between sketches is
    ``bit_count(a ^ b)``, JVM-side."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    weights = 1 << np.arange(planes, dtype=np.int64)

    @pandas_udf(T.IntegerType())
    def sketch(vecs: pd.Series) -> pd.Series:
        # NULL embeddings → NULL sketch (np.vstack over a Series
        # containing None raises, killing the task): the NULL sketch
        # then drops out of any hamming comparison naturally, matching
        # brute_force_topk's NULL-cosine-sorts-last tolerance.
        # Mixed-length batches are processed PER LENGTH (np.vstack over
        # ragged rows raises, so one wrong-dim vector — the corruption
        # embedding_norm_audit exists to find — killed the whole LSH
        # job, r14 sweep); empty vectors sketch NULL. Each row's sketch
        # depends only on its own values, so per-length grouping is
        # deterministic under any partitioning.
        lens = vecs.apply(lambda v: -1 if v is None else len(v)).to_numpy()
        out = pd.array([None] * len(vecs), dtype="Int32")
        for dim in np.unique(lens):
            if dim <= 0:
                continue
            mask = lens == dim
            x = np.vstack(vecs[mask].to_numpy()).astype(np.float64)
            # non-finite components → NULL sketch (r16): numpy's
            # astype(int64) of NaN/Inf is undefined garbage bits that
            # would silently land the row in a wrong LSH bucket; NULL
            # drops it from hamming comparison like a NULL embedding
            finite = np.isfinite(x).all(axis=1)
            xq = _quantize_micro(x[finite])
            planes_mat = _rademacher(planes, int(dim), seed)  # (p, dim)
            bits = (xq @ planes_mat.T) > 0  # (n, p)
            sk = pd.array([None] * int(mask.sum()), dtype="Int32")
            sk[finite] = (bits @ weights).astype("int32")
            out[mask] = sk
        return pd.Series(out)

    return sketch(vec)


def lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 8,
    max_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: keep only vectors whose sign sketch
    is within ``max_hamming`` bits of the query's sketch, then exact
    cosine re-rank. The sketch filter is a cheap JVM predicate — at
    scale, persist the sketch as a materialized column (or partition
    by a sketch prefix) and the filter becomes partition pruning."""
    q_mask = sketch_bits(query, planes, seed)
    hamming = F.bit_count(
        sign_sketch(F.col(vec_col), planes, seed).bitwiseXOR(F.lit(q_mask))
    )
    score = _query_score(vec_col, tuple(float(x) for x in query))
    return (
        df.withColumn("_ham", hamming)
        .filter(F.col("_ham") <= max_hamming)
        .select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def quantize_vec(vec: Column) -> Column:
    """JVM-side micro-quantization of a float vector — the same
    ``floor(x*1e6 + 0.5)`` rule as :func:`_quantize_micro`, so
    expression-level and Pandas-UDF stages agree exactly.

    Non-finite guard (r16 sweep, the index-build sibling of the r14
    cosine guard): a vector with ANY NaN/±Inf component quantizes to
    NULL — the same contract as a NULL embedding. Unguarded,
    Spark's floor(NaN) is silently 0 (the corrupt dim trains as if it
    were 0.0) and floor(+Inf) is Long.MAX (which then WRAPS in the
    trainer's int64 centroid sums) — both reproduced: one NaN/Inf
    vector silently dragged a trained IVF centroid to garbage. NULL
    vectors drop out of training/assignment exactly like before."""
    d = lambda x: x.cast("double")  # noqa: E731
    return F.when(
        ~F.exists(vec, lambda x: F.isnan(d(x)) | (F.abs(d(x)) == F.lit(float("inf")))),
        F.transform(
            vec, lambda x: F.floor(d(x) * 1e6 + F.lit(0.5)).cast("long")
        ),
    )


def md5_bucket(col: Column, buckets: int) -> Column:
    """Deterministic, engine-portable bucket id in [0, buckets): first
    8 hex chars of md5(value-as-string) mod buckets. Used for
    replayable sampling — Spark's ``DataFrame.sample`` draws from a
    partition-local RNG, so its row set is neither stable across
    repartitioning nor expressible in SQL."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
        % buckets
    )


def train_ivf_centroids(
    df: DataFrame,
    k_clusters: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Lloyd's k-means over the embedding column, Spark-side, in
    integer micro-units (1e-6) so every step — assignment argmin,
    centroid mean, tie-breaks — is exact integer arithmetic that a
    DuckDB oracle replays bit-for-bit.

    Assignment is a broadcast argmin (distributed, scales with the
    data); the centroid update is a per-cluster integer mean
    (``floor(mean + 1/2)`` computed as ``(2·Σx + n) fdiv 2n``) via
    applyInPandas; only the k×dim centroid matrix ever reaches the
    driver (the loop is driver-coordinated, data never is). Init is
    deterministic: the k lowest-id vectors. Empty clusters keep their
    previous centroid; argmin ties go to the lowest cluster id.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from .checkpoints import cache, materialize, release, scope

    mean_schema = T.StructType(
        [
            T.StructField("_c", T.IntegerType(), False),
            T.StructField("_v", T.ArrayType(T.LongType()), False),
        ]
    )

    def cluster_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mat = np.vstack(pdf["_v"].to_numpy()).astype(np.int64)
        n = mat.shape[0]
        # floor(mean + 1/2) in pure integers (floor_divide = Python //)
        newc = np.floor_divide(2 * mat.sum(axis=0) + n, 2 * n)
        return pd.DataFrame(
            {"_c": [int(pdf["_c"].iloc[0])], "_v": [newc.tolist()]}
        )

    with scope():
        # NULL embeddings are excluded from training (a NULL _v would
        # poison both the init collect and the per-cluster mean); persist
        # the quantized base ONCE — the loop otherwise re-runs the source
        # scan + quantize projection twice per iteration (assignment pass
        # + mean pass), the dominant wasted cost at table scale.
        base = cache(
            df.select(
                F.col(id_col).alias("_id"), quantize_vec(F.col(vec_col)).alias("_v")
            ).filter(F.col("_v").isNotNull())
        )
        # dimension contract (r14): train on the dimension of the
        # lowest-id vector (deterministic) and EXCLUDE vectors of any
        # other length — a single wrong-dim row (the corruption
        # embedding_norm_audit exists to find) otherwise poisons the init
        # collect with a ragged centroid matrix and kills every
        # assignment matmul downstream.
        first = base.orderBy("_id").select(F.size("_v").alias("_d")).first()
        if first is None:
            raise ValueError(
                "train_ivf_centroids: no non-NULL vectors to train on"
            )
        dim0 = int(first._d)
        # re-persist the dim-pruned frame ONLY when wrong-dim rows exist:
        # the clean-data probe is a limit(1) short-circuit scan, vs the
        # full re-persist + count the dead `is not` identity check used to
        # pay on every training call (r15, ADVICE — DataFrame.filter
        # always returns a new object, so the old fast path never fired)
        has_wrong_dim = (
            base.filter(F.size("_v") != dim0).limit(1).count() > 0
        )
        if has_wrong_dim:
            pruned = materialize(
                base.filter(F.size("_v") == dim0),
                "train_ivf_centroids: dim-pruned base",
            )
            release(base)
            base = pruned
        centroids = [
            [int(x) for x in r._v]
            for r in base.orderBy("_id").limit(k_clusters).collect()
        ]
        if not centroids:
            raise ValueError(
                "train_ivf_centroids: no non-NULL vectors to train on"
            )
        if len(centroids) < k_clusters:
            # fewer vectors than requested clusters: train what the data
            # supports instead of an IndexError at the first empty-cluster
            # fallback (centroids[c] out of range)
            k_clusters = len(centroids)
        for _ in range(iters):
            assigned = base.withColumn(
                "_c", _nearest_centroid(F.col("_v"), centroids)
            )
            new = (
                # _c IS NOT NULL: an unassignable row (NULL handled by
                # the base filter; belt-and-braces for any future NULL
                # path) would otherwise form a NULL group whose
                # cluster_mean dies at int(None)
                assigned.filter(F.col("_c").isNotNull())
                .groupBy("_c")
                .applyInPandas(cluster_mean, mean_schema)
                .collect()
            )
            got = {r._c: [int(x) for x in r._v] for r in new}
            # empty clusters keep their previous centroid
            centroids = [got.get(c, centroids[c]) for c in range(k_clusters)]
        return centroids


def _nearest_centroid(v: Column, centroids: list[list[int]]) -> Column:
    """argmin over squared L2 distance to the centroid matrix (integer
    micro-units), as a vectorized Pandas UDF (numpy broadcast: one
    ‖x-C‖² matrix per Arrow batch). Ties resolve to the lowest cluster
    id (np.argmin first-match). An expression-level unrolled version
    was 10-50× slower — k × dim nested higher-order functions run
    interpreted, outside whole-stage codegen."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.int64)  # (k, dim)

    @pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        # NULL embeddings -> NULL assignment (dropped from the index
        # build rather than crashing the task in np.vstack); vectors
        # whose length differs from the centroid dim -> NULL too (they
        # cannot be assigned, and one wrong-dim row would otherwise
        # kill the task in the matmul — r14 sweep)
        dim = cmat.shape[1]
        mask = vecs.apply(
            lambda v: v is not None and len(v) == dim
        ).to_numpy()
        out = pd.array([None] * len(vecs), dtype="Int32")
        if mask.any():
            x = np.vstack(vecs[mask].to_numpy()).astype(np.int64)
            # ‖x-c‖² = ‖x‖² - 2x·c + ‖c‖²; ‖x‖² is constant per row → drop
            d = -2 * (x @ cmat.T) + (cmat * cmat).sum(axis=1)
            out[mask] = np.argmin(d, axis=1).astype("int32")
        return pd.Series(out)

    return assign(v)


def _probe_clusters(
    query: Sequence[float], centroids: list[list[int]], nprobe: int
) -> list[int]:
    """The nprobe cluster ids nearest the (quantized) query — exact
    integer distances, ties to the lowest id."""
    q = np.asarray(query, dtype=np.float64)
    if not np.isfinite(q).all():
        # caller input — refuse loudly rather than probe garbage
        # buckets (astype(int64) of NaN/Inf is undefined)
        raise ValueError(
            "ivf probe: query vector carries NaN/Inf components"
        )
    qq = _quantize_micro(q)

    def sq(c: Sequence[int]) -> int:
        return int(sum((int(x) - int(y)) ** 2 for x, y in zip(qq, c)))

    return sorted(range(len(centroids)), key=lambda c: (sq(centroids[c]), c))[
        :nprobe
    ]


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    centroids: list[list[int]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: restrict the exact cosine scan to the ``nprobe``
    clusters whose centroids are nearest the query, then re-rank.

    This variant computes the assignment inline (one scan); use
    :func:`write_ann_index` + :func:`ivf_topk_indexed` to make the
    probe filter PARTITION PRUNING instead of a scan predicate.
    ``nprobe == k_clusters`` degrades to the exact brute-force result
    (the recall dial)."""
    probe = _probe_clusters(query, centroids, nprobe)
    q = query_literal(query)
    assigned = df.withColumn(
        "_c", _nearest_centroid(quantize_vec(F.col(vec_col)), centroids)
    )
    return (
        assigned.filter(F.col("_c").isin([int(c) for c in probe]))
        .select(
            F.col(id_col),
            # let-bound scoring (r18, same values — _scored_cosine)
            _scored_cosine(
                F.col(vec_col), q, l2_norm(F.col(vec_col)), query_norm(query)
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def write_ann_index(
    df: DataFrame,
    path: str,
    centroids: list[list[int]],
    planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Materialize the ANN index the scale story needs: the IVF
    cluster id ``_c`` becomes a Hive PARTITION column (probe filters
    prune to nprobe/k of the files — the scan never touches the rest)
    and the hyperplane ``_sketch`` a stored int column (the hamming
    filter is a plain JVM predicate with row-group min/max stats — no
    per-query sketch recompute). One job: assignment + sketch + one
    partitioned write."""
    (
        df.withColumn(
            "_c", _nearest_centroid(quantize_vec(F.col(vec_col)), centroids)
        )
        .withColumn("_sketch", sign_sketch(F.col(vec_col), planes, seed))
        .write.mode("overwrite")
        .partitionBy("_c")
        .parquet(path)
    )


def append_to_ann_index(
    df: DataFrame,
    path: str,
    centroids: list[list[int]],
    planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign NEW vectors to the
    EXISTING centroids and append their files into the partitioned
    layout — no retrain, no rewrite of landed partitions. This is the
    standard IVF maintenance trade: centroids drift as the corpus
    grows, so monitor recall (nprobe=k spot checks vs brute force) and
    rebuild with :func:`write_ann_index` when it degrades.

    CONCURRENCY CONTRACT — single writer (r15): the ANN index keeps
    the plain ``partitionBy('_c')`` hive layout because the cluster-id
    partition column is what turns every probe into PartitionFilters
    pruning — the index's whole scale story — and that layout cannot
    ride the manifest commit protocol the minhash index adopted
    (``sources/manifest.ManifestTable`` tracks a flat file list).
    Parquet append jobs share one ``_temporary/`` staging dir, so two
    CONCURRENT appenders can delete each other's in-flight task files
    at job commit. Serialize appends (the ingest-loop shape is
    naturally serial); the ``_INDEX_READY`` sentinel already gates
    readers against half-built rebuilds."""
    (
        df.withColumn(
            "_c", _nearest_centroid(quantize_vec(F.col(vec_col)), centroids)
        )
        .withColumn("_sketch", sign_sketch(F.col(vec_col), planes, seed))
        .write.mode("append")
        .partitionBy("_c")
        .parquet(path)
    )


def ivf_topk_indexed(
    index_df: DataFrame,
    query: Sequence[float],
    centroids: list[list[int]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k over a materialized index (read from
    :func:`write_ann_index` output): ``_c`` is a partition column, so
    the probe ``isin`` compiles to PartitionFilters — partition
    pruning, not a full scan (asserted in tools/plan_audit.py)."""
    probe = _probe_clusters(query, centroids, nprobe)
    score = _query_score(vec_col, tuple(float(x) for x in query))
    return (
        index_df.filter(F.col("_c").isin([int(c) for c in probe]))
        .select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lsh_topk_indexed(
    index_df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    planes: int = 8,
    max_hamming: int = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """LSH top-k over a materialized index: the stored ``_sketch``
    column replaces the per-query sketch recompute — the hamming
    filter is pure JVM bit arithmetic over an int column."""
    q_mask = sketch_bits(query, planes, seed)
    ham = F.bit_count(F.col("_sketch").bitwiseXOR(F.lit(q_mask)))
    score = _query_score(vec_col, tuple(float(x) for x in query))
    return (
        index_df.filter(ham <= max_hamming)
        .select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    broadcast_limit: int = 2_000_000,
    oversize: str = "error",
    exclude_self: bool = True,
) -> DataFrame:
    """All-pairs top-k join (each left row → its k nearest right
    rows): broadcast the smaller right side, window-rank per left id.

    ``exclude_self`` (default True) drops pairs with id_a == id_b —
    correct for the SELF-join use (a vector is trivially its own
    nearest neighbor). Pass ``exclude_self=False`` when left and
    right are DIFFERENT tables whose id spaces merely overlap:
    otherwise a coincident id silently removes a valid neighbor.

    GUARDED: broadcast+crossJoin is correct only while the right side
    is dim-sized. The guard counts the right side (one column-pruned
    job — trivial next to the crossJoin it gates); past
    ``broadcast_limit`` the DEFAULT is to fail loudly on the driver
    (``oversize='error'``) — this operator's contract is an EXACT
    top-k, and silently degrading to an approximate answer would hand
    callers recall-bounded results with no signal. Opt in with
    ``oversize='blocked'`` to ROUTE to :func:`topk_join_blocked`
    (sketch-band shuffle join, no broadcast) instead of OOMing an
    executor mid-broadcast at scale — same output schema, recall
    governed by that operator's defaults (planes, bands) rather than
    exact; the routing is logged as a warning so the switch is never
    silent."""
    from pyspark.sql import Window

    n_right = right.count()
    if n_right > broadcast_limit:
        if oversize == "blocked":
            import warnings

            warnings.warn(
                f"topk_join right side has {n_right} rows (> "
                f"broadcast_limit={broadcast_limit}); routing to the "
                "APPROXIMATE sketch-blocked path (topk_join_blocked) — "
                "results are recall-bounded, not exact",
                RuntimeWarning,
                stacklevel=2,
            )
            return topk_join_blocked(
                left,
                right,
                k=k,
                left_vec=left_vec,
                right_vec=right_vec,
                left_id=left_id,
                right_id=right_id,
                exclude_self=exclude_self,
            )
        raise ValueError(
            f"topk_join right side has {n_right} rows "
            f"(> broadcast_limit={broadcast_limit}); a side this large "
            "cannot be broadcast — use topk_join_blocked (sketch-band "
            "shuffle join) instead"
        )
    # per-SIDE norms hoisted out of the pair loop (r18, guide §1.2
    # step 2): the inline cosine recomputes l2_norm of BOTH vectors
    # for every (left, right) pair — |L|·|R| interpreted 64-element
    # folds per side where |L|+|R| suffice — and its NaN guard
    # re-evaluates the whole ratio (no CSE across higher-order
    # functions, the r17 quantize_vec lesson). Each side computes its
    # norm ONCE per row; _scored_cosine additionally binds the dot,
    # den and ratio once each (round6's three references read a bound
    # scalar) while keeping the division/guard bit-identical. Paired
    # A/B on the knn query for the norm hoist alone: 2.2–2.9 s →
    # 1.2–1.6 s, collect-verified identical.
    r = F.broadcast(
        right.select(
            F.col(right_id).alias("_rid"),
            F.col(right_vec).alias("_rvec"),
            l2_norm(F.col(right_vec)).alias("_rnorm"),
        )
    )
    scored = left.select(
        F.col(left_id).alias("id_a"),
        F.col(left_vec).alias("_lvec"),
        l2_norm(F.col(left_vec)).alias("_lnorm"),
    ).crossJoin(r).select(
        "id_a",
        F.col("_rid").alias("id_b"),
        _scored_cosine(
            F.col("_lvec"),
            F.col("_rvec"),
            F.col("_lnorm"),
            F.col("_rnorm"),
        ).alias("cosine"),
    )
    if exclude_self:
        scored = scored.filter(F.col("id_a") != F.col("id_b"))
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def topk_join_blocked(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Sketch-blocked top-k join — the scale path when the right side
    is NOT broadcastable. Both sides get a ``planes``-bit hyperplane
    sign sketch split into ``bands`` equal bit-bands; candidate pairs
    are generated by an equi shuffle join on (band index, band value)
    — the simhash pigeonhole: any pair whose sketches differ in fewer
    than ``bands`` bits shares at least one identical band, so the
    candidate set is a guaranteed superset of all pairs within hamming
    radius ``bands - 1``. Exact cosine scores only the candidates.

    At 100 TB: no broadcast, no crossJoin — two scans, one hash
    exchange on band keys (both sides), dedupe + per-left-id window
    rank. Recall is governed by (planes, bands) exactly as in the
    SimHash dedup operator; :func:`topk_join` is the exact twin the
    equivalence property test pins this against on fixtures."""
    from pyspark.sql import Window

    band_bits = planes // bands
    if band_bits * bands != planes:
        raise ValueError("planes must be divisible by bands")
    mask = (1 << band_bits) - 1

    def side(df: DataFrame, idc: str, vecc: str, pre: str) -> DataFrame:
        sk = sign_sketch(F.col(vecc), planes, seed)
        bvals = F.array(
            *[
                F.shiftright(sk, i * band_bits).bitwiseAND(F.lit(mask))
                for i in range(bands)
            ]
        )
        # norm computed ONCE per input row, before the band explode
        # (r18, same hoist as topk_join): each candidate pair then
        # multiplies two ready doubles instead of re-folding both
        # vectors; 8 extra bytes per band-row next to the vector
        # already carried
        return df.select(
            F.col(idc).alias(f"{pre}id"),
            F.col(vecc).alias(f"{pre}vec"),
            l2_norm(F.col(vecc)).alias(f"{pre}norm"),
            F.posexplode(bvals).alias("_band", "_bval"),
        )

    l = side(left, left_id, left_vec, "_l")
    r = side(right, right_id, right_vec, "_r")
    cand = (
        l.join(r, ["_band", "_bval"])
        .filter(
            (F.col("_lid") != F.col("_rid"))
            if exclude_self
            else F.lit(True)
        )
        .select(
            F.col("_lid").alias("id_a"),
            F.col("_rid").alias("id_b"),
            _scored_cosine(
                F.col("_lvec"),
                F.col("_rvec"),
                F.col("_lnorm"),
                F.col("_rnorm"),
            ).alias("cosine"),
        )
        # a pair can match in several bands — dedupe before ranking
        .dropDuplicates(["id_a", "id_b"])
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return cand.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
