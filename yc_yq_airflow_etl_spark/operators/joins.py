"""Join operators missing from the built-in DataFrame API.

``exclusion_join`` is the load-bearing one: YQL's EXCLUSION JOIN is
the reference's reconciliation primitive (yq_dag.py:93-94) — it
returns the rows of *both* inputs that have no key match on the other
side (symmetric difference by key; README_en.md:223 expects count 0).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _reserve(op: str, df: DataFrame, *tags: str) -> None:
    """Reserved-tag guard — see :mod:`.._reserved` (shared with the
    table format's __zkey and the CDC collapse's _rn guards)."""
    from .._reserved import reserve_tags

    reserve_tags(op, df.columns, *tags)


def _nan_guarded_double(c: Column, op: str, col_name: str) -> Column:
    """Cast to double, raising per-row on NaN (r16 degenerate sweep).

    Every bucketed join keys on ``floor(col / width)`` — and Spark's
    ``floor(NaN)`` is silently ``0`` (even under ANSI), so a NaN row
    lands in bucket 0 instead of where the join's own residual
    predicate says it belongs (NaN sorts GREATEST). The result is the
    worst failure shape: the NaN row matches nearby bucket-0 partners
    and silently misses far ones — plan-dependent answers, diverging
    from the operator's declared (naive-predicate) semantics. Same
    family as the z-order NaN domain hole (invariant #30): a NaN
    bucket key is an unusable proof. JVM-side, no extra pass."""
    d = c.cast("double")
    return F.when(
        F.isnan(d),
        F.raise_error(
            F.lit(
                f"{op}: NaN in {col_name!r} cannot be bucketed — "
                f"floor(NaN/width) silently lands in bucket 0, making "
                "the row match near partners and miss far ones; "
                "filter or repair the row (NULL means no-match)"
            )
        ).cast("double"),
    ).otherwise(d)


def _hashable_type(dt: T.DataType) -> bool:
    """Whether Spark's hash/xxhash64 accepts a column of this type.

    MapType is rejected outright (undefined entry order), including
    when nested inside a struct or array — recurse the whole dtype."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _hashable_type(dt.elementType)
    return True


# Plan-audit breadcrumb: the strategy the last exclusion_join call
# RESOLVED to ('union' or 'anti' — 'auto' resolves before recording).
# Diagnostic only; results are strategy-independent (property-pinned).
LAST_EXCLUSION_STRATEGY: str | None = None


def exclusion_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    tag_column: str | None = None,
    strategy: str = "union",
) -> DataFrame:
    """YQL EXCLUSION JOIN (yq_dag.py:93-94): the rows of *both*
    inputs that have no key match on the other side (symmetric
    difference by key).

    ``strategy='union'`` (default): tag each side, ``unionByName``,
    and compute per-key side counts with an unordered window — ONE
    hash exchange on the key set at any scale. The two-anti-join
    formulation shuffles each input twice, and those exchanges do NOT
    canonicalize to a ReusedExchange (the build side is a key-only
    projection, the probe side carries all columns), so at 100 TB it
    pays four wide shuffles to this plan's one. Rows with a NULL in
    any key column never match anything under SQL join semantics and
    pass straight to the output (the window result is ignored for
    them — no separate plan branch).

    ``strategy='anti'``: the two-anti-join plan — each side is
    independently broadcast-eligible, the right choice when one side
    is dim-sized and broadcastable.

    HOT-KEY CAVEAT (union strategy): the per-key side counts ride a
    window partitioned by the join keys, and AQE never splits a window
    partition — a key with millions of duplicates serializes into one
    straggler task. The reference's reconcile keys are PK-like so this
    is theoretical there, but for bulk NON-unique keys prefer
    ``strategy='anti'`` (joins get AQE skew handling) or, when only
    the count is needed, :func:`exclusion_diff_count` (groupBy
    aggregates are partial-combined and skew-split). Both are pinned
    equal to this path under 10⁴-duplicate keys by a property test.

    ``strategy='auto'``: a 2% sampled per-key count over the union of
    both key projections decides — any key whose estimated multiset
    share exceeds twice the fair per-reducer share routes to 'anti'
    (AQE-splittable joins), otherwise the single-shuffle 'union' plan.
    Safe by construction: both strategies are result-equivalent
    (property-pinned), the probe only picks the physical plan.

    Columns of the result = the union of both inputs' columns (inputs
    are union-compatible in YQL usage). ``tag_column`` adds
    'left'/'right' provenance.
    """
    keys = list(on)
    global LAST_EXCLUSION_STRATEGY
    if strategy == "auto":
        u_keys = left.select(*keys).unionByName(right.select(*keys))
        s = u_keys.sample(fraction=0.02, seed=42).groupBy(*keys).agg(
            F.count(F.lit(1)).alias("_c")
        )
        mx = s.agg(F.max("_c").alias("m"), F.sum("_c").alias("n")).first()
        parts = int(
            left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        hot = bool(
            mx["m"] and mx["n"] and mx["m"] > max(2.0 * mx["n"] / parts, 8.0)
        )
        strategy = "anti" if hot else "union"
    LAST_EXCLUSION_STRATEGY = strategy
    if strategy == "anti":
        l_only = left.join(right, on=keys, how="left_anti")
        r_only = right.join(left, on=keys, how="left_anti")
        if tag_column is not None:
            l_only = l_only.withColumn(tag_column, F.lit("left"))
            r_only = r_only.withColumn(tag_column, F.lit("right"))
        return l_only.unionByName(r_only, allowMissingColumns=True)
    if strategy != "union":
        raise ValueError(f"unknown exclusion_join strategy: {strategy!r}")

    from pyspark.sql import Window

    _reserve("exclusion_join", left, "_xj_side", "_xj_keep")
    _reserve("exclusion_join", right, "_xj_side", "_xj_keep")
    side = "_xj_side"
    u = left.withColumn(side, F.lit("left")).unionByName(
        right.withColumn(side, F.lit("right")), allowMissingColumns=True
    )
    null_key = None
    for k in keys:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)
    w = Window.partitionBy(*keys)
    n_left = F.sum(F.when(F.col(side) == "left", 1).otherwise(0)).over(w)
    n_right = F.sum(F.when(F.col(side) == "right", 1).otherwise(0)).over(w)
    keep = F.when(F.col(side) == "left", n_right == 0).otherwise(n_left == 0)
    # window expressions are not allowed directly in a filter —
    # materialize the flag as a column first
    out = (
        u.withColumn("_xj_keep", null_key | keep)
        .filter(F.col("_xj_keep"))
        .drop("_xj_keep")
    )
    if tag_column is not None:
        out = out.withColumn(tag_column, F.col(side))
    return out.drop(side)


def exclusion_diff_count(
    left: DataFrame, right: DataFrame, on: Sequence[str]
) -> int:
    """``exclusion_join(left, right, on).count()`` in one grouped
    shuffle and one result job.

    The reconciliation check (yq_dag.py:93) only needs the count, and
    the anti-join formulation shuffles both inputs into two joins. A
    tagged union + groupBy over the key computes per-key multiset
    sides in a single exchange: keys present on only one side
    contribute that side's multiplicity.

    NULL-keyed rows are counted in the same aggregate. They never
    match anything under SQL join semantics, so the grouping key
    carries a ``_nk`` flag (any key column NULL) and a flagged group
    contributes ``_nl + _nr`` — all of its rows, from both sides —
    instead of the one-sided multiplicity. Partial aggregation
    absorbs an all-NULL hot group map-side like any other key.

    The global sum rides the result job through ``observe`` on the
    per-key aggregate, driven by a ``noop`` write: no second exchange
    for a global aggregate and no ``.first()`` job. Nothing is
    persisted. At 100 TB this is one wide shuffle of the key-only
    union, compressed by partial aggregation to each map task's
    distinct keys before the exchange.
    """
    from pyspark.sql import Observation

    keys = list(on)
    _reserve(
        "exclusion_diff_count", left.select(*keys),
        "_side", "_nk", "_nl", "_nr",
    )
    null_key = None
    for k in keys:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)

    u = left.select(*keys).withColumn("_side", F.lit(0)).unionByName(
        right.select(*keys).withColumn("_side", F.lit(1))
    )
    per_key = u.groupBy(*keys, null_key.alias("_nk")).agg(
        F.sum(F.when(F.col("_side") == 0, 1).otherwise(0)).alias("_nl"),
        F.sum(F.when(F.col("_side") == 1, 1).otherwise(0)).alias("_nr"),
    )
    unmatched = F.when(F.col("_nk"), F.col("_nl") + F.col("_nr")).otherwise(
        F.when(F.col("_nr") == 0, F.col("_nl")).otherwise(0)
        + F.when(F.col("_nl") == 0, F.col("_nr")).otherwise(0)
    )
    obs = Observation()
    per_key.observe(obs, F.sum(unmatched).alias("d")).write.format(
        "noop"
    ).mode("overwrite").save()
    return int(obs.get["d"] or 0)


def range_join(
    left: DataFrame,
    right: DataFrame,
    point: str | Column,
    lower: str | Column,
    upper: str | Column,
    extra_on: Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: ``left.point ∈ [right.lower, right.upper)``.

    Expressed as a non-equi join condition so Catalyst can still use a
    broadcast-nested-loop when ``right`` is small (the common case for
    interval/dimension tables); callers with a large right side should
    pre-bucket both sides on a coarsened range key and add the bucket
    equality via ``extra_on`` to convert it into an equi-join shuffle.
    """
    p = F.col(point) if isinstance(point, str) else point
    lo = F.col(lower) if isinstance(lower, str) else lower
    hi = F.col(upper) if isinstance(upper, str) else upper
    cond = (p >= lo) & (p < hi)
    if extra_on is not None:
        cond = cond & extra_on
    return left.join(right, on=cond, how=how)


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    point: str,
    lower: str,
    upper: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """The equi-key rewrite of :func:`range_join` — the 100×-scale
    form named in its docstring, made real.

    ``range_join``'s raw non-equi condition compiles to a (broadcast)
    nested-loop: fine for a 10-row band table, O(|left|·|right|) the
    moment the interval side grows. This rewrite coarsens the point
    domain into fixed-width buckets: each interval is EXPLODED into
    the bucket ids it overlaps (``sequence(floor(lo/w),
    floor(hi/w))`` — intervals cost ~ceil(len/w) copies, so pick
    ``bucket_width`` near the typical interval length to keep the
    blow-up ~1-2×), each point computes ``floor(p/w)`` (one map-side
    expression), and the join becomes a plain hash equi-join on the
    bucket id with the exact range predicate left as a residual
    filter. Catalyst then has the full strategy menu — broadcast-HASH
    when one side is small, shuffled hash/sort-merge (plus AQE skew
    split) when neither is: no nested-loop anywhere, verified by the
    plan audit on ``range_join_price_bands_bucketed``.

    Correctness does not depend on ``bucket_width``: a (point,
    interval) pair matches in exactly the one bucket the point falls
    in, which the interval's explosion always covers when the point is
    inside it — so no duplicates and no misses, any width. Intervals
    must satisfy ``lower < upper`` (empty intervals match nothing in
    either formulation).
    """
    _reserve("bucketed_range_join", left, "_bucket")
    _reserve("bucketed_range_join", right, "_bucket")
    w = float(bucket_width)
    # NaN interval bounds refuse loudly (r16): floor(NaN/w)=0 silently,
    # so a NaN upper would explode a DESCENDING (wrong) bucket sequence
    # while the residual predicate `p < NaN` is TRUE for every point —
    # the bucketed plan would silently answer differently than the
    # naive range_join. A NaN POINT needs no guard: `p < upper` is
    # false under NaN-greatest in BOTH formulations (consistent
    # no-match).
    lo = _nan_guarded_double(F.col(lower), "bucketed_range_join", lower)
    hi = _nan_guarded_double(F.col(upper), "bucketed_range_join", upper)
    bands = right.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(lo / F.lit(w)).cast("long"),
                # floor(hi/w) UNCONDITIONALLY: when hi lands exactly on
                # a bucket boundary this emits one bucket the exclusive
                # upper can never match, but the residual p < upper
                # predicate discards it. An epsilon-subtraction here
                # would be WRONG: for |hi| ≳ 1e7 the 1e-9 rounds away
                # (no-op), and for hi within ε above a boundary it
                # would DROP the bucket holding true matches.
                F.floor(hi / F.lit(w)).cast("long"),
            )
        ),
    )
    pts = left.withColumn(
        "_bucket", F.floor(F.col(point) / F.lit(w)).cast("long")
    )
    cond = (
        (pts["_bucket"] == bands["_bucket"])
        & (pts[point] >= bands[lower])
        & (pts[point] < bands[upper])
    )
    return pts.join(bands, on=cond, how=how).drop("_bucket")


def _asof_finalize(
    out: DataFrame,
    on_time: str,
    payload: Sequence[str],
    right_prefix: str,
    tolerance: str | None,
) -> DataFrame:
    """Shared tail of both as-of formulations: apply the tolerance
    window to the carried ``_asof`` struct and unpack it into
    ``right_prefix``-named columns."""
    if tolerance is not None:
        out = out.withColumn(
            "_asof",
            F.when(
                F.col("_asof._r_time")
                >= F.col(on_time) - F.expr(f"INTERVAL {tolerance}"),
                F.col("_asof"),
            ),
        )
    for c in payload:
        out = out.withColumn(right_prefix + c, F.col(f"_asof._r_payload.{c}"))
    return out.withColumn(right_prefix + on_time, F.col("_asof._r_time"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on_time: str,
    by: Sequence[str],
    right_prefix: str = "r_",
    tolerance: str | None = None,
    bucket_width: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.on_time <= left.on_time`` within the same ``by`` group
    (optionally within ``tolerance``, an INTERVAL literal string).

    Default implementation: union both sides tagged, single window
    sort per ``by`` group carrying the last-seen right payload forward
    (last_value ignoring nulls), then keep left rows. One shuffle on
    ``by`` + one sort — no per-key collect, no broadcast requirement.
    KNOWN LIMIT: a window partition cannot be split — ALL rows of a
    ``by`` group land in one task (AQE's skew optimization splits
    skewed *join* partitions, never window partitions), so one hot key
    = one straggler task at 100 TB.

    ``bucket_width`` (in units of ``on_time`` cast to double — seconds
    for timestamps) enables the hot-key-safe two-phase formulation:

    1. *Carry spine*: per (key, coarse time bucket), the last right
       row of the bucket (map-side-combined aggregate — a hot key is
       spread over its buckets), then one tiny window over the
       per-bucket rows (partition size = #buckets per key, not #rows)
       yields the last right row in any STRICTLY EARLIER bucket.
    2. *In-bucket pass*: the union+window trick partitioned by
       (key, bucket) — hot keys split across buckets — with the
       bucket's carry as fallback for left rows before the bucket's
       first right row.

    Output is identical to the default path whenever right timestamps
    are unique per key (with duplicate (key, time) right rows, which
    of the tied payloads wins is nondeterministic in EITHER path —
    same caveat as DuckDB/pandas as-of). Pick ``bucket_width`` near
    the typical left-to-match gap; with ``tolerance`` set, a bucket
    width ≥ the tolerance keeps phase-1 exact.

    NULL times (r13): a right row with a NULL ``on_time`` can never
    satisfy ``right.on_time <= left.on_time`` (the comparison is never
    true), so such rows are dropped before the union. Without the
    filter they SORT FIRST under the window's ascending order (Spark
    puts NULLs first) and get carried as the "match" for every left
    row that has no real earlier right row — emitting a payload with a
    NULL matched time, exactly the row the semantics say must not
    match (the tolerance path masked this; the no-tolerance path
    emitted it). A left row with a NULL time keeps NULL payload: it
    sorts before every remaining right row, so nothing is carried
    into it — the left-outer contract.
    """
    from pyspark.sql import Window

    by = list(by)
    _reserve(
        "asof_join", left,
        "_side", "_b", "_asof", "_in_bucket", "_carry",
        "_r_payload", "_r_struct",
    )
    right = right.filter(F.col(on_time).isNotNull())
    payload = [c for c in right.columns if c not in (*by, on_time)]

    if bucket_width is None:
        l_tag = left.withColumn("_side", F.lit(1))
        r_tag = right.select(
            *by,
            F.col(on_time),
            F.struct(*[F.col(c) for c in payload]).alias("_r_payload"),
        ).withColumn("_side", F.lit(0))

        merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
        w = (
            Window.partitionBy(*by)
            # right rows (_side=0) sort before left rows at equal times →
            # "<=" as-of semantics
            .orderBy(F.col(on_time).asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = merged.withColumn(
            "_asof", F.last(F.when(F.col("_side") == 0, F.struct(
                F.col(on_time).alias("_r_time"), F.col("_r_payload"))), ignorenulls=True).over(w)
        )
        out = carried.filter(F.col("_side") == 1)
        out = _asof_finalize(out, on_time, payload, right_prefix, tolerance)
        return out.drop("_side", "_asof", "_r_payload")

    # -- two-phase time-bucketed formulation (hot-key safe) -----------
    bw = F.lit(float(bucket_width))

    def bucket_of(c: Column) -> Column:
        # NaN refuses loudly (r16): floor(NaN/w) is silently bucket 0,
        # so a NaN event time would see only bucket-0 rights — while
        # the window formulation above (the operator's declared
        # semantics) gives a NaN left row the LAST right row
        # (NaN-greatest sort). Plan-dependent answers = silent
        # corruption; refuse naming the column instead.
        return F.floor(
            _nan_guarded_double(c, "asof_join", on_time) / bw
        ).cast("long")

    r_struct = F.struct(
        F.col(on_time).alias("_r_time"),
        F.struct(*[F.col(c) for c in payload]).alias("_r_payload"),
    )
    rb = right.select(*by, F.col(on_time), r_struct.alias("_r_struct")).withColumn(
        "_b", bucket_of(F.col(on_time))
    )
    lb = left.withColumn("_b", bucket_of(F.col(on_time)))

    # phase 1: carry = last right row in strictly earlier buckets.
    # groupBy gets partial aggregation (a hot key's rows combine
    # map-side per bucket); the window below runs over ONE ROW PER
    # (key, bucket), so its per-key partition is tiny by construction.
    per_bucket = rb.groupBy(*by, "_b").agg(
        F.max_by("_r_struct", F.col(on_time)).alias("_last_in_bucket")
    )
    spine = lb.select(*by, "_b").union(rb.select(*by, "_b")).distinct()
    w_carry = (
        Window.partitionBy(*by)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        spine.join(per_bucket, on=[*by, "_b"], how="left")
        .withColumn(
            "_carry", F.last("_last_in_bucket", ignorenulls=True).over(w_carry)
        )
        .select(*by, "_b", "_carry")
    )

    # phase 2: in-bucket union+window, partitioned by (key, bucket)
    l_tag = lb.withColumn("_side", F.lit(1))
    r_tag = rb.withColumn("_side", F.lit(0))
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    w_bucket = (
        Window.partitionBy(*by, "_b")
        .orderBy(F.col(on_time).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "_in_bucket",
        F.last(
            F.when(F.col("_side") == 0, F.col("_r_struct")), ignorenulls=True
        ).over(w_bucket),
    )
    out = (
        carried.filter(F.col("_side") == 1)
        .join(carry, on=[*by, "_b"], how="left")
        .withColumn("_asof", F.coalesce("_in_bucket", "_carry"))
    )
    out = _asof_finalize(out, on_time, payload, right_prefix, tolerance)
    return out.drop("_side", "_asof", "_r_struct", "_in_bucket", "_carry", "_b")


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    on_time: str,
    by: Sequence[str],
    tolerance: float,
    right_prefix: str = "r_",
) -> DataFrame:
    """NEAREST-in-time join — the two-sided sibling of :func:`asof_join`:
    for each left row, the right row of the same ``by`` group that
    minimizes ``|right.on_time - left.on_time|``, within ``tolerance``
    (same units as ``on_time``, which must be a NUMERIC time axis —
    cast timestamps to epoch first). Ties in ``|Δ|`` resolve to the
    EARLIER right row. Left rows with no candidate in range keep NULL
    payload (left-outer semantics).

    Why not a backward as-of: attribution/sensor-alignment pipelines
    need the closest observation in EITHER direction — a backward-only
    as-of silently mislinks a left row that lands seconds BEFORE its
    true match enters the log.

    Plan shape (same cost as ONE as-of): left and right union into one
    frame per group ordered by time, a backward window carries the
    latest right row at-or-before each row and a forward window the
    earliest right row at-or-after, then a scalar CASE picks the
    nearer of the two candidates. One shuffle on ``by`` + one sort —
    no join operator, no per-key collect, no candidate explosion.
    Shares :func:`asof_join`'s known limit: a window partition cannot
    be split, so one pathological ``by`` key = one straggler task.

    Determinism: the window ordering is (time, side, candidate
    struct), a total order, so duplicate right timestamps cannot make
    the plan nondeterministic; among right rows at the SAME timestamp
    the backward carry keeps the struct-max payload and the forward
    carry the struct-min (callers needing a specific dup-timestamp
    winner should pre-dedup right on (by, on_time)).

    ``left`` and ``right`` column names must be disjoint apart from
    ``by`` + ``on_time`` (same contract a join would impose).
    """
    from pyspark.sql import Window

    by = list(by)
    overlap = (set(left.columns) & set(right.columns)) - set(by) - {on_time}
    if overlap:
        raise ValueError(
            f"nearest_join: overlapping non-key columns {sorted(overlap)}; "
            "alias them apart before joining"
        )
    _reserve(
        "nearest_join", left, "_side", "_cand", "_prev", "_next", "_chosen"
    )
    payload = [c for c in right.columns if c not in (*by, on_time)]
    cand = F.struct(
        F.col(on_time).alias("_t"), *[F.col(c) for c in payload]
    )
    l_tag = left.withColumn("_side", F.lit(1))
    r_tag = right.select(*by, F.col(on_time), cand.alias("_cand")).withColumn(
        "_side", F.lit(0)
    )
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    order = [
        F.col(on_time).asc(),
        F.col("_side").asc(),  # right rows first at equal times: Δ=0
        F.col("_cand").asc_nulls_first(),
    ]
    w_back = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = (
        merged.withColumn(
            "_prev", F.last("_cand", ignorenulls=True).over(w_back)
        )
        .withColumn("_next", F.first("_cand", ignorenulls=True).over(w_fwd))
        .filter(F.col("_side") == 1)
    )
    d_prev = F.col(on_time) - F.col("_prev._t")
    d_next = F.col("_next._t") - F.col(on_time)
    prev_ok = F.col("_prev").isNotNull() & (d_prev <= F.lit(tolerance))
    next_ok = F.col("_next").isNotNull() & (d_next <= F.lit(tolerance))
    # tie (d_prev == d_next) → the earlier right row, i.e. the prev side
    pick_prev = prev_ok & (~next_ok | (d_prev <= d_next))
    chosen = F.when(pick_prev, F.col("_prev")).when(next_ok, F.col("_next"))
    out = carried.withColumn("_chosen", chosen)
    for c in payload:
        out = out.withColumn(right_prefix + c, F.col(f"_chosen.{c}"))
    out = out.withColumn(right_prefix + on_time, F.col("_chosen._t"))
    return out.drop("_side", "_cand", "_prev", "_next", "_chosen")


def nearest_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on_time: str,
    by: Sequence[str],
    tolerance: float,
    bucket_width: float | None = None,
    right_prefix: str = "r_",
) -> DataFrame:
    """The hot-key-safe formulation of :func:`nearest_join` — same
    semantics (nearest right row within ±``tolerance``, |Δ|-ties to
    the earlier right row, left-outer), different plan: because the
    search radius is BOUNDED, the candidate set is a 3-bucket
    neighborhood equi-join instead of a per-key window.

    Each side keys on ``floor(time / bucket_width)``; a left row
    probes buckets {b−1, b, b+1}, which covers every candidate since
    ``bucket_width ≥ tolerance`` (enforced). The join is a plain hash
    equi-join on (by…, bucket) — a pathological key spreads over its
    time buckets AND gets AQE's skew-split, neither of which a window
    partition can have (:func:`nearest_join`'s documented straggler
    limit). The per-left argmin is one partial-aggregated
    ``min(struct(|Δ|, t, payload))`` whose lexicographic order IS the
    tie rule, so no second window either. Cost: 3× left fan-out +
    one shuffle — the standard bounded-range-join trade.

    Left rows are identified by ``monotonically_increasing_id`` taken
    once before the fan-out (single lineage — never joined back to a
    recomputed branch); the id is internal and dropped from the
    output. Output contract matches :func:`nearest_join`: left
    columns + ``right_prefix``-named payload/time columns.
    """
    if bucket_width is None:
        # tolerance == 0 (exact-time matching) is valid semantics but
        # the floor(t/w) keying needs a POSITIVE width — any width
        # covers it, since the Δ <= tolerance filter does the real
        # bounding (a zero default would divide by zero in the probe)
        bucket_width = float(tolerance) if tolerance > 0 else 1.0
    if bucket_width <= 0:
        raise ValueError("bucket_width must be > 0")
    if bucket_width < tolerance:
        raise ValueError(
            "bucket_width must be >= tolerance: the 3-bucket probe "
            f"neighborhood only covers ±bucket_width ({bucket_width} < "
            f"{tolerance})"
        )
    by = list(by)
    overlap = (set(left.columns) & set(right.columns)) - set(by) - {on_time}
    if overlap:
        raise ValueError(
            f"nearest_join_bucketed: overlapping non-key columns "
            f"{sorted(overlap)}; alias them apart before joining"
        )
    _reserve("nearest_join_bucketed", left, "_lid", "_b", "_r", "_best")
    payload = [c for c in right.columns if c not in (*by, on_time)]
    w = float(bucket_width)
    left_cols = left.columns
    lid = left.withColumn("_lid", F.monotonically_increasing_id())
    probes = lid.withColumn(
        "_b",
        F.explode(
            F.array(
                F.floor(F.col(on_time) / F.lit(w)).cast("long") - 1,
                F.floor(F.col(on_time) / F.lit(w)).cast("long"),
                F.floor(F.col(on_time) / F.lit(w)).cast("long") + 1,
            )
        ),
    )
    rb = right.select(
        *by,
        F.floor(F.col(on_time) / F.lit(w)).cast("long").alias("_b"),
        F.struct(
            F.col(on_time).alias("_t"), *[F.col(c) for c in payload]
        ).alias("_r"),
    )
    j = probes.join(rb, on=[*by, "_b"], how="left")
    delta = F.abs(F.col("_r._t") - F.col(on_time))
    cand = F.when(
        F.col("_r").isNotNull() & (delta <= F.lit(tolerance)),
        F.struct(delta.alias("_d"), F.col("_r").alias("_c")),
    )
    # min(struct) ignores NULLs and orders by (|Δ|, right time,
    # payload) — exactly nearest_join's pick + tie rules; left rows
    # with no candidate keep NULL (left-outer), and a right row seen
    # via two probe buckets collapses to one winner by the same min.
    g = j.groupBy("_lid").agg(
        *[F.first(c).alias(c) for c in left_cols],
        F.min(cand).alias("_best"),
    )
    for c in payload:
        g = g.withColumn(right_prefix + c, F.col(f"_best._c.{c}"))
    g = g.withColumn(right_prefix + on_time, F.col("_best._c._t"))
    return g.drop("_lid", "_best")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    on: Sequence[str] = (),
    bucket_width: int = 600,
    max_buckets_per_interval: int = 4096,
) -> DataFrame:
    """Interval-overlap join — all (left, right) pairs whose half-open
    numeric intervals ``[l_lo, l_hi)`` and ``[r_lo, r_hi)`` intersect,
    optionally also matching on the ``on`` key columns.

    The naive formulation is a non-equi condition that Spark can only
    execute as a nested-loop join — O(|L|·|R|) and a broadcast
    requirement, dead at scale. This operator converts it into an
    EQUI-join: each interval is exploded to the coarse buckets
    (``bucket_width`` units) it touches, the join runs on
    (bucket, *on) through a regular shuffled hash/sort-merge path,
    the true overlap predicate filters within buckets, and an
    emit-once guard (only the bucket containing the overlap's start,
    ``floor(max(l_lo, r_lo) / w)``, may emit the pair) removes
    multi-bucket duplicates WITHOUT a distinct shuffle.

    Pick ``bucket_width`` near the typical interval length: wider →
    fewer replicas per interval, more false candidates per bucket.
    Interval bounds must be numeric (cast timestamps to epoch first);
    column names must be disjoint between the two inputs except the
    shared ``on`` keys.

    Degenerate inputs (r13):

    - EMPTY/INVERTED intervals (``lo >= hi``) are dropped before the
      join: an empty interval intersects nothing. The pairwise
      predicate alone would wrongly emit them — ``(l_lo < r_hi) AND
      (r_lo < l_hi)`` equals the true non-empty-intersection test
      ``max(lo) < min(hi)`` only when BOTH intervals are non-empty
      (an empty [5,5) against [1,10) passes both comparisons) — and
      an inverted interval would explode a silently DESCENDING bucket
      sequence.
    - an interval spanning more than ``max_buckets_per_interval``
      buckets fails LOUDLY instead of fanning out without bound: one
      pathological row (a sensor stuck open for a year against a
      10-minute bucket) otherwise explodes ~50k replicas per row and
      OOMs the stage with no hint of which input or row did it. Widen
      ``bucket_width`` or pre-split such intervals; raise the cap only
      with the fan-out cost understood.
    """
    on = list(on)
    # degenerate-param sweep (r16): bucket_width=0 divides the bounds
    # to ±Inf (double division never throws, even under ANSI) and a
    # NEGATIVE width makes F.sequence(lo_b, hi_b) silently DESCENDING
    # — wrong buckets, wrong pairs, no error; a cap < 1 would make
    # every non-empty interval trip the fan-out raise with a message
    # blaming the data instead of the parameter.
    if bucket_width < 1:
        raise ValueError(
            f"bucket_width must be >= 1, got {bucket_width}"
        )
    if max_buckets_per_interval < 1:
        raise ValueError(
            "max_buckets_per_interval must be >= 1, got "
            f"{max_buckets_per_interval}"
        )
    _reserve("interval_overlap_join", left, "_b_l", "_b_r")
    _reserve("interval_overlap_join", right, "_b_l", "_b_r")
    w = F.lit(bucket_width).cast("long")

    def buckets(
        df: DataFrame, lo: str, hi: str, side: str, cap: int
    ) -> DataFrame:
        df = df.filter(F.col(lo) < F.col(hi))  # empty ∩ anything = ∅
        # after the filter, lo can't be NaN (NaN < hi is false under
        # NaN-greatest, same as the pairwise predicate — a NaN-lo row
        # is CONSISTENTLY a non-match in both plans). hi CAN still be
        # NaN (lo < NaN is true): the pairwise predicate would match
        # it to everything right of lo, but floor(NaN/w) is silently
        # bucket 0 — the row matches near partners and misses far
        # ones. Refuse loudly (r16).
        lo_b = F.floor(F.col(lo) / w).cast("long")
        hi_b = F.floor(
            _nan_guarded_double(F.col(hi), "interval_overlap_join", hi) / w
        ).cast("long")
        n_b = hi_b - lo_b + F.lit(1)
        guarded_lo = F.when(
            n_b > F.lit(cap),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"interval_overlap_join: an interval in "
                        f"{lo}/{hi} spans "
                    ),
                    n_b.cast("string"),
                    F.lit(
                        f" buckets (cap {cap} at bucket_width="
                        f"{bucket_width}) — widen bucket_width, "
                        "pre-split the interval, or raise "
                        "max_buckets_per_interval"
                    ),
                )
            ).cast("long"),
        ).otherwise(lo_b)
        b = F.explode(F.sequence(guarded_lo, hi_b))
        return df.withColumn(f"_b_{side}", b)

    l = buckets(left, l_lo, l_hi, "l", max_buckets_per_interval)
    r = buckets(right, r_lo, r_hi, "r", max_buckets_per_interval)
    cond = l["_b_l"] == r["_b_r"]
    for k in on:
        cond = cond & (l[k] == r[k])
    overlap = (l[l_lo] < r[r_hi]) & (r[r_lo] < l[l_hi])
    emit_once = l["_b_l"] == F.floor(F.greatest(l[l_lo], r[r_lo]) / w).cast(
        "long"
    )
    out = l.join(r, cond & overlap & emit_once, "inner")
    out = out.drop("_b_l").drop("_b_r")
    for k in on:
        out = out.drop(r[k])
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 16,
    hot_keys: Sequence | None = None,
) -> DataFrame:
    """Skew-safe equi-join by key salting — the manual escape hatch
    for the cases AQE's skew-join split cannot reach (AQE only splits
    sort-merge join partitions, and only when statistics surface the
    skew; a hot key feeding a shuffled hash join, or a run with AQE
    off, still serializes into one straggler task).

    Mechanics: the left (probe/skewed) side gets a salt in
    [0, salt); the right side is replicated ``salt`` times via a
    broadcast range crossJoin; the join key becomes (keys..., salt),
    so one hot key's rows spread across ``salt`` reducer partitions.
    Correctness holds for ANY salt assignment (every right row exists
    under every salt value). The salt is derived DETERMINISTICALLY —
    xxhash64 over the full row, pmod salt — so a re-executed map task
    after a shuffle-fetch failure assigns the same salts it did the
    first time; a nondeterministic source (rand,
    monotonically_increasing_id) could re-salt rows some reducers
    already consumed, duplicating or dropping them under partial
    stage recompute (the SPARK-23207 class of bugs). The one residual
    caveat: byte-identical duplicate rows share a salt — a hot KEY
    whose rows differ anywhere (the case salting exists for) still
    spreads across all ``salt`` partitions.

    ``hot_keys``: when the skewed keys are known (they usually are —
    heavy-hitter sketches are one `cms_heavy_hitters` query away),
    only rows with those key values are salted and ONLY their right
    rows are replicated; the cold remainder takes the plain join.
    This bounds the replication cost to |hot slice| × salt instead of
    |right| × salt. Pass the string ``"auto"`` to probe the left side
    with :func:`detect_hot_keys` first — with no skew detected the
    call degrades to the PLAIN join (zero replication), which makes
    auto mode safe to leave on.

    ``how``: 'inner' or 'left' (for 'right'/'full', replicated
    non-matching right rows would emit one null-padded row per salt;
    flip the sides instead)."""
    if salt < 1:
        # pmod(x, 0) throws DIVIDE_BY_ZERO deep in codegen under the
        # pinned-ANSI session (or yields NULL salts under ANSI-off —
        # every row on one reducer, silently un-salted); a negative
        # salt replicates the right side zero times and DROPS every
        # match (r16)
        raise ValueError(f"salt must be >= 1, got {salt}")
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (got {how!r}); "
            "for right/full outer, swap the inputs"
        )
    keys = list(on)
    _reserve("salted_join", left, "_salt")
    _reserve("salted_join", right, "_salt")
    first_key = keys[0]
    if isinstance(hot_keys, str):
        if hot_keys != "auto":
            raise ValueError("hot_keys must be a sequence, None, or 'auto'")
        hot_keys = detect_hot_keys(left, first_key)
        if not hot_keys:
            return left.join(right, on=keys, how=how)  # no skew: no salting

    def _salted(lf: DataFrame, rt: DataFrame) -> DataFrame:
        # Spark refuses to hash MapType (AnalysisException without the
        # legacy flag), so the deterministic salt hashes only the
        # hashable columns. Join keys are always hashable (maps are not
        # equi-joinable), so the salt input is never empty; dropping a
        # map column from the hash only coarsens salt spread for rows
        # identical everywhere else, it cannot break correctness.
        hashable = [
            f.name for f in lf.schema.fields if _hashable_type(f.dataType)
        ]
        lf = lf.withColumn(
            "_salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(salt)),
        )
        salts = F.broadcast(
            lf.sparkSession.range(salt).select(F.col("id").alias("_salt"))
        )
        rt = rt.crossJoin(salts)
        out = lf.join(rt, on=keys + ["_salt"], how=how)
        return out.drop("_salt")

    if hot_keys is None:
        return _salted(left, right)

    # NULL is never a hot key here: a None in the list would make the
    # isin() filters below evaluate to NULL for every non-matching row,
    # silently dropping the whole cold slice. Null-keyed left rows are
    # already routed to the cold path by the isNull() disjunct (where
    # the plain join handles them per `how`), so stripping None loses
    # nothing.
    hot = [k for k in hot_keys if k is not None]
    if not hot:
        return left.join(right, on=keys, how=how)
    l_hot = left.filter(F.col(first_key).isin(hot))
    l_cold = left.filter(
        ~F.col(first_key).isin(hot) | F.col(first_key).isNull()
    )
    r_hot = right.filter(F.col(first_key).isin(hot))
    plain = l_cold.join(right, on=keys, how=how)
    return _salted(l_hot, r_hot).unionByName(plain)


def detect_hot_keys(
    probe: DataFrame,
    key: str,
    sample_fraction: float = 0.02,
    factor: float = 2.0,
    max_keys: int = 100,
    min_sampled_rows: int = 8,
) -> list:
    """Heavy-hitter probe for :func:`salted_join`'s ``hot_keys``: key
    values whose estimated share of the probe side exceeds ``factor``
    × the fair per-reducer share (1 / shuffle partitions).

    Cost: one column-pruned aggregation over a ``sample_fraction``
    sample — at 100 TB this reads ~2% of one column, trivial next to
    the join it tunes. Sampling is SAFE BY CONSTRUCTION here: salting
    any key set (or none) leaves salted_join's result unchanged, so a
    missed borderline key only costs the straggler it would have
    split, never correctness. ``min_sampled_rows`` floors the call so
    tiny samples cannot promote noise; the result is capped at
    ``max_keys`` (the ``isin`` filter broadcasts it into the plan)."""
    spark = probe.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Nulls are excluded up front: groupBy keeps the null group, and a
    # None hot key would poison salted_join's isin() filters (NULL
    # three-valued logic drops every cold row). Null-keyed rows never
    # benefit from salting anyway — they join to nothing in an
    # equi-join.
    s = (
        probe.select(key)
        .filter(F.col(key).isNotNull())
        .sample(fraction=sample_fraction, seed=42)
    )
    counts = s.groupBy(key).agg(F.count(F.lit(1)).alias("_c"))
    n = counts.agg(F.sum("_c")).first()[0] or 0
    if not n:
        return []
    cutoff = max(factor * n / parts, float(min_sampled_rows))
    top = (
        counts.filter(F.col("_c") >= cutoff)
        .orderBy(F.col("_c").desc())
        .limit(max_keys)
        .collect()
    )
    return [r[key] for r in top]
