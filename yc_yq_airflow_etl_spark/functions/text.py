"""Text-analysis expression layer for training-data pipelines — all
JVM-side (split/transform/aggregate higher-order functions), no Python
UDFs, so they run inside whole-stage codegen at 100 TB.

Design constraint: every function here must be replayable in ANSI-ish
SQL (the DuckDB oracle), which is why hashes are built on md5 (shared
by both engines) rather than xxhash64 (Spark-only).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalar import let

MOD = 1_000_000_007  # fingerprint modulus: keeps a*31+c inside int64


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    """Lowercase + whitespace-collapse — the canonical form every
    dedup/fingerprint op hashes."""
    return F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization of normalized text → array<string>."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokenize(col))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (the MinHash unit). Built with
    sequence+transform+slice; empty when the doc has < k tokens."""
    return F.array_distinct(ngram_list(col, k))


def ngram_list(col: Column | str, k: int = 3) -> Column:
    """ALL k-word n-grams in document order, duplicates kept — the
    unit of the within-document repetition signal (the duplicate
    n-gram fraction quality filters threshold on);
    :func:`word_shingles` is its distinct twin. Empty when the doc has
    < k tokens."""
    words = tokenize(col)
    n = F.size(words)
    # guard, don't clamp: sequence(1, 0) is the DESCENDING array
    # [1, 0] in Spark, and slice(words, 0, k) then throws — a single
    # doc with < k tokens would crash the whole job. NULL text also
    # routes to the empty branch (n is NULL → when() is NULL → false).
    return F.when(
        n >= F.lit(k),
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Affine min-hash family over md5-derived integers. One md5 per
# shingle (the expensive part), then num_hashes cheap (a*h1+b*h2+c)
# mod P permutations. Constants are fixed (seeded) and inlined into
# both the Spark expressions and the DuckDB oracle SQL so the
# construction is bit-identical across engines. P = 2^31-1; h1/h2 are
# 28-bit md5 prefixes, a,b < 2^31 → products stay under 2^59 (no
# int64 overflow under ANSI mode).
MINHASH_P = 2_147_483_647


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int, int]]:
    import random

    rng = random.Random(42)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(1, MINHASH_P), rng.randrange(MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signature(shingles: Column, num_hashes: int = 24) -> Column:
    """MinHash signature: array of ``num_hashes`` min-values of an
    affine hash family applied to each shingle's md5-derived integer
    pair (Broder's estimator: P[sig_i(A) = sig_i(B)] = Jaccard(A,B))."""
    digests = F.transform(shingles, lambda s: F.md5(s))
    h1 = F.transform(
        digests, lambda d: F.conv(F.substring(d, 1, 7), 16, 10).cast("long")
    )
    h2 = F.transform(
        digests, lambda d: F.conv(F.substring(d, 9, 7), 16, 10).cast("long")
    )
    def _mk(a: int, b: int, c: int):
        # closure factory, NOT default args: PySpark derives the
        # lambda-variable count from the function signature
        return lambda x, y: (F.lit(a) * x + F.lit(b) * y + F.lit(c)) % F.lit(
            MINHASH_P
        )

    mins = [
        F.array_min(F.zip_with(h1, h2, _mk(a, b, c)))
        for a, b, c in _minhash_coeffs(num_hashes)
    ]
    return F.array(*mins)


def minhash_signature_sql(
    shingles_expr: str, num_hashes: int = 24
) -> str:
    """The DuckDB replay of :func:`minhash_signature` — same md5
    prefixes, same inlined coefficients, same modulus — as a SQL
    expression over ``shingles_expr`` (a list<varchar> expression)."""
    parts = []
    for a, b, c in _minhash_coeffs(num_hashes):
        parts.append(
            f"list_min(list_transform({shingles_expr}, s -> "
            f"({a} * ('0x' || substr(md5(s), 1, 7))::BIGINT "
            f"+ {b} * ('0x' || substr(md5(s), 9, 7))::BIGINT "
            f"+ {c}) % {MINHASH_P}))"
        )
    return "[" + ", ".join(parts) + "]"


def simhash_u64_sql(word_expr: str) -> str:
    """DuckDB replay of the SimHash token hash
    (operators/dedup.simhash): the first 16 hex chars of md5(word) as
    an unsigned 64-bit integer — identical to Python's
    ``int(hashlib.md5(w).hexdigest()[:16], 16)``."""
    return f"('0x' || substr(md5({word_expr}), 1, 16))::UBIGINT"


def rolling_fingerprint(col: Column | str) -> Column:
    """Polynomial rolling hash (mod 1e9+7) over the characters of the
    normalized text — an order-sensitive document fingerprint (two
    docs with the same words in different order differ, unlike a
    bag-of-words hash)."""
    chars = F.split(normalize_text(col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.coalesce(F.ascii(ch), F.lit(0))) % MOD,
    )


# Small per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately tiny + disjoint where possible: the score is
# |tokens ∩ stopwords(lang)| (distinct hits), argmax wins, ties broken
# by fixed language order.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "nicht", "mit", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "une"],
    "es": ["el", "los", "las", "es", "por", "para", "una", "con"],
    "zh": ["de", "le", "shi", "bu", "wo", "ni", "ta", "men"],
}
LANG_ORDER = ["en", "de", "fr", "es", "zh"]


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Distinct stopword types of ``lang`` present in the text."""
    words = F.array_distinct(tokenize(col))
    return F.size(
        F.array_intersect(words, F.lit(list(STOPWORDS[lang])))
    )


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword hits, first-listed
    language wins ties (so 'en' is the default for hit-less docs).

    Single-tokenize shape (r18, guide §4.2): naively composing
    ``stopword_hits`` per language re-expands the tokenize subtree
    (two regexes + split + array_distinct) into EVERY score reference
    — the r17 plan carried ~30 copies of it in one projection, and
    Catalyst performs no CSE across the when/greatest tree. Both the
    distinct-token array and the 5-score vector are therefore bound
    ONCE as higher-order-function lambda variables (a 1-element
    ``transform`` is the expression-level `let`): tokenize runs once
    per row, the intersects once per language, and the argmax
    when-chain only references cheap ``element_at`` lookups. Scores
    and tie-breaking are byte-identical to the composed form.

    NULL text identifies as NULL (r15 degenerate-input sweep): the
    scores are all NULL, so every tie-check was three-valued-false and
    the fallthrough default silently classified every NULL doc as the
    LAST-listed language ('zh') — misattributing them into that
    stratum in mixture weights and stratified splits. The oracle
    replays (a CASE with no ELSE) always said NULL here; the fixture's
    NULL-free text column is what masked the divergence."""
    c = F.col(col) if isinstance(col, str) else col

    def _pick(sc: Column) -> Column:
        scores = [F.element_at(sc, i + 1) for i in range(len(LANG_ORDER))]
        best = F.greatest(*scores)
        expr = F.lit(LANG_ORDER[-1])
        for lang, score in reversed(
            list(zip(LANG_ORDER[:-1], scores[:-1]))
        ):
            expr = F.when(score == best, F.lit(lang)).otherwise(expr)
        return expr

    words = F.array_distinct(tokenize(c))
    # bind `words` once; compute the per-language hit vector from it
    scores_arr = let(
        words,
        lambda ws: F.array(
            *[
                F.size(F.array_intersect(ws, F.lit(list(STOPWORDS[lang]))))
                for lang in LANG_ORDER
            ]
        ),
    )
    # bind the score vector once; the argmax chain reads elements
    picked = let(scores_arr, _pick)
    return F.when(c.isNotNull(), picked)


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
):
    """Context-window chunking: split each document's token stream
    into overlapping windows of ``chunk_tokens`` tokens advancing by
    ``stride`` — the standard pre-tokenization step for fixed-window
    model training. Output: (id, chunk_id, n_tokens, chunk_md5).

    Entirely JVM-side (sequence → explode → slice → md5): chunk
    generation is a narrow per-row explode — no shuffle at all, so it
    streams at scan speed over 100 TB. The md5 stands in for the
    chunk payload so downstream exact-dedup of chunks is a plain
    hash-groupBy.
    """
    if chunk_tokens < 1:
        # slice(length 0) emits EMPTY chunks whose md5("") all collide
        # — junk rows, silently (r16)
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if stride < 1:
        # F.sequence with step 0 / negative dies mid-job with an error
        # naming neither the param nor the operator
        raise ValueError(f"stride must be >= 1, got {stride}")
    toks = tokenize(text_col)
    exploded = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            toks.alias("_toks"),
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(toks) - 1, F.lit(0)),
                    F.lit(stride),
                )
            ).alias("chunk_id", "_start"),
        )
    )
    chunk = F.slice("_toks", F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def normalize_entity_key(col: Column | str) -> Column:
    """Record-linkage blocking key: lowercase, drop a leading article
    ('the') and a trailing legal suffix ('llc'/'inc') as WHOLE
    whitespace-delimited tokens, then strip every non-alphanumeric —
    the canonical first pass of entity resolution, so case/
    punctuation/suffix variants of one real-world entity collide into
    one equi-join key. Token-delimited stripping (not prefix/suffix
    matching on the squashed string) so names that merely start or end
    with those letters are untouched: 'Theodore' stays 'theodore' and
    'Zinc' stays 'zinc' — the squashed-string form would mangle them
    to 'odore'/'z' and inflate blocking-key collisions into false
    merges. Pure JVM regexes; the DuckDB oracles restate the identical
    three-step normalization."""
    x = F.regexp_replace(F.lower(_c(col)), "^the\\s+", "")
    x = F.regexp_replace(x, "[\\s,.]+(llc|inc)\\.?$", "")
    return F.regexp_replace(x, "[^a-z0-9]", "")
