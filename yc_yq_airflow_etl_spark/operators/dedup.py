"""Deduplication operator family for training-data pipelines:

- :func:`exact_dedup` — hash-groupBy exact dedup (canonical keeper)
- :func:`minhash_lsh_pairs` — MinHash + banded LSH near-dup pairs
  with exact-Jaccard verification of candidates
- :func:`simhash` / :func:`simhash_dup_pairs` — 64-bit SimHash with
  banded hamming candidate search
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard for a bounded
  candidate set
- :func:`embedding_cosine_dupes` — near-dup pairs by embedding cosine
  with random-hyperplane LSH blocking

Scale design (the 100 TB story, applied to every op here):
- nothing collects to the driver; every step is groupBy/join/explode;
- LSH banding turns the O(n²) pair space into per-bucket joins — the
  shuffle key is (band_index, band_hash), and pathological buckets
  (boilerplate docs) are capped with a per-bucket size guard before
  the self-join, which is exactly the salting-style skew defense the
  AQE skew-join cannot apply to an exploding self-join;
- exact verification (Jaccard / cosine) happens only on LSH
  candidates, never all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.scalar import round6
from ..functions.text import normalize_text, word_shingles
from .checkpoints import cache, materialize, release, scope


def _normalize_py(text: str) -> str:
    """EXACT Python replica of ``functions.text.normalize_text``'s
    JVM semantics, shared by every Arrow/pandas hashing path: Spark's
    ``trim`` strips SPACES only, and Java-regex ``\\s`` is the ASCII
    class ``[ \\t\\n\\x0b\\f\\r]`` — Python's default unicode-aware
    ``\\s``/``str.strip()`` would split on U+00A0 etc. and silently
    break fingerprint parity between the pandas signatures and the
    expression layer (and the DuckDB oracles, whose RE2 ``\\s`` is
    ASCII too)."""
    import re

    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition compute-heavy per-row stages when the input arrives
    under-partitioned (e.g. one small parquet file). At lake scale the
    input already has hundreds of splits and this is a no-op; locally
    it's what turns a single-thread md5 loop into 32 parallel tasks.

    Width is estimated from the scan's file list plus the same
    maxPartitionBytes split math FileSourceScan uses — plan-level
    metadata only, no ``df.rdd`` conversion (which would force
    plan-to-RDD translation on the driver per call). The file estimate
    is only trusted for SCAN-ROOTED plans (project/filter over a file
    scan): ``inputFiles`` reports the leaf scan's files even for
    frames that are already wide after a shuffle (groupBy/join
    output), where a small file list says nothing about the frame's
    actual width and would inject a redundant repartition. Shuffled or
    scan-less frames fall back to the RDD partition count."""
    import math
    import re

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    threshold = max(2, target // 2)
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString()
        # any width-changing node between scan and frame → file count lies
        scan_rooted = not any(
            op in analyzed
            for op in (
                "Aggregate", "Join", "Window", "Sort", "Deduplicate",
                "Distinct", "Repartition", "Expand", "GlobalLimit",
            )
        )
    except Exception:
        scan_rooted = False  # can't prove it — take the exact path
    files: list[str] = []
    if scan_rooted:
        try:
            files = df.inputFiles()
        except Exception:
            files = []
    if not files:
        width = df.rdd.getNumPartitions()
    elif len(files) >= threshold:
        return df  # at least one split per file — already wide enough
    else:
        # few files can still mean many splits for big files: size them
        # (a handful of driver FS calls, only on the small-count path)
        mpb_raw = spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
        jvm = spark.sparkContext._jvm
        try:  # canonical parser: handles "128m"-style suffixed values
            mpb = int(
                jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                    mpb_raw
                )
            )
        except Exception:
            mpb = int(re.sub(r"[^0-9]", "", mpb_raw) or "134217728")
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        width = 0
        for f in files:
            try:
                p = jvm.org.apache.hadoop.fs.Path(f)
                size = p.getFileSystem(hconf).getFileStatus(p).getLen()
            except Exception:
                size = 0  # listed file vanished mid-plan: count 1 split
            width += max(1, math.ceil(size / mpb))
            if width >= threshold:
                return df
    if width < threshold:
        return df.repartition(target, F.col(key))
    return df


def _signatures_pandas(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, num_hashes: int
) -> DataFrame:
    """(id, shingles, minhash signature) via Arrow batches — the
    vectorized twin of functions.text.word_shingles +
    minhash_signature (same normalization, same md5-prefix affine
    family, same constants; parity pinned by the dedup_minhash_pairs
    DuckDB oracle and tests)."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.text import MINHASH_P, _minhash_coeffs

    coeffs = _minhash_coeffs(num_hashes)
    schema = T.StructType(
        [
            T.StructField("_id", T.LongType(), False),
            T.StructField("_sh", T.ArrayType(T.StringType()), False),
            T.StructField("_sig", T.ArrayType(T.LongType()), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, shs, sigs = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = _normalize_py(str(text)).split(" ")
                shingles = list(
                    dict.fromkeys(
                        " ".join(words[i : i + shingle_k])
                        for i in range(len(words) - shingle_k + 1)
                    )
                )
                if not shingles:
                    continue
                digests = [
                    hashlib.md5(s.encode("utf-8")).hexdigest() for s in shingles
                ]
                # substring(d, 1, 7) / substring(d, 9, 7), 1-based
                h1 = np.array([int(d[0:7], 16) for d in digests], dtype=np.int64)
                h2 = np.array([int(d[8:15], 16) for d in digests], dtype=np.int64)
                sig = [
                    int(((a * h1 + b * h2 + c) % MINHASH_P).min())
                    for a, b, c in coeffs
                ]
                ids.append(doc_id)
                shs.append(shingles)
                sigs.append(sig)
            # yield ONLY non-empty frames: a batch whose rows were all
            # skipped (NULL text, fewer than shingle_k words) would
            # build empty FLOAT64 columns, and Arrow cannot convert an
            # empty float64 ndarray to array<string>/array<long> —
            # pyarrow raises "NumPyConverter doesn't implement
            # <list<element: string>>" and the whole job dies on the
            # one partition of short docs (found r14 by the
            # degenerate-input sweep; pinned in tests/test_llm_ops.py)
            if ids:
                yield pd.DataFrame({"_id": ids, "_sh": shs, "_sig": sigs})

    return df.select(id_col, text_col).mapInPandas(gen, schema)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by md5 of normalized text: one row per distinct
    content with the canonical (min-id) keeper and the duplicate
    count. Pure hash aggregation — one shuffle on the fingerprint.

    NULL texts are EXCLUDED: md5(NULL) is NULL, and grouping on the
    NULL fingerprint would declare every unknown-content doc a copy
    of the min-id one — under the 'keep iff doc_id == keeper_id'
    downstream contract that silently drops them from the corpus.
    Absent from the output = in no duplicate cluster = kept,
    consistent with the pandas signature path, which skips NULLs."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.md5(normalize_text(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("copies"),
            # id envelope: min (keeper) + max pin the group's id range —
            # a member swapped between two same-size groups preserves
            # every count but not both envelopes
            F.max(id_col).alias("max_id"),
            # full-membership checksum (r12): the envelope can still
            # miss an INTERIOR member swap between same-size groups;
            # the id sum pins the exact member set
            F.sum(id_col).cast("bigint").alias("id_sum"),
        )
    )


def _band_params(num_hashes: int, bands: int) -> int:
    """Rows-per-band, with the degenerate combinations refused (r16):
    bands < 1 made F.sequence silently DESCEND into junk band ids,
    and bands > num_hashes made r = 0 — every doc then md5-hashes an
    EMPTY signature slice into the same bucket per band, the cap
    guard drops those degenerate buckets, and recall silently becomes
    zero (the worst failure mode: no error, no candidates). A
    non-dividing bands leaves the num_hashes % bands tail rows
    unused — standard LSH, allowed."""
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if num_hashes < bands:
        raise ValueError(
            f"bands ({bands}) cannot exceed num_hashes ({num_hashes}) — "
            "rows-per-band would be 0 and every document would share "
            "one empty-slice bucket"
        )
    return num_hashes // bands


def _band_explode(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """Narrow (_id, band, bucket) table from a signature frame: the
    ``_sig`` vector sliced into ``bands`` bands of ``r`` rows, each
    band's slice md5-hashed into its LSH bucket key. Shared by the
    batch self-join dedup (:func:`minhash_lsh_pairs`) and the
    incremental index probe (:func:`incremental_minhash_dedup`) — one
    definition so the two paths can never band differently."""
    return sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("_sig"), b * r + 1, r),
                                lambda x: x.cast("string"),
                            ),
                            "|",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 24,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 50,
) -> DataFrame:
    """MinHash→LSH→verify near-duplicate pairs.

    Pipeline: k-word shingles → ``num_hashes`` md5 min-hashes →
    ``bands`` bands of ``num_hashes // bands`` rows → docs sharing any
    band bucket become candidates → candidates are verified with
    EXACT Jaccard over their shingle sets → pairs ≥ threshold.

    ``max_bucket`` drops degenerate buckets (e.g. empty/boilerplate
    docs all hashing together) whose self-join would explode
    quadratically — the standard guard in web-scale dedup.

    Output: ``id_a < id_b, est_jaccard, jaccard``.
    """
    r = _band_params(num_hashes, bands)
    # The signature table is the expensive stage. Everything downstream
    # references it 3× (band explode, and both sides of the verify
    # join), so persist it once — Spark would otherwise recompute the
    # full hashing per branch of the self-join. MEMORY_AND_DISK: a
    # signature row is O(kB), so at 100 TB of docs this is ~0.1% of
    # input and spills harmlessly.
    #
    # The computation itself runs as an Arrow-batched mapInPandas
    # (_signatures_pandas), not the expression-level construction:
    # nested higher-order functions (transform/zip_with with md5 inside
    # lambdas) fall out of whole-stage codegen into interpreted eval —
    # measured ~60ms/doc of CPU vs ~1ms/doc vectorized. Identical
    # algorithm either way (functions/text.py pins both and the DuckDB
    # oracle replays it).
    with scope() as s:
        sig = cache(
            _signatures_pandas(
                _spread(df, id_col), id_col, text_col, shingle_k, num_hashes
            )
        )
        # Fill the cache NOW: the three downstream branches (band explode
        # + both verify-join sides) otherwise run as concurrent stages of
        # one job, each recomputing the full hash plan before any of them
        # has populated the cache.
        n_sig = sig.count()

        # narrow band table: (id, band, bucket) only — keeps the explode,
        # the bucket-size aggregation, and the candidate self-join free of
        # the wide shingle/signature payloads
        banded = _band_explode(sig, bands, r)

        # skew guard: cap bucket size before the quadratic self-join
        bucket_sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        capped = banded.join(
            bucket_sizes.filter(F.col("_n") <= max_bucket), ["band", "bucket"]
        )

        cand = (
            capped.select("band", "bucket", F.col("_id").alias("id_a"))
            .join(
                capped.select("band", "bucket", F.col("_id").alias("id_b")),
                ["band", "bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        cand_obs = Observation()
        cand = cand.observe(cand_obs, F.count(F.lit(1)).alias("n"))

        # verification join: candidates (small) back to the persisted
        # signature table for exact Jaccard + signature-agreement estimate
        pairs = cand.join(
            sig.select(
                F.col("_id").alias("id_a"),
                F.col("_sh").alias("sh_a"),
                F.col("_sig").alias("sig_a"),
            ),
            "id_a",
        ).join(
            sig.select(
                F.col("_id").alias("id_b"),
                F.col("_sh").alias("sh_b"),
                F.col("_sig").alias("sig_b"),
            ),
            "id_b",
        )

        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        est = F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                lambda x: x,
            )
        ) / F.lit(num_hashes)
        # the (small) pair output materialized, so the (large) signature
        # cache can go with this scope
        out = materialize(
            pairs.select(
                "id_a",
                "id_b",
                round6(est).alias("est_jaccard"),
                # union=0 is impossible for banded candidates (a signature
                # implies >=1 shingle) but ANSI divide-by-zero would kill
                # the job if parity ever broke - degrade to 0.0 instead
                F.when(union > 0, round6(inter.cast("double") / union))
                .otherwise(F.lit(0.0))
                .alias("jaccard"),
            ).filter(F.col("jaccard") >= jaccard_threshold),
            "minhash_lsh_pairs: verified pairs",
        )
        global LAST_MINHASH_CANDIDATES
        # an empty signature table lets AQE prune the verify joins, and the
        # observed candidate frame under them, before they run (no count
        # is reported): no signature, no candidate
        LAST_MINHASH_CANDIDATES = int(cand_obs.get["n"]) if n_sig else 0
        return s.keep(out)


def _probe_sig_pairs(
    sig_i: DataFrame,
    sig_b: DataFrame,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    max_bucket: int,
) -> DataFrame:
    """Shared probe core of the incremental dedup family: band both
    signature frames (identical ``_band_explode`` construction), cap
    INDEX-side bucket size, equi-join batch bands against index bands,
    dedup candidates across bands, verify with exact shingle Jaccard.
    Inputs are (_id, _sh, _sig) frames — already persisted by the
    caller. Returns (new_id, index_id, est_jaccard, jaccard)."""
    r = _band_params(num_hashes, bands)
    banded_i = _band_explode(sig_i, bands, r)
    banded_b = _band_explode(sig_b, bands, r)
    bucket_sizes = banded_i.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_n")
    )
    capped_i = banded_i.join(
        bucket_sizes.filter(F.col("_n") <= max_bucket), ["band", "bucket"]
    )
    cand = (
        banded_b.select("band", "bucket", F.col("_id").alias("new_id"))
        .join(
            capped_i.select("band", "bucket", F.col("_id").alias("index_id")),
            ["band", "bucket"],
        )
        .select("new_id", "index_id")
        .dropDuplicates(["new_id", "index_id"])
    )
    pairs = cand.join(
        sig_b.select(
            F.col("_id").alias("new_id"),
            F.col("_sh").alias("sh_a"),
            F.col("_sig").alias("sig_a"),
        ),
        "new_id",
    ).join(
        sig_i.select(
            F.col("_id").alias("index_id"),
            F.col("_sh").alias("sh_b"),
            F.col("_sig").alias("sig_b"),
        ),
        "index_id",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda x: x,
        )
    ) / F.lit(num_hashes)
    return (
        pairs.select(
            "new_id",
            "index_id",
            round6(est).alias("est_jaccard"),
            # union=0 is impossible for banded candidates (a signature
            # implies >=1 shingle) but ANSI divide-by-zero would kill
            # the job if parity ever broke - degrade to 0.0 instead
            F.when(union > 0, round6(inter.cast("double") / union))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def _index_table(path: str):
    """The minhash fingerprint index's ManifestTable handle: ``_id``
    stats give metadata-only row accounting on every append (no
    recount job) plus per-file id ranges for the sync anti-join's
    benefit on long-lived indexes."""
    from ..sources.manifest import ManifestTable

    return ManifestTable(path, stat_cols=("_id",))


def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 24,
) -> None:
    """Materialize the corpus fingerprint index the incremental dedup
    loop probes: one parquet table of (_id, _sh, _sig) — shingle set +
    minhash signature per document. This is the artifact that makes
    per-ingest cost O(batch): once written, NO index-side hashing ever
    re-runs; probes read fingerprints, not text (and never the corpus
    text column at all). Banding is derived from ``_sig`` at probe
    time (cheap integer slicing), so band-count/threshold tuning needs
    no index rebuild — only (shingle_k, num_hashes) are baked in, and
    every probe must pass the same values (same contract as the ANN
    index's centroids/planes parameters).

    Storage is a :class:`~..sources.manifest.ManifestTable`, not a
    plain parquet directory (r15): ``mode("append")`` parquet writes
    share one ``_temporary/`` staging dir, so two concurrent appenders
    (an ingest loop plus a backfill) destroy each other's in-flight
    task files when the first job commit recursively deletes it — and
    a probe racing an append can list a half-committed batch and
    silently admit duplicates. The manifest commit protocol gives the
    index CAS-safe concurrent appends (lost-update-free rebase) and
    snapshot-isolated probes (the file list is resolved from one
    manifest, complete by construction) on any store."""
    sig = _signatures_pandas(
        _spread(df, id_col), id_col, text_col, shingle_k, num_hashes
    )
    _purge_legacy_parquet_index(df.sparkSession, path)
    _index_table(path).overwrite(sig)


def _purge_legacy_parquet_index(spark, path: str) -> None:
    """Remove a pre-r15 plain-parquet index layout before the first
    ManifestTable overwrite (r16 ADVICE): the manifest layout keeps
    its data under ``<path>/data/`` + ``<path>/_manifest/``, so
    top-level ``part-*.parquet`` / ``_SUCCESS`` files from the old
    ``mode("append")`` writer are treated as ABSENT by every read —
    correctness is already covered by the rebuild, but the stale files
    would sit as permanent debris no vacuum ever touches (and a user
    pointing plain ``spark.read.parquet(path)`` at the dir would read
    the STALE index). Deleting them on overwrite matches the call's
    replace-everything contract. Top-level files only — never the
    manifest layout's own subdirectories."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isFile() and (
            name == "_SUCCESS" or name.endswith(".parquet")
        ):
            fs.delete(st.getPath(), False)


def append_to_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 24,
) -> None:
    """Incremental index maintenance: fingerprint the ADMITTED batch
    docs (the ingest loop's novel survivors) and append their files —
    no rewrite of landed fingerprints. Parameters must match the
    original :func:`write_minhash_index` call. The append is a
    manifest commit (see :func:`write_minhash_index`): concurrent
    appenders rebase-stack instead of corrupting each other, and
    readers never observe a half-landed batch."""
    sig = _signatures_pandas(
        _spread(df, id_col), id_col, text_col, shingle_k, num_hashes
    )
    _index_table(path).append(sig)


def probe_minhash_index(
    spark,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 24,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 50,
) -> DataFrame:
    """Probe a persisted fingerprint index with a new batch: the
    per-ingest production path. Only the BATCH is hashed (one Arrow
    pass over the ingest, however large the corpus); the index side is
    a parquet scan of stored fingerprints feeding the band equi-join.
    Same output and semantics as :func:`incremental_minhash_dedup`
    (which derives the index inline) — equivalence is pinned by
    ``test_minhash_index_probe_matches_inline``.

    The result is an EAGER ``localCheckpoint`` — a materialized
    snapshot with no lineage back to ``path`` — deliberately: the
    ingest loop's very next step is ``append_to_minhash_index``, and
    a write into the probed path invalidates any cached plan that
    reads it, so a lazily-cached result would silently recompute
    against the post-append files (every appended batch doc matching
    its own fingerprint). Checkpointing makes the probe's answer
    immutable no matter what the caller does to the index next."""
    with scope() as s:
        # snapshot-isolated read (r15): the file list comes from ONE
        # committed manifest — an append landing mid-probe can neither
        # tear the scan nor leak its half-landed fingerprints in
        sig_i = materialize(
            _index_table(path).read(spark), "probe_minhash_index: index"
        )
        sig_b = materialize(
            _signatures_pandas(
                _spread(batch, id_col), id_col, text_col, shingle_k, num_hashes
            ),
            "probe_minhash_index: batch signatures",
        )
        out = materialize(  # a snapshot: lineage to `path` severed
            _probe_sig_pairs(
                sig_i, sig_b, num_hashes, bands, jaccard_threshold, max_bucket
            ),
            "probe_minhash_index: pairs",
        )
        return s.keep(out)


def incremental_minhash_dedup(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 24,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 50,
) -> DataFrame:
    """Incremental near-dup screening: link each NEW document (in
    ``batch``) to the existing-corpus documents (in ``index``) it
    near-duplicates — the production dedup shape once a corpus is
    live. Re-running :func:`minhash_lsh_pairs` over index ∪ batch
    every ingest is O(corpus) hashing and an O(corpus²/buckets)
    self-join per ingest; admitting a batch only needs the batch's
    fingerprints probed AGAINST the index, so the per-ingest cost is
    O(batch) hashing + one equi-join — at a 100 TB corpus with GB-
    scale daily ingests that is the difference between minutes and a
    full-corpus recrawl. Within-batch duplicates are the caller's
    (cheap) `minhash_lsh_pairs(batch)` pass; this operator is the
    batch-vs-index edge.

    Same fingerprint construction as :func:`minhash_lsh_pairs`
    (shared ``_signatures_pandas`` + ``_band_explode`` — identical
    banding by construction), so an index built by one and probed by
    the other can never disagree on bucket keys. In production the
    index side is the PERSISTED (id, band, bucket) + signature table
    maintained across ingests (e.g. a manifest-table partition keyed
    by band); here it is derived from ``index`` inline, which this
    sandbox's oracle replays end-to-end.

    Skew guard: ``max_bucket`` caps INDEX-side bucket size (a
    boilerplate bucket with 10⁶ index members would otherwise fan
    every colliding new doc out 10⁶ ways); the batch side is one
    ingest and needs no cap. Candidates are deduped across bands,
    then verified with exact shingle Jaccard.

    Output: ``(new_id, index_id, est_jaccard, jaccard)`` — pairs at
    or above ``jaccard_threshold``; new docs absent from the output
    are admitted as novel.
    """
    with scope() as s:
        sig_i = materialize(
            _signatures_pandas(
                _spread(index, id_col), id_col, text_col, shingle_k, num_hashes
            ),
            "incremental_minhash_dedup: index signatures",
        )
        sig_b = materialize(
            _signatures_pandas(
                _spread(batch, id_col), id_col, text_col, shingle_k, num_hashes
            ),
            "incremental_minhash_dedup: batch signatures",
        )
        out = materialize(
            _probe_sig_pairs(
                sig_i, sig_b, num_hashes, bands, jaccard_threshold, max_bucket
            ),
            "incremental_minhash_dedup: pairs",
        )
        return s.keep(out)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over tokens. Bit b of the result is the sign of
    the sum over tokens of ±1 according to bit b of the token hash
    (md5-derived 64-bit int — engine-portable, unlike xxhash64).

    Vectorized mapInPandas: the expression-level formulation (64
    unrolled aggregates over a token-hash array) runs interpreted
    outside codegen, ~10× slower. numpy does (tokens × 64) bit
    balances in one shift-and-mask broadcast per doc.
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("simhash", T.LongType(), False),
        ]
    )

    def gen(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = _normalize_py(str(text)).split(" ")
                h = np.array(
                    [
                        int(hashlib.md5(w.encode("utf-8")).hexdigest()[:16], 16)
                        for w in words
                    ],
                    dtype=np.uint64,
                )
                bits = (h[:, None] >> shifts) & np.uint64(1)  # (n, 64)
                balance = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                fp = np.uint64(0)
                for b in np.nonzero(balance > 0)[0]:
                    fp |= np.uint64(1) << np.uint64(b)
                ids.append(doc_id)
                fps.append(int(fp.astype(np.int64)))  # two's complement
            # same all-rows-skipped guard as _signatures_pandas: an
            # empty frame's default float64 columns depend on Arrow's
            # tolerance for the target type — don't rely on it
            if ids:
                yield pd.DataFrame({id_col: ids, "simhash": fps})

    return _spread(df, id_col).select(id_col, text_col).mapInPandas(gen, schema)


# Scale attribution: the candidate-pair volume (post-bucket-cap,
# pre-verify) of the most recent simhash_dup_pairs / minhash_lsh_pairs
# call in this process, so a super-linear wall-time ratio can be
# attributed — candidates growing with the data is a FIXTURE property
# (denser buckets), candidates outgrowing the output pairs would be a
# plan regression. Observed on the candidate frame (DataFrame.observe)
# and collected by the pair output's materialization: no extra job.
LAST_SIMHASH_CANDIDATES: int | None = None
LAST_MINHASH_CANDIDATES: int | None = None


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation: split the 64-bit fingerprint into 4 16-bit
    bands; by pigeonhole, any pair within hamming ≤ 3 agrees exactly
    on ≥ 1 band → join on (band, band_value), verify with popcount.
    ``max_bucket`` caps degenerate band buckets before the quadratic
    self-join (same skew guard as minhash_lsh_pairs).
    """
    # Same rationale as minhash_lsh_pairs: the fingerprint stage (the
    # Python-side hashing) feeds three branches (bucket-size agg + both
    # sides of the candidate self-join); materialize it once, before
    # the concurrent downstream stages, or Spark recomputes the
    # mapInPandas per branch. A fingerprint row is 16 bytes —
    # negligible even at 100 TB of input docs.
    with scope() as s:
        fp = materialize(
            simhash(df, text_col, id_col), "simhash_dup_pairs: fingerprints"
        )
        banded = fp.select(
            F.col(id_col),
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(F.col("simhash"), b * 16)
                            .bitwiseAND(F.lit(0xFFFF))
                            .alias("val"),
                        )
                        for b in range(4)
                    ]
                )
            ).alias("_b"),
        ).select(F.col(id_col), "simhash", "_b.band", "_b.val")
        sizes = banded.groupBy("band", "val").agg(F.count(F.lit(1)).alias("_n"))
        banded = banded.join(sizes.filter(F.col("_n") <= max_bucket), ["band", "val"]).drop(
            "_n"
        )
        a = banded.select(
            "band", "val", F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a")
        )
        b = banded.select(
            "band", "val", F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b")
        )
        cand = (
            a.join(b, ["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cand_obs = Observation()
        cand = cand.observe(cand_obs, F.count(F.lit(1)).alias("n"))
        hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        out = materialize(
            cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
                F.col("hamming") <= max_hamming
            ),
            "simhash_dup_pairs: verified pairs",
        )
        global LAST_SIMHASH_CANDIDATES
        LAST_SIMHASH_CANDIDATES = int(cand_obs.get["n"])
        return s.keep(out)


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for an externally-supplied candidate
    pair set (columns ``id_a``, ``id_b``) — the verification stage
    shared by every blocking scheme."""
    sh = df.select(
        F.col(id_col).alias("_id"), word_shingles(text_col, n).alias("_sh")
    )
    out = (
        candidate_pairs.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # two empty shingle sets (both docs shorter than n tokens, or
    # NULL text) make the union 0: define their Jaccard as 0.0 — no
    # shared content — instead of DIVIDE_BY_ZERO under ANSI mode
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, round6(inter.cast("double") / union))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def embedding_cosine_dupes(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, blocked
    by random-hyperplane LSH (sign sketch).

    Hyperplanes are a seeded Rademacher ±1 matrix, identical on every
    executor (similarity._rademacher) — no broadcast state. Pairs
    agreeing on the full sign sketch are candidates; exact cosine
    verifies. P(miss) for cosine≥0.9 with 8 planes ≈ 1-(1-θ/π)^8 where
    θ=acos(0.9)≈0.45rad → sketch collision ~0.29 per plane-set;
    callers needing recall repeat with several seeds.
    """
    from .similarity import cosine_pairs_vectorized, sign_sketch

    # sign sketch as an int bitmask (vectorized Pandas UDF; see
    # similarity.sign_sketch) — pairs agreeing on the full sketch are
    # candidates; materialized before the self-join branches read it
    with scope() as s:
        sk = materialize(
            df.select(
                F.col(id_col).alias("_id"),
                F.col(vec_col).alias("_v"),
                sign_sketch(F.col(vec_col), planes, seed).alias("_sketch"),
            ),
            "embedding_cosine_dupes: sketches",
        )
        a = sk.select(
            F.col("_sketch"), F.col("_id").alias("id_a"), F.col("_v").alias("v_a")
        )
        b = sk.select(
            F.col("_sketch"), F.col("_id").alias("id_b"), F.col("_v").alias("v_b")
        )
        cand = a.join(b, "_sketch").filter(F.col("id_a") < F.col("id_b"))
        cos = cosine_pairs_vectorized(F.col("v_a"), F.col("v_b"))
        out = materialize(
            cand.select("id_a", "id_b", round6(cos).alias("cosine")).filter(
                F.col("cosine") >= threshold
            ),
            "embedding_cosine_dupes: verified pairs",
        )
        return s.keep(out)


# Diagnostic: rounds used by the most recent connected_components call
# on this driver (bench/test introspection — the round count is THE
# scale variable for the iterative loop; single-threaded use only).
LAST_CC_ROUNDS: int = 0


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph → the canonical
    CLUSTER step every production dedup pipeline ends with (pairs tell
    you who matches; components tell you which single doc to keep).
    Returns (id, label) where ``label`` is the smallest vertex id in
    the component — the conventional keeper.

    Algorithm: min-label propagation with pointer jumping. Each round
    every vertex takes the min of its own label and its neighbors'
    labels (one shuffle join edges ⋈ labels + partial-combined groupBy
    min), then SHORTCUTS through its label's own label (labels ⋈
    labels — label values are always live vertex ids, so the lookup
    is total). Plain propagation needs O(component diameter) rounds;
    the shortcut compresses label chains geometrically, giving
    O(log diameter) — the same doubling idea as the two-phase
    algorithms in Kiveris et al., "Connected Components in MapReduce
    and Beyond". LSH-derived dup graphs are locally dense near-cliques
    so either converges fast, but at a 100 TB edge list every saved
    round is a saved shuffle; ``max_iter`` bounds the rounds either
    way.

    Scale notes: state is one (id, label) row per vertex — no
    adjacency materialization beyond the input edge list (symmetrized
    once); every round ends in ``localCheckpoint`` — MANDATORY for any
    iterative DataFrame loop, because each round's plan references the
    previous round's twice (join + union), so without plan truncation
    the logical tree grows exponentially and the driver dies in plan
    analysis long before data is the problem (persist alone does NOT
    cut the plan). Convergence is detected by an O(V) anti-join (any
    (id, label) row that changed), riding the same partitioning as
    the update itself. Labels only ever decrease, so the loop is
    monotone and cannot oscillate.

    Convergence check (r12): monotonicity buys more than
    no-oscillation — per vertex the label NEVER increases, so "some
    label changed this round" is EXACTLY "sum(label) decreased". The
    check is therefore a map-side scalar aggregate over the new
    generation alone (sum as DECIMAL(38,0): overflow-safe at any
    vertex-id scale), replacing the earlier O(V) anti-join of two
    label generations — one full shuffle join per round saved, which
    at a 100 TB edge list is the difference between 3 and 4 shuffles
    every round. Since r17 the sum does not even get its own job: it
    is attached as a ``DataFrame.observe`` metric to the round's
    eager ``localCheckpoint``, so the checkpoint's materialization
    scan computes it for free (zero extra passes over the labels).

    Storage hygiene: each round releases the *previous* round's
    checkpoint once the next one exists — the joins that built it were
    the old generation's last read. Without this handoff, ``max_iter``
    generations of (id, label) state would stay pinned in executor
    storage for the loop's duration (see operators/checkpoints.py for
    why checkpoint blocks are freed by the RDD id on their own plan
    node).
    """
    # NULL-id pairs are NON-EDGES (r15 degenerate-input sweep): NULL
    # labels escape the DECIMAL label sum (sum ignores NULL), so a
    # NULL vertex's label moving NULL→b INCREASES the sum and breaks
    # the monotone-decrease convergence proof — the loop can stop a
    # round early or spin to max_iter. And a NULL src never matches
    # the propagation join, so components "connected" through a NULL
    # id would silently stay split. Same contract as pagerank.
    pairs = pairs.filter(
        F.col(id_a).isNotNull() & F.col(id_b).isNotNull()
    )
    with scope() as s:
        # Persist the DIRECTED pair list before symmetrizing: the union's
        # two branches would otherwise each evaluate the caller's pair
        # pipeline (for LSH-derived graphs, the whole banding/verify
        # chain) — the column-swapped branch is a different plan, so
        # exchange reuse never kicks in.
        e = cache(pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
        edges = cache(
            e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
        )
        # Convergence sums ride the checkpoint's own materialization job
        # via DataFrame.observe (r17): the eager localCheckpoint already
        # scans every (id, label) row, so attaching the monotone-sum
        # metric there removes the per-round `.agg().first()` job — one
        # fewer full O(V) pass per round (and per-round job-submission
        # latency), with the identical DECIMAL(38,0) overflow-safe sum.
        _label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        obs0 = Observation()
        labels = materialize(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .observe(obs0, _label_sum),
            "connected_components: initial labels",
        )
        # the eager checkpoint above materialized edges; the directed
        # scratch copy has served both branches and can go now
        release(e)
        prev_sum = obs0.get["s"]
        global LAST_CC_ROUNDS
        LAST_CC_ROUNDS = 0
        for _ in range(max_iter):
            LAST_CC_ROUNDS += 1
            incoming = edges.join(
                labels, edges["src"] == labels["id"]
            ).select(F.col("dst").alias("id"), F.col("label"))
            merged = (
                labels.unionAll(incoming)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )
            # pointer jump: follow my label to ITS label (chain doubling)
            lookup = merged.select(
                F.col("id").alias("_lid"), F.col("label").alias("_llabel")
            )
            obs = Observation()
            new_labels = materialize(  # truncates the plan
                merged.join(lookup, merged["label"] == lookup["_lid"])
                .select("id", F.least("label", "_llabel").alias("label"))
                .observe(obs, _label_sum),
                f"connected_components: round {LAST_CC_ROUNDS}",
            )
            # monotone-sum convergence: labels never increase, so an
            # unchanged sum IS "no vertex changed" — read off the
            # checkpoint job's own observation (no extra scan/job)
            new_sum = obs.get["s"]
            release(labels)  # previous generation: the joins above
            # were its last read (the check reads only new_labels)
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        # the last generation is the caller's; the edge list (and, on a
        # failure, every generation) goes with this scope
        return s.keep(labels)


def dedup_cluster_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cluster assignment from a near-dup pair set:
    (doc_id, keeper_id, cluster_size) for every document that belongs
    to a multi-document cluster. Downstream, the dedup decision is
    ``keep iff doc_id == keeper_id`` — singletons (absent here) are
    kept implicitly, so the output stays bounded by the duplicate
    rate, not the corpus size. The components' labels checkpoint
    belongs to the caller's scope, which frees it when it closes."""
    comp = connected_components(pairs, max_iter=25)
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    # no forced broadcast: the cluster table scales with the duplicate
    # rate; AQE picks broadcast when it is in fact small
    return (
        comp.join(sizes, "label")
        .select(
            F.col("id").alias(id_col),
            F.col("label").alias("keeper_id"),
            "cluster_size",
        )
    )
