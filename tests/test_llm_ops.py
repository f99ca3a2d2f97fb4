"""Property tests for the training-data pipeline operators — SimHash
locality, hyperplane/IVF ANN consistency and index lifecycle — on top
of the DuckDB oracles that replay every one of these pipelines exactly
(plans/llm_queries.py), plus plumbing tests for
dedup/similarity/multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import persisted_rdd_ids

from yc_yq_airflow_etl_spark.operators.dedup import (
    embedding_cosine_dupes,
    exact_dedup,
    minhash_lsh_pairs,
    simhash,
    simhash_dup_pairs,
)
from yc_yq_airflow_etl_spark.operators.multimodal import (
    DecodeStub,
    documents_as_media,
    extract_features,
)
from yc_yq_airflow_etl_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    topk_join,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    variant = base.replace("lazy", "sleepy")  # one token differs
    other = "completely different content about spark query engines and shuffles"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1
            (3, variant),  # near dup of 1
            (4, other),
            (5, base.upper()),  # case-normalized dup of 1
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_groups_normalized_copies(docs):
    out = {r.keeper_id: r.copies for r in exact_dedup(docs).collect()}
    assert out == {1: 3, 3: 1, 4: 1}


def test_minhash_finds_near_dup_and_estimates_jaccard(docs):
    pairs = minhash_lsh_pairs(
        docs, num_hashes=24, bands=8, jaccard_threshold=0.3
    ).collect()
    got = {(r.id_a, r.id_b): r for r in pairs}
    # exact dups: jaccard 1.0, estimator exact
    assert got[(1, 2)].jaccard == 1.0 and got[(1, 2)].est_jaccard == 1.0
    assert got[(1, 5)].jaccard == 1.0
    # near dup surfaces with high (but < 1) similarity
    assert 0.3 <= got[(1, 3)].jaccard < 1.0
    # unrelated doc never pairs
    assert not any(4 in k for k in got)


def test_dedup_survives_partitions_of_only_degenerate_docs(spark):
    """A partition whose docs are ALL unusable (NULL text, empty,
    fewer than shingle_k words) previously killed the whole job: the
    signature generator yielded an empty pandas frame whose default
    float64 columns Arrow cannot convert to array<string>/array<long>
    ("NumPyConverter doesn't implement <list<element: string>>" —
    found r14 by the degenerate-input sweep, mutation-verified red
    with the non-empty-yield guard removed). Real ingests contain
    short and NULL docs; dedup must skip them, not crash."""
    from yc_yq_airflow_etl_spark.operators import dedup
    from yc_yq_airflow_etl_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_pairs,
        simhash,
    )

    degenerate = spark.createDataFrame(
        [
            (0, None),
            (1, ""),
            (2, "   "),
            (3, "a"),
            (4, "one two"),  # 2 words < shingle_k=3
        ],
        "doc_id long, text string",
    ).repartition(4)
    # every partition is all-skipped → result must be EMPTY, not a crash
    assert minhash_lsh_pairs(degenerate).count() == 0
    assert dedup.LAST_MINHASH_CANDIDATES == 0
    assert simhash(degenerate.filter("text IS NOT NULL")).count() == 4
    # incremental: degenerate batch against a real index, and vice versa
    real = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    assert incremental_minhash_dedup(real, degenerate).count() == 0
    assert incremental_minhash_dedup(degenerate, real).count() == 0
    # mixed frame: the valid pair still surfaces alongside the debris
    mixed = degenerate.unionByName(
        spark.createDataFrame(
            [
                (11, "alpha beta gamma delta epsilon zeta"),
                (12, "alpha beta gamma delta epsilon zeta eta"),
            ],
            "doc_id long, text string",
        )
    ).repartition(5)
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(mixed, jaccard_threshold=0.3).collect()
    }
    assert got == {(11, 12)}


def test_simhash_deterministic_and_locality(spark, docs):
    fp = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    fp2 = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert fp == fp2  # deterministic
    assert fp[1] == fp[2] == fp[5]  # normalized dups collide

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(fp[1], fp[3]) < hamming(fp[1], fp[4])


def test_simhash_pairs_pigeonhole(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_dup_pairs(docs).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 5)] == 0 and pairs[(2, 5)] == 0


# jobs per call on the sf0.001 corpus (local[4], 8 shuffle partitions)
# before the candidate count was observed, when counting it was an
# opt-in persist + count() of its own
_PAIRS_JOBS = {"simhash": 12, "minhash": 15}


@pytest.mark.parametrize("op", ["simhash", "minhash"])
def test_candidate_count_is_observed_without_an_extra_job(
    spark, testdata, monkeypatch, op
):
    """``LAST_{SIMHASH,MINHASH}_CANDIDATES`` (the candidate-pair volume
    the bench's scale attribution reads) is set on every call, equals
    the candidate set rebuilt here from the operator's own band
    buckets, and rides the pair materialization: no extra job."""
    from collections import defaultdict

    from yc_yq_airflow_etl_spark.operators import dedup as D

    docs = testdata["documents"]
    if op == "simhash":
        run = lambda: D.simhash_dup_pairs(docs, max_hamming=8)  # noqa: E731
        keyed = [
            (r.doc_id, b, (r.simhash >> (16 * b)) & 0xFFFF)
            for r in D.simhash(docs).collect()
            for b in range(4)
        ]
        cap = 1000
    else:
        run = lambda: D.minhash_lsh_pairs(  # noqa: E731
            docs, jaccard_threshold=0.9
        )
        sig = D._signatures_pandas(
            D._spread(docs, "doc_id"), "doc_id", "text", 3, 24
        )
        keyed = [
            (r._id, r.band, r.bucket)
            for r in D._band_explode(sig, 8, D._band_params(24, 8)).collect()
        ]
        cap = 50
    buckets = defaultdict(list)
    for i, band, key in keyed:
        buckets[(band, key)].append(i)
    want = len(
        {
            (a, b)
            for ids in buckets.values()
            if len(ids) <= cap
            for a in ids
            for b in ids
            if a < b
        }
    )
    run().unpersist()  # warm
    attr = f"LAST_{op.upper()}_CANDIDATES"
    monkeypatch.setattr(D, attr, None)
    sc = spark.sparkContext
    group = f"candidate_obs_{op}"
    sc.setJobGroup(group, group)
    try:
        out = run()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    n_pairs = out.count()
    out.unpersist()
    assert getattr(D, attr) == want
    assert want > n_pairs  # the verify step drops candidates
    assert n_jobs <= _PAIRS_JOBS[op]


def test_similarity_survives_corrupt_vectors_and_ranks_them_last(spark):
    """One corrupt embedding row must never kill or poison a
    corpus-scale job (r14 sweep; all mutation-verified red on the
    unguarded code):

    - wrong-dim / empty vectors crashed np.vstack inside the sign
      sketch, the pair verifier, and the IVF assignment ("all the
      input array dimensions ... must match exactly") — one bad row
      took down the whole LSH/IVF job;
    - a wrong-dim vector among the k lowest ids poisoned IVF training
      with a ragged centroid matrix;
    - NaN/Inf components made the cosine NaN, and Spark sorts NaN
      ABOVE every real double — the corrupt row ranked FIRST in every
      descending top-k (the same failure mode as the r13 zero-norm
      find, by a different route: NaN passes the den > 0 guard
      because Spark treats NaN as greatest).

    Contract: corrupt vectors score NULL, sort last, and never enter
    an index; embedding_norm_audit is the tool that FINDS them, so
    the operators must tolerate what the audit exists to detect."""
    from yc_yq_airflow_etl_spark.operators.dedup import (
        embedding_cosine_dupes,
    )
    from yc_yq_airflow_etl_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        train_ivf_centroids,
    )

    nan, inf = float("nan"), float("inf")
    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0, 4.0]),
            (1, [0.0] * 4),          # zero norm (r13)
            (2, None),               # NULL
            (3, []),                 # empty
            (4, [1.0, 2.0]),         # wrong dim
            (5, [nan] * 4),          # NaN components
            (6, [inf] * 4),          # Inf components
            (7, [1.0, 2.0, 3.0, 4.1]),  # near dup of 0
        ],
        "vec_id long, embedding array<double>, label int".replace(
            ", label int", ""
        ),
    ).repartition(4)
    top = brute_force_topk(emb, [1.0, 2.0, 3.0, 4.0], k=3).collect()
    assert [r.vec_id for r in top] == [0, 7] or [r.vec_id for r in top[:2]] == [0, 7]
    assert top[0].cosine == 1.0  # corrupt rows never outrank real ones
    assert all(r.cosine is not None for r in top[:2])
    # LSH survives the same corpus and only real vectors can match
    got = lsh_topk(emb, [1.0, 2.0, 3.0, 4.0], k=5)
    assert {r.vec_id for r in got.collect()} <= {0, 1, 7}
    # pair dedup survives and links exactly the real near-dup pair
    pairs = embedding_cosine_dupes(emb, threshold=0.9)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 7)}
    # IVF training excludes corrupt rows instead of building a ragged
    # centroid matrix (vec_id 4's dim-2 vector sits among the lowest
    # ids, exactly where deterministic init would have picked it up)
    cents = train_ivf_centroids(emb, k_clusters=2, iters=2)
    assert len(cents) == 2 and all(len(c) == 4 for c in cents)


def test_sign_sketch_deterministic_under_partitioning_and_mixed_dims(spark):
    """The r14 per-length batch grouping must not introduce batch-
    composition dependence: every row's sketch is a pure function of
    its own vector, so any repartitioning — and any interleaving of
    wrong-dim rows into the batch — yields identical sketches."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.similarity import sign_sketch

    import random

    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ] + [(100 + i, [rng.uniform(-1, 1) for _ in range(3)]) for i in range(7)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def sketches(df):
        return {
            r.vec_id: r.s
            for r in df.select(
                "vec_id", sign_sketch(F.col("embedding")).alias("s")
            ).collect()
        }

    base = sketches(emb.coalesce(1))
    assert sketches(emb.repartition(7)) == base
    assert sketches(emb.repartition(13, "vec_id")) == base
    # dim-8 rows sketch identically whether or not dim-3 rows share
    # their Arrow batch
    only8 = sketches(emb.filter("vec_id < 100").coalesce(1))
    assert {k: v for k, v in base.items() if k < 100} == only8


def test_lsh_topk_subset_of_bruteforce_scores(spark, testdata):
    emb = testdata["embeddings"]
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    brute = brute_force_topk(emb, q, k=10).collect()
    approx = lsh_topk(emb, q, k=10, max_hamming=3).collect()
    brute_scores = {r.vec_id: r.cosine for r in brute}
    # the query itself (hamming 0) is always retrieved, with cosine 1
    assert approx[0].vec_id == 0 and approx[0].cosine == 1.0
    # every approx hit's score is a real score (consistency with brute
    # scan), and results are sorted desc
    scores = [r.cosine for r in approx]
    assert scores == sorted(scores, reverse=True)
    for r in approx:
        if r.vec_id in brute_scores:
            assert r.cosine == brute_scores[r.vec_id]


def test_zero_norm_vector_never_tops_the_ranking(spark):
    """A zero vector has no direction — its cosine is NULL, never NaN.
    Unguarded 0/0 yields NaN, and Spark sorts NaN ABOVE every real
    double, so one all-zeros embedding poisoned every descending top-k
    (it ranked FIRST). r13 regression pin for both the JVM-expression
    and the Arrow-vectorized cosine paths."""
    from yc_yq_airflow_etl_spark.operators.similarity import (
        cosine_pairs_vectorized,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),  # the poison vector
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = brute_force_topk(df, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]  # not the zero vector
    assert all(r.cosine is not None for r in top)
    # the vectorized pair path agrees: zero-norm -> NULL, not NaN
    import math

    pairs = df.alias("a").crossJoin(
        df.selectExpr(
            "vec_id AS rid", "embedding AS rembedding"
        ).alias("b")
    )
    got = {
        (r.vec_id, r.rid): r.c
        for r in pairs.select(
            "vec_id",
            "rid",
            cosine_pairs_vectorized(
                F.col("embedding"), F.col("rembedding")
            ).alias("c"),
        ).collect()
    }
    assert got[(0, 1)] is None and got[(0, 0)] is None
    assert got[(1, 1)] is not None and not math.isnan(got[(1, 1)])


def test_embedding_cosine_dupes_precision(spark):
    # construct: v1 ≈ v2 (near-dup), v3 orthogonal
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_cosine_dupes(df, threshold=0.95, planes=4).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert pairs[0].cosine > 0.99


def test_topk_join_per_row_neighbors(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = topk_join(df, df, k=1)
    best = {r.id_a: r.id_b for r in out.collect()}
    assert best[1] == 2 and best[2] == 1 and best[3] == 2


def test_topk_join_hoisted_norms_bit_identical(spark):
    """r18: topk_join's per-side norm hoist must score BIT-identically
    to the inline round6(cosine_similarity(...)) form — including the
    zero-norm (NULL, not NaN) and non-finite-component guards — or
    the oracle hash moves. Exact float equality on collected rows,
    adversarial vectors included."""
    from pyspark.sql import Window

    from yc_yq_airflow_etl_spark.functions.scalar import round6
    from yc_yq_airflow_etl_spark.operators.similarity import (
        cosine_similarity,
    )

    rows = [
        (1, [1.0, 0.25, -0.5, 2.0]),
        (2, [0.9, 0.1, -0.4, 1.9]),
        (3, [0.0, 0.0, 0.0, 0.0]),          # zero norm → NULL cosine
        (4, [float("nan"), 1.0, 0.0, 0.0]),  # NaN component → NULL
        (5, [-1.0, 3.5, 0.125, 0.3]),
        (6, [7.0, -0.75, 0.5, 1e-3]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = topk_join(df, df, k=3).orderBy("id_a", "rnk").collect()

    # reference: the pre-hoist scoring, verbatim
    r = F.broadcast(
        df.select(
            F.col("vec_id").alias("_rid"), F.col("embedding").alias("_rvec")
        )
    )
    scored = (
        df.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("_lvec")
        )
        .crossJoin(r)
        .select(
            "id_a",
            F.col("_rid").alias("id_b"),
            round6(
                cosine_similarity(F.col("_lvec"), F.col("_rvec"))
            ).alias("cosine"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b").asc()
    )
    ref = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("id_a", "rnk")
        .collect()
    )
    assert got == ref  # Row equality is exact on doubles


def test_multimodal_stub_raises(spark, docs):
    media = documents_as_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        extract_features(media, decode=DecodeStub()).collect()


def test_multimodal_fake_decode_roundtrip(spark, docs):
    import hashlib

    media = documents_as_media(docs)
    out = {r.media_id: r for r in extract_features(media).collect()}
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    assert out[1].n_bytes == len(base.encode())
    assert out[1].digest == hashlib.md5(base.encode()).hexdigest()
    assert out[1].byte_sum_mod == sum(base.encode()) % 1_000_000_007


def test_wav_codec_roundtrip():
    """Manual RIFF encoder → stdlib wave decoder: independent
    implementations must agree byte-for-byte on features."""
    import numpy as np

    from yc_yq_airflow_etl_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    samples = np.array([0, 100, -100, 32767, -32768], dtype=np.int16)
    feats = decode_wav(encode_wav_pcm16(samples, sample_rate=44100))
    assert feats == {
        "sample_rate": 44100,
        "n_channels": 1,
        "n_samples": 5,
        "peak_abs": 32768,  # abs(-32768) must not overflow int16
        "sum_abs": 0 + 100 + 100 + 32767 + 32768,
        # signed, position-weighted: 0*0 + 100*1 - 100*2 + 32767*3
        # - 32768*4 — sign- and order-sensitive where sum_abs is not
        "wsum_amp": 0 + 100 - 200 + 3 * 32767 - 4 * 32768,
    }
    # order sensitivity: the reversed signal shares every other stat
    rev = decode_wav(encode_wav_pcm16(samples[::-1].copy(), sample_rate=44100))
    assert rev["sum_abs"] == feats["sum_abs"]
    assert rev["wsum_amp"] != feats["wsum_amp"]
    with pytest.raises(Exception):  # truncated container must not decode
        decode_wav(encode_wav_pcm16(samples)[:20])


def test_media_feature_extraction_quarantines_corrupt_payloads(spark):
    """One corrupt media payload (truncated RIFF, NULL bytes) must not
    kill a corpus-scale feature pass with a context-free parser error
    (r14 sweep): the default failure now NAMES the offending media_id,
    and on_error='skip' quarantines the row and keeps the job alive —
    quarantined ids are the anti-join of input and output."""
    import numpy as np
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators.multimodal import (
        encode_wav_pcm16,
        extract_wav_features,
    )

    good = encode_wav_pcm16(np.array([0, 100, -100], dtype=np.int16))
    media = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(good[:20])),  # truncated container
            (3, None),                  # NULL payload
            (4, bytearray(b"not a riff file at all")),
        ],
        "media_id long, payload binary",
    ).repartition(2)
    # default: loud failure that says WHICH media is corrupt
    with _pytest.raises(Exception, match="media_id="):
        extract_wav_features(media).collect()
    # skip: valid rows survive, corrupt ones quarantine
    rows = extract_wav_features(media, on_error="skip").collect()
    assert {r.media_id for r in rows} == {1}
    assert rows[0].n_samples == 3
    with _pytest.raises(ValueError, match="on_error"):
        extract_wav_features(media, on_error="typo")
    # NULL payloads are fetch gaps, not decode faults: they quarantine
    # under BOTH modes — raise mode over good+NULL rows succeeds and
    # drops the NULL (r15, ADVICE pin)
    good_and_null = spark.createDataFrame(
        [(1, bytearray(good)), (3, None)], "media_id long, payload binary"
    )
    assert {
        r.media_id for r in extract_wav_features(good_and_null).collect()
    } == {1}


def test_ppm_codec_roundtrip_and_comments():
    import numpy as np

    from yc_yq_airflow_etl_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    feats = decode_ppm(encode_ppm(px))
    assert feats["width"] == 3 and feats["height"] == 2 and feats["maxval"] == 255
    assert (feats["sum_r"], feats["sum_g"], feats["sum_b"]) == (
        int(px[:, :, 0].sum()), int(px[:, :, 1].sum()), int(px[:, :, 2].sum())
    )
    lum = px.astype(np.int64).sum(axis=2).flatten()
    assert feats["wsum_lum"] == int((lum * np.arange(lum.size)).sum())
    # the weighted checksum is position-sensitive: a transposed decode
    # passes every channel sum but not this
    assert feats["wsum_lum"] != decode_ppm(
        encode_ppm(px.transpose(1, 0, 2).copy())
    )["wsum_lum"]
    # netpbm headers may carry # comments — the parser must skip them
    with_comment = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert decode_ppm(with_comment) == feats
    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P3\n1 1\n255\n0 0 0")


def test_multimodal_real_decode_pipeline(spark):
    """End-to-end through Spark: synthesize real WAV/PPM payloads in
    one Arrow stage, decode in another, features match the per-id
    closed forms."""
    import numpy as np

    from yc_yq_airflow_etl_spark.operators.multimodal import (
        extract_ppm_features,
        extract_wav_features,
        ppm_pixels_for,
        synthesize_ppm_corpus,
        synthesize_wav_corpus,
        wav_samples_for,
    )

    ids = spark.createDataFrame([(7,), (42,), (123,)], "media_id long")
    wav = {r.media_id: r for r in extract_wav_features(synthesize_wav_corpus(ids)).collect()}
    for mid in (7, 42, 123):
        s = np.abs(wav_samples_for(mid).astype(np.int64))
        assert wav[mid].n_samples == len(s)
        assert wav[mid].peak_abs == int(s.max())
        assert wav[mid].sum_abs == int(s.sum())
    ppm = {r.media_id: r for r in extract_ppm_features(synthesize_ppm_corpus(ids)).collect()}
    for mid in (7, 42, 123):
        px = ppm_pixels_for(mid).astype(np.int64)
        assert (ppm[mid].width, ppm[mid].height) == (16, 12)
        assert ppm[mid].sum_r == int(px[:, :, 0].sum())
        assert ppm[mid].sum_g == int(px[:, :, 1].sum())
        assert ppm[mid].sum_b == int(px[:, :, 2].sum())
        lum = px.sum(axis=2).flatten()
        assert ppm[mid].wsum_lum == int(
            (lum * np.arange(lum.size)).sum()
        )


def test_ivf_topk_recall_dial(spark, testdata):
    """IVF ANN: probing all clusters reproduces brute force exactly;
    probing few clusters returns a consistent subset that always
    includes the query's own cluster."""
    from yc_yq_airflow_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = testdata["embeddings"]
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    cents = train_ivf_centroids(emb, k_clusters=8, iters=3)
    assert len(cents) == 8 and len(cents[0]) == 64

    full = ivf_topk(emb, q, cents, k=10, nprobe=8).collect()
    brute = brute_force_topk(emb, q, k=10).collect()
    assert [(r.vec_id, r.cosine) for r in full] == [
        (r.vec_id, r.cosine) for r in brute
    ]

    narrow = ivf_topk(emb, q, cents, k=10, nprobe=2).collect()
    assert narrow[0].vec_id == 0 and narrow[0].cosine == 1.0
    brute_scores = {r.vec_id: r.cosine for r in brute}
    for r in narrow:
        if r.vec_id in brute_scores:
            assert r.cosine == brute_scores[r.vec_id]


def test_indexed_ann_matches_inline_paths(spark, testdata, tmp_path):
    """write_ann_index materializes cluster id + sketch; querying the
    index must reproduce the inline (recompute-per-query) operators
    exactly — stored sketch ≡ computed sketch, partitioned cluster id
    ≡ inline assignment."""
    from yc_yq_airflow_etl_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        lsh_topk,
        lsh_topk_indexed,
        train_ivf_centroids,
        write_ann_index,
    )

    emb = testdata["embeddings"]
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    cents = train_ivf_centroids(emb, k_clusters=4, iters=2)
    idx_path = str(tmp_path / "ann_idx")
    write_ann_index(emb, idx_path, cents)
    idx = spark.read.parquet(idx_path)

    got_lsh = lsh_topk_indexed(idx, q, k=10, max_hamming=3).collect()
    want_lsh = lsh_topk(emb, q, k=10, max_hamming=3).collect()
    assert [tuple(r) for r in got_lsh] == [tuple(r) for r in want_lsh]

    got_ivf = ivf_topk_indexed(idx, q, cents, k=10, nprobe=2).collect()
    want_ivf = ivf_topk(emb, q, cents, k=10, nprobe=2).collect()
    assert [tuple(r) for r in got_ivf] == [tuple(r) for r in want_ivf]

    # the index read is partition-pruned, not a full scan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_topk_indexed(idx, q, cents, k=10, nprobe=2).explain("formatted")
    assert "PartitionFilters: [_c" in buf.getvalue()


def test_ann_index_incremental_append(spark, testdata, tmp_path):
    """Index maintenance: vectors appended later (assigned to the
    EXISTING centroids, partitions extended in place) must make the
    indexed queries equal a from-scratch run over the full corpus with
    the same centroids."""
    from yc_yq_airflow_etl_spark.operators.similarity import (
        append_to_ann_index,
        ivf_topk,
        ivf_topk_indexed,
        lsh_topk,
        lsh_topk_indexed,
        train_ivf_centroids,
        write_ann_index,
    )

    emb = testdata["embeddings"]
    first = emb.filter(F.col("vec_id") % 2 == 0)
    later = emb.filter(F.col("vec_id") % 2 == 1)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]

    cents = train_ivf_centroids(first, k_clusters=4, iters=2)
    idx_path = str(tmp_path / "ann_idx")
    write_ann_index(first, idx_path, cents)
    append_to_ann_index(later, idx_path, cents)
    idx = spark.read.parquet(idx_path)
    assert idx.count() == emb.count()

    got = [tuple(r) for r in ivf_topk_indexed(idx, q, cents, k=10, nprobe=2).collect()]
    want = [tuple(r) for r in ivf_topk(emb, q, cents, k=10, nprobe=2).collect()]
    assert got == want

    got_l = [tuple(r) for r in lsh_topk_indexed(idx, q, k=10, max_hamming=3).collect()]
    want_l = [tuple(r) for r in lsh_topk(emb, q, k=10, max_hamming=3).collect()]
    assert got_l == want_l


def test_ann_index_fresh_session_reuses_persisted_centroids(
    spark, monkeypatch, tmp_path
):
    """A fresh session facing an already-built ANN index must load the
    centroids from the JSON persisted beside it — NEVER re-run k-means
    (the training pass costs ~7 s/session at sf0.1; a silent fallback
    to retraining is exactly the regression the r8 bench caught cold).
    Simulated fresh session: build once, clear the in-process cache,
    then make training and index-writing raise — the second call must
    succeed entirely from the persisted artifacts and return the same
    centroids."""
    from yc_yq_airflow_etl_spark.plans import llm_queries as lq

    sf_dir = "/root/testdata/sf0.001"
    # build (or reuse a prior test run's) index + centroid JSON
    idx1, cents1 = lq._ensure_ann_index(spark, sf_dir)
    assert idx1.count() > 0 and cents1

    from yc_yq_airflow_etl_spark import catalog

    monkeypatch.setattr(catalog, "_ARTIFACTS", {})

    def _no_train(*a, **kw):
        raise AssertionError(
            "k-means re-ran despite a persisted centroid JSON"
        )

    def _no_write(*a, **kw):
        raise AssertionError("index rewrite despite the commit sentinel")

    import yc_yq_airflow_etl_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "train_ivf_centroids", _no_train)
    monkeypatch.setattr(sim, "write_ann_index", _no_write)
    idx2, cents2 = lq._ensure_ann_index(spark, sf_dir)
    assert cents2 == cents1  # bit-identical reload, not a retrain
    assert idx2.count() == idx1.count()


def test_connected_components_structures(spark):
    """Min-label propagation on a graph with the shapes that break
    naive implementations: a 6-vertex chain (diameter > 1 round), a
    triangle (cycle), an isolated pair, and a vertex bridging two
    would-be clusters. Labels must be the component-wide min."""
    from yc_yq_airflow_etl_spark.operators.dedup import connected_components

    edges = [
        # chain 10-11-12-13-14-15 (forces multi-round propagation)
        (11, 10), (11, 12), (13, 12), (14, 13), (15, 14),
        # triangle 20-21-22
        (20, 21), (21, 22), (22, 20),
        # isolated pair
        (31, 30),
        # bridge: 40-41, 42-43 joined through 44
        (40, 41), (42, 43), (41, 44), (44, 42),
    ]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r.id: r.label for r in connected_components(pairs).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
        40: 40, 41: 40, 42: 40, 43: 40, 44: 40,
    }


def test_dedup_cluster_assignments_keeper_semantics(spark, testdata):
    """Cluster assignments over real simhash pairs: every doc maps to
    the min doc_id of its cluster, keeper rows are self-mapped, the
    assignment is closed over the pair set (both ends of every pair
    share a keeper), and cluster sizes add up."""
    from yc_yq_airflow_etl_spark.operators.dedup import (
        dedup_cluster_assignments,
        simhash_dup_pairs,
    )

    docs = testdata["documents"]
    pairs = simhash_dup_pairs(docs, max_hamming=8).select("id_a", "id_b")
    pair_rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    assign = {
        r.doc_id: (r.keeper_id, r.cluster_size)
        for r in dedup_cluster_assignments(docs, pairs).collect()
    }
    # both ends of every pair are assigned, to the same keeper
    for a, b in pair_rows:
        assert assign[a][0] == assign[b][0]
    # keepers are members of their own cluster and self-mapped
    keepers = {k for k, _ in assign.values()}
    for k in keepers:
        assert assign[k][0] == k
    # keeper is the min id of the cluster; sizes count the members
    from collections import Counter

    members = Counter(k for k, _ in assign.values())
    for doc, (k, size) in assign.items():
        assert k <= doc
        assert size == members[k]


def test_ppm_resize_and_video_container_roundtrip():
    """Pure-codec invariants (no Spark): nearest-neighbor resize picks
    exactly source pixel ((x*W)//w, (y*H)//h); the concatenated-P6
    video container splits back into the original frames bytewise."""
    import numpy as np

    from yc_yq_airflow_etl_spark.operators.multimodal import (
        encode_ppm,
        encode_video,
        ppm_pixels_for,
        ppm_to_array,
        resize_nearest,
        split_video_frames,
    )

    img = ppm_pixels_for(42)  # (12, 16, 3)
    small = ppm_to_array(resize_nearest(encode_ppm(img), 8, 6))
    assert small.shape == (6, 8, 3)
    for y in range(6):
        for x in range(8):
            assert (small[y, x] == img[(y * 12) // 6, (x * 16) // 8]).all()

    frames = [ppm_pixels_for(7), ppm_pixels_for(8), ppm_pixels_for(9)]
    video = encode_video(frames)
    back = split_video_frames(video)
    assert len(back) == 3
    for f, b in zip(frames, back):
        assert np.array_equal(ppm_to_array(b), f)


def test_connected_components_long_chain_converges_logarithmically(spark):
    """The pointer-jumping claim, tested adversarially: a 200-vertex
    path graph has diameter 199 — plain min-propagation would need
    ~199 rounds and the operator caps at 25. With label-of-label
    shortcutting the chain collapses geometrically, so convergence
    inside the cap proves the O(log diameter) behavior, not just the
    happy path of dense LSH clusters."""
    from yc_yq_airflow_etl_spark.operators.dedup import connected_components

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    got = {r.id: r.label for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_convergence_rides_checkpoint_job(spark):
    """r17: the per-round monotone-sum convergence check is a
    ``DataFrame.observe`` metric on the round's eager localCheckpoint,
    not a separate ``.agg().first()`` action — the checkpoint's own
    materialization scan computes it, so each round saves one full
    O(V) pass (and its job-submission latency). Pinned by job count:
    an 8-vertex chain converges in 4 rounds and measures 30 jobs on
    the fused shape vs 40 with the separate per-round agg — the pin
    at 35 keeps AQE-noise headroom while staying red on the un-fused
    shape (mutation-verified in-session)."""
    from yc_yq_airflow_etl_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    dd.connected_components(pairs).collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("cc_conv_jobs", "cc convergence job count")
    try:
        got = {
            r.id: r.label
            for r in dd.connected_components(pairs).collect()
        }
        n_jobs = len(
            sc.statusTracker().getJobIdsForGroup("cc_conv_jobs")
        )
    finally:
        sc.setJobGroup("", "")
    assert got == {i: 1 for i in range(1, 9)}
    assert dd.LAST_CC_ROUNDS == 4
    assert n_jobs <= 35, (
        f"connected_components launched {n_jobs} jobs for 4 rounds — "
        "the convergence sum must ride the checkpoint job via "
        "observe, not run as its own per-round aggregation action"
    )


def test_connected_components_spares_concurrent_persists(spark):
    """The CC loop frees each round's localCheckpoint blocks by the
    RDD id read off its OWN plan node. Regression pin: a concurrent
    thread persisting checkpoints on the same SparkContext during the
    loop must keep every one of them readable afterwards — the old
    getPersistentRDDs set-diff attribution would free (irrecoverably)
    whatever happened to be persisted inside its window."""
    import threading

    from yc_yq_airflow_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 400, 2)], "id_a bigint, id_b bigint"
    )
    foreign, errors = [], []
    stop = threading.Event()

    def persister() -> None:
        try:
            while not stop.is_set() and len(foreign) < 15:
                d = spark.range(1000).localCheckpoint()
                foreign.append(d)
        except Exception as e:  # surfaced below — thread must not die
            errors.append(e)

    th = threading.Thread(target=persister)
    th.start()
    try:
        got = {r.id: r.label for r in connected_components(pairs).collect()}
    finally:
        stop.set()
        th.join(60)
    assert not errors, errors
    assert len(foreign) > 0
    # freed checkpoint blocks are unrecoverable: a count would raise
    for d in foreign:
        assert d.count() == 1000
    assert got[1] == 0 and got[3] == 2


def test_topk_join_guard_rejects_unbroadcastable_right(spark):
    df = spark.range(30).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    # 'error' is the DEFAULT: exact contract, no silent approximation
    with pytest.raises(ValueError, match="topk_join_blocked"):
        topk_join(df, df, k=1, broadcast_limit=10)
    with pytest.raises(ValueError, match="topk_join_blocked"):
        topk_join(df, df, k=1, broadcast_limit=10, oversize="error")


def test_topk_join_auto_falls_back_to_blocked_past_limit(spark):
    """With the explicit opt-in oversize='blocked', an over-limit
    right side must route to the sketch-blocked path (no broadcast,
    with a RuntimeWarning) instead of raising — and on clustered
    vectors the fallback's answer equals the exact broadcast one."""
    import math

    rows = []
    vid = 0
    for c in range(3):
        for j in range(5):
            vec = [0.0] * 8
            vec[c * 2] = 1.0
            vec[c * 2 + 1] = 0.02 * j
            n = math.sqrt(sum(x * x for x in vec))
            rows.append((vid, [x / n for x in vec]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = topk_join(df, df, k=2)  # 15 rows < default limit: broadcast
    with pytest.warns(RuntimeWarning, match="recall-bounded"):
        fallen = topk_join(
            df, df, k=2, broadcast_limit=5, oversize="blocked"
        )  # forced, explicitly-opted-in fallback
    e = sorted(map(tuple, exact.select("id_a", "id_b", "cosine").collect()))
    f = sorted(map(tuple, fallen.select("id_a", "id_b", "cosine").collect()))
    assert e == f


def test_topk_join_blocked_matches_broadcast_on_clustered_fixture(spark):
    """Equivalence property: on clustered vectors (near-neighbors share
    sketch bands), the sketch-blocked shuffle-join formulation returns
    the SAME top-k as the exact broadcast crossJoin."""
    import math

    from yc_yq_airflow_etl_spark.operators.similarity import topk_join_blocked

    rows = []
    vid = 0
    for c in range(3):  # 3 well-separated cluster axes in 8 dims
        for j in range(5):
            vec = [0.0] * 8
            vec[c * 2] = 1.0
            vec[c * 2 + 1] = 0.02 * j  # tight in-cluster spread
            n = math.sqrt(sum(x * x for x in vec))
            rows.append((vid, [x / n for x in vec]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = topk_join(df, df, k=2)
    blocked = topk_join_blocked(df, df, k=2, planes=16, bands=4)
    e = sorted(map(tuple, exact.select("id_a", "id_b", "cosine").collect()))
    b = sorted(map(tuple, blocked.select("id_a", "id_b", "cosine").collect()))
    assert e == b


def test_dataset_splits_stable_under_corpus_growth(spark, testdata):
    """The split promise: assignment is a pure function of doc_id, so
    computing splits over a PREFIX of the corpus and over the full
    corpus must agree on every shared document — growth never moves a
    doc across train/val/test (the leakage mode naive random splits
    have)."""
    from pyspark.sql import functions as F

    docs = testdata["documents"]

    def assign(df):
        h = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 100
        )
        split = (
            F.when(h < 80, F.lit("train"))
            .when(h < 90, F.lit("val"))
            .otherwise(F.lit("test"))
        )
        return df.select("doc_id", split.alias("split"))

    full = {r.doc_id: r.split for r in assign(docs).collect()}
    subset = {
        r.doc_id: r.split
        for r in assign(docs.filter(F.col("doc_id") % 3 == 0)).collect()
    }
    assert subset  # non-trivial
    assert all(full[k] == v for k, v in subset.items())
    # and the corpus is fully partitioned: every doc in exactly one split
    assert len(full) == docs.count()
    assert set(full.values()) == {"train", "val", "test"}


def test_incremental_dedup_matches_full_selfjoin_cross_pairs(spark, docs):
    """Probing a batch against an index built by the SAME banding must
    find exactly the cross-(batch, index) pairs the full self-join
    dedup finds (when no bucket cap binds) — the invariant that makes
    incremental ingest dedup sound."""
    from yc_yq_airflow_etl_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_pairs,
    )

    batch_ids = {2, 3}
    batch = docs.filter(F.col("doc_id").isin(*batch_ids))
    index = docs.filter(~F.col("doc_id").isin(*batch_ids))

    full = minhash_lsh_pairs(docs, jaccard_threshold=0.3)
    want = {
        frozenset((r.id_a, r.id_b)): r.jaccard
        for r in full.collect()
        if (r.id_a in batch_ids) != (r.id_b in batch_ids)  # cross only
    }
    inc = incremental_minhash_dedup(index, batch, jaccard_threshold=0.3)
    got = {
        frozenset((r.new_id, r.index_id)): r.jaccard for r in inc.collect()
    }
    assert got == want and len(got) >= 2  # (1,2),(1,3),(2,5)... present
    # every reported new_id is really from the batch side
    assert all(
        r.new_id in batch_ids and r.index_id not in batch_ids
        for r in inc.collect()
    )


def test_ensure_simhash_artifacts_cached_per_session_and_consistent(spark):
    """Second call returns the SAME cached frames; the cached pair set
    equals a fresh simhash_dup_pairs run, and the assignment matches a
    fresh dedup_cluster_assignments over those pairs."""
    from yc_yq_airflow_etl_spark.catalog import load_testdata
    from yc_yq_airflow_etl_spark.operators.dedup import (
        dedup_cluster_assignments,
        simhash_dup_pairs,
    )
    from yc_yq_airflow_etl_spark.plans.llm_queries import (
        SIMHASH_MAX_HAMMING,
        ensure_simhash_artifacts,
    )

    from yc_yq_airflow_etl_spark.operators.checkpoints import (
        checkpointed_rdd_id,
    )

    sf = "/root/testdata/sf0.001"
    before = persisted_rdd_ids(spark)
    p1, a1 = ensure_simhash_artifacts(spark, sf)
    first = persisted_rdd_ids(spark)
    p2, a2 = ensure_simhash_artifacts(spark, sf)
    assert p1 is p2 and a1 is a2  # memoized, not rebuilt
    # the two artifacts' checkpoints are all the first call keeps (none
    # when an earlier call in this session built them); a repeat call
    # keeps nothing
    assert first - before <= {checkpointed_rdd_id(p1), checkpointed_rdd_id(a1)}
    assert persisted_rdd_ids(spark) == first

    docs = load_testdata(spark, sf)["documents"]
    fresh_pairs = {
        (r.id_a, r.id_b)
        for r in simhash_dup_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING)
        .select("id_a", "id_b")
        .collect()
    }
    assert {(r.id_a, r.id_b) for r in p1.collect()} == fresh_pairs
    fresh_assign = {
        (r.doc_id, r.keeper_id, r.cluster_size)
        for r in dedup_cluster_assignments(docs, p1).collect()
    }
    assert {
        (r.doc_id, r.keeper_id, r.cluster_size) for r in a1.collect()
    } == fresh_assign


def test_minhash_index_probe_matches_inline(spark, docs, tmp_path):
    """The persisted fingerprint index is semantics-neutral: probing
    it finds exactly what the inline (re-derive the index) form finds,
    and appending an admitted doc makes later near-copies of it
    findable without rebuilding."""
    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.dedup import (
        append_to_minhash_index,
        incremental_minhash_dedup,
        probe_minhash_index,
        write_minhash_index,
    )

    idx_path = str(tmp_path / "mh_index")
    batch_ids = {2, 3}
    batch = docs.filter(SF.col("doc_id").isin(*batch_ids))
    corpus = docs.filter(~SF.col("doc_id").isin(*batch_ids))

    write_minhash_index(corpus, idx_path)
    via_index = probe_minhash_index(
        spark, idx_path, batch, jaccard_threshold=0.3
    )
    inline = incremental_minhash_dedup(corpus, batch, jaccard_threshold=0.3)
    key = lambda r: (r.new_id, r.index_id, r.est_jaccard, r.jaccard)  # noqa: E731
    assert sorted(map(key, via_index.collect())) == sorted(
        map(key, inline.collect())
    )
    assert via_index.count() >= 2  # fixture sanity: dups exist

    # admit doc 3 (the near-dup variant) into the index, then probe a
    # fresh copy of it: found via the APPENDED fingerprints only
    append_to_minhash_index(docs.filter(SF.col("doc_id") == 3), idx_path)
    copy_of_3 = docs.filter(SF.col("doc_id") == 3).select(
        SF.lit(99).cast("long").alias("doc_id"), "text"
    )
    hits = probe_minhash_index(
        spark, idx_path, copy_of_3, jaccard_threshold=0.3
    )
    got = {(r.new_id, r.index_id): r.jaccard for r in hits.collect()}
    assert got[(99, 3)] == 1.0  # exact copy of the admitted doc


def test_minhash_index_probe_result_stable_under_append(spark, docs, tmp_path):
    """The ingest-loop hazard: appending to the index must NOT change
    an already-returned probe result (a lazily-cached result would be
    invalidated by the write and recompute against the appended files,
    matching every appended doc to its own fingerprint)."""
    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.dedup import (
        append_to_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )

    idx = str(tmp_path / "mh_stable")
    write_minhash_index(docs.filter(SF.col("doc_id") <= 3), idx)
    batch = docs.filter(SF.col("doc_id") > 3)
    links = probe_minhash_index(spark, idx, batch, jaccard_threshold=0.3)
    before = sorted((r.new_id, r.index_id) for r in links.collect())
    append_to_minhash_index(batch, idx)  # worst case: append EVERYTHING
    after = sorted((r.new_id, r.index_id) for r in links.collect())
    assert after == before  # snapshot: no self-matches appear
    assert all(a != b for a, b in after)


def test_short_and_null_docs_dont_crash_ngram_paths(spark):
    """Round-8 review regression: Spark's sequence(1, 0) is the
    DESCENDING array [1, 0], so an unguarded ngram explosion crashed
    the whole job on any doc with < k tokens (slice start 0 throws).
    Short docs and NULL texts must yield EMPTY shingle lists, and
    exact_dedup must not cluster NULL texts together (md5(NULL) is
    NULL; grouping on it would declare unrelated docs copies)."""
    from yc_yq_airflow_etl_spark.functions.text import (
        ngram_list,
        word_shingles,
    )
    from yc_yq_airflow_etl_spark.operators.dedup import (
        exact_dedup,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "hi"),  # 1 token < k=3
            (2, None),  # NULL text
            (3, "alpha beta gamma delta"),
            (4, "alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    got = docs.select(
        "doc_id",
        F.size(word_shingles("text")).alias("n_sh"),
        F.size(ngram_list("text")).alias("n_ng"),
    ).collect()
    by_id = {r.doc_id: (r.n_sh, r.n_ng) for r in got}
    assert by_id[1] == (0, 0) and by_id[2] == (0, 0)
    assert by_id[3] == (2, 2)

    cands = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long"  # includes a short/NULL pair
    )
    pairs = ngram_jaccard_pairs(docs, cands).collect()
    scored = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert scored.get((3, 4)) == 1.0  # identical docs
    # the (short, NULL) pair must SCORE (0 or NULL), never crash
    assert (1, 2) not in scored or not scored[(1, 2)]

    clusters = exact_dedup(docs).collect()
    assert all(r.fp is not None for r in clusters)  # no NULL cluster
    assert {(r.keeper_id, r.copies) for r in clusters} == {(1, 1), (3, 2)}


def test_pandas_and_expression_tokenizers_agree_on_unicode_ws(spark):
    """Round-8 review regression: the Arrow/pandas hashing paths used
    Python's unicode-aware \\s while the expression layer (and the
    DuckDB oracles) use ASCII Java/RE2 \\s — a non-breaking space
    (U+00A0, ubiquitous in scraped web text) silently broke
    fingerprint parity. _normalize_py must replicate the JVM exactly."""
    from yc_yq_airflow_etl_spark.functions.text import normalize_text
    from yc_yq_airflow_etl_spark.operators.dedup import _normalize_py

    texts = [
        "alpha beta gamma delta",  # NBSP must NOT split
        "  alpha\tbeta\n gamma  ",  # ASCII ws collapses
        " lead and trail ",  # NBSP must NOT trim
        "MiXeD Case thin-space",  # U+2009 must NOT split
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = [r[0] for r in df.select(normalize_text("text")).collect()]
    py = [_normalize_py(t) for t in texts]
    assert jvm == py


def test_multimodal_extractors_skip_null_payloads(spark):
    """Round-8 review regression: MEDIA_SCHEMA declares payload
    nullable (a failed object-store fetch is the normal source), but
    the real decoders crash on None. Every extractor must SKIP null
    payloads — no feature row, no stage crash — and a P6 header with
    maxval != 255 (2-byte netpbm samples) must fail loudly instead of
    silently mis-decoding."""
    import numpy as np
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        encode_wav_pcm16,
        extract_ppm_features,
        extract_wav_features,
        ppm_ahash,
        sample_video_frames,
    )

    wav = encode_wav_pcm16([0, 1000, -1000, 500], sample_rate=8000)
    media_w = spark.createDataFrame(
        [(1, wav), (2, None)], "media_id long, payload binary"
    )
    rows = extract_wav_features(media_w).collect()
    assert [r.media_id for r in rows] == [1]  # null skipped, no crash

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    ppm = encode_ppm(px)
    media_p = spark.createDataFrame(
        [(1, ppm), (2, None)], "media_id long, payload binary"
    )
    assert [r.media_id for r in extract_ppm_features(media_p).collect()] == [1]
    assert [r.media_id for r in ppm_ahash(media_p).collect()] == [1]
    assert {
        r.media_id for r in sample_video_frames(media_p, every_k=1).collect()
    } == {1}

    bad = ppm.replace(b"255", b"65535", 1)
    with _pytest.raises(ValueError, match="maxval"):
        decode_ppm(bad)


def test_ann_paths_tolerate_null_embeddings(spark):
    """Round-8 review regression: np.vstack over a Series containing
    None raised inside the vectorized UDFs, so ONE null embedding
    killed lsh_topk / index builds / blocked joins while
    brute_force_topk tolerated the same data. NULL vectors must yield
    NULL sketch/assignment/cosine and drop out of results."""
    from yc_yq_airflow_etl_spark.operators.similarity import (
        lsh_topk,
        topk_join,
        topk_join_blocked,
        train_ivf_centroids,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.95, 0.05, 0.0, 0.0]),
        (3, None),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = lsh_topk(df, [1.0, 0.0, 0.0, 0.0], k=3, max_hamming=1).collect()
    assert got and all(r.vec_id != 3 for r in got)

    cents = train_ivf_centroids(df, k_clusters=8, iters=1)
    assert 1 <= len(cents) <= 3  # clamped to non-NULL vector count

    jb = topk_join_blocked(df, df, k=1).collect()
    assert jb and all(r.id_a != 3 and r.id_b != 3 for r in jb)


def test_topk_join_cross_table_keeps_coincident_ids(spark):
    """Round-8 review regression: the unconditional id_a != id_b
    filter silently dropped a DIFFERENT table's true nearest neighbor
    whenever the two tables' id spaces coincidentally overlapped.
    exclude_self=False keeps it; the default still excludes self-pairs
    for the self-join use."""
    from yc_yq_airflow_etl_spark.operators.similarity import topk_join

    queries = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    best = topk_join(queries, corpus, k=1, exclude_self=False).collect()
    assert [(r.id_a, r.id_b) for r in best] == [(7, 7)]  # true NN kept
    dflt = topk_join(queries, corpus, k=1).collect()
    assert [(r.id_a, r.id_b) for r in dflt] == [(7, 8)]  # self excluded


def test_connected_components_matches_union_find_property(spark):
    """Property: min-label propagation with pointer jumping equals a
    python union-find over RANDOM graphs — self-loops, duplicate and
    reversed edges, chains, cliques, isolated pairs, whatever the
    generator draws. The fixed-shape structure test above pins known
    hard cases; this pins the algorithm on shapes nobody thought of
    (pointer jumping's shortcut step is exactly the kind of code a
    subtle bug survives fixed fixtures in)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from yc_yq_airflow_etl_spark.operators.dedup import connected_components

    edges_s = st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=20,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    @given(edges=edges_s)
    def prop(edges):
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        verts = {v for e in edges for v in e}
        want = {v: find(v) for v in verts}
        # canonical label = component MIN id
        comp_min: dict[int, int] = {}
        for v, r in want.items():
            comp_min[r] = min(comp_min.get(r, v), v)
        want = {v: comp_min[r] for v, r in want.items()}

        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        got = {r.id: r.label for r in connected_components(pairs).collect()}
        assert got == want, (sorted(edges), got, want)

    prop()


def test_stratified_sample_keeps_null_lang_stratum(spark, monkeypatch):
    """The NULL-lang stratum must survive the n_in_stratum enrichment
    join (r10 ADVICE): window + groupBy both treat NULL as its own
    stratum, so an inner equi-join there would silently drop exactly
    the rows the population pin exists to audit. The join is
    null-safe (<=>) — NULL-lang docs come back with their count."""
    from yc_yq_airflow_etl_spark.plans import llm_queries as lq

    d = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, None), (4, None), (5, "de")],
        "doc_id long, lang string",
    )
    monkeypatch.setattr(lq, "load_testdata", lambda s, sf: {"documents": d})
    out = lq.stratified_doc_sample(spark, "ignored").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    assert set(by_lang) == {"en", "de", None}
    assert len(by_lang[None]) == 2
    assert all(r.n_in_stratum == 2 for r in by_lang[None])
    assert all(r.n_in_stratum == 2 for r in by_lang["en"])
    assert all(r.n_in_stratum == 1 for r in by_lang["de"])


def test_minhash_index_concurrent_appends_lose_nothing(spark, tmp_path, monkeypatch):
    """r15: the fingerprint index is a ManifestTable, not a plain
    parquet dir — ``mode('append')`` parquet writers share one
    _temporary/ staging dir, so two concurrent appenders (ingest loop
    + backfill) destroy each other's in-flight task files, and a probe
    racing an append can read a half-landed batch. Pin the manifest
    property: an append landing INSIDE another append's publish window
    rebase-stacks — both batches' fingerprints land, none lost — and a
    probe frame resolved before the appends still sees its own
    complete snapshot."""
    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.catalog import load_testdata
    from yc_yq_airflow_etl_spark.operators.dedup import (
        _index_table,
        append_to_minhash_index,
        write_minhash_index,
    )
    from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable

    docs = (
        load_testdata(spark, "/root/testdata/sf0.001")["documents"]
        .select("doc_id", "text")
        .limit(12)
    )
    idx = str(tmp_path / "mh_idx")
    write_minhash_index(docs.filter(SF.col("doc_id") % 3 == 0), idx)
    pre_snapshot = _index_table(idx).read(spark)
    n_pre = pre_snapshot.count()

    orig_pub = ManifestTable._publish
    fired = []

    def rival_append_in_window(self, spark_, op, build, **kw):
        if op == "append" and not fired and self.path.endswith("mh_idx"):
            fired.append(True)
            append_to_minhash_index(
                docs.filter(SF.col("doc_id") % 3 == 1), idx
            )
        return orig_pub(self, spark_, op, build, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", rival_append_in_window)
    append_to_minhash_index(docs.filter(SF.col("doc_id") % 3 == 2), idx)
    assert fired
    got = {
        r._id for r in _index_table(idx).read(spark).select("_id").collect()
    }
    want = {r.doc_id for r in docs.collect()}
    assert got == want, "a concurrent append lost fingerprints"
    # the pre-append snapshot is unaffected by either append
    assert pre_snapshot.count() == n_pre


def test_lang_char_stats_degenerate_groups_match_sql_semantics(spark):
    """r15 degenerate-input sweep: the fixture data masked three
    latent cross-engine divergences in the grouped-map UDAF —
    (a) a single-doc group's numpy ddof=1 std is NaN where DuckDB's
    stddev_samp is NULL (driver hash divergence), (b) a NULL n_chars
    crashed the int64 conversion where SQL aggregates just ignore
    NULLs, (c) the NULL language is a legal group the non-nullable
    schema refused. Pinned against DuckDB running the ORACLE SQL shape
    over the same rows. Mutation-verified: the old int64-everything
    body crashes on (b) and emits NaN on (a)."""
    import math

    import duckdb
    import pandas as pd

    from yc_yq_airflow_etl_spark.functions.udfs import lang_char_stats

    rows = [
        # lang, doc_id, n_chars
        ("en", 1, 10),
        ("en", 2, 30),
        ("solo", 3, 7),      # single-doc group: std must be NULL
        ("gap", 4, None),    # NULL n_chars in a counted row
        ("gap", 5, 20),
        (None, 6, 5),        # NULL language group
        ("void", 7, None),   # all-NULL group: value stats all NULL
    ]
    df = spark.createDataFrame(
        rows, "lang string, doc_id long, n_chars long"
    )
    got = {
        r.lang: r.asDict()
        for r in lang_char_stats(df.select("lang", "doc_id", "n_chars"))
        .collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["lang", "doc_id", "n_chars"]),
    )
    want = con.execute(
        """
        SELECT lang, count(*) AS n_docs,
               floor(avg(n_chars) * 1e6 + 0.5) / 1e6 AS mean_chars,
               floor(stddev_samp(n_chars) * 1e6 + 0.5) / 1e6 AS std_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
        FROM documents GROUP BY lang
        """
    ).fetch_df()
    assert len(got) == len(want)
    for _, w in want.iterrows():
        g = got[None if pd.isna(w["lang"]) else w["lang"]]
        for col in (
            "n_docs", "mean_chars", "std_chars",
            "sum_chars", "min_chars", "max_chars", "doc_id_sum",
        ):
            gv, wv = g[col], w[col]
            if gv is None or (isinstance(gv, float) and math.isnan(gv)):
                assert pd.isna(wv), (w["lang"], col, gv, wv)
                assert gv is None, (
                    f"{col} must be NULL, not NaN — NaN hash-diverges "
                    "from the oracle"
                )
            else:
                assert not pd.isna(wv), (w["lang"], col, gv, wv)
                assert float(gv) == float(wv), (w["lang"], col, gv, wv)


def test_lang_id_null_text_identifies_as_null(spark):
    """r15 degenerate-input sweep: a NULL text's stopword scores are
    all NULL, so every tie-check was three-valued-false and the old
    fallthrough default classified every NULL doc as 'zh' — silently
    misattributing fetch-failed docs into the zh stratum of mixture
    weights and stratified splits. The oracle replay (CASE with no
    ELSE) always said NULL; the engine now agrees. Mutation-verified:
    the unguarded expr returns 'zh' for row 1."""
    from yc_yq_airflow_etl_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [(1, None), (2, "the cat and the dog of a to in is that")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang for r in df.select(
        "doc_id", lang_id("text").alias("lang")
    ).collect()}
    assert got == {1: None, 2: "en"}


def test_lang_id_bound_form_matches_composed_scores(spark):
    """r18 single-tokenize rewrite: lang_id binds the distinct-token
    array and the 5-score vector once as lambda variables instead of
    re-expanding the tokenize subtree into every score reference (48
    regexp_replace copies in the r17 plan). This pins (a) value
    equivalence against the straightforward composed form on corpus
    text, ties, hit-less docs, NULL/empty/whitespace text, and (b)
    the plan property — the projection carries exactly ONE tokenize
    chain."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.functions.text import (
        LANG_ORDER,
        lang_id,
        stopword_hits,
    )

    def composed(col):
        c = F.col(col)
        scores = [stopword_hits(col, lang) for lang in LANG_ORDER]
        best = F.greatest(*scores)
        expr = F.lit(LANG_ORDER[-1])
        for lang, score in reversed(
            list(zip(LANG_ORDER[:-1], scores[:-1]))
        ):
            expr = F.when(score == best, F.lit(lang)).otherwise(expr)
        return F.when(c.isNotNull(), expr)

    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "the cat and the dog of a to in is that"),
            (5, "der hund und die katze ist nicht mit ein"),
            (6, "le chat et la maison est pas pour une"),
            (7, "el perro los gatos es por para una con"),
            (8, "de le shi bu wo ni ta men"),
            (9, "the der le el es und — multi-language tie bait"),
            (10, "zzz qqq xxx no stopwords at all"),
        ],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        composed("text").alias("o"),
        lang_id("text").alias("n"),
    ).collect()
    for r in rows:
        assert r.o == r.n, (r.doc_id, r.o, r.n)
    # plan pin: one tokenize chain per lang_id call, not one per score
    plan = (
        df.select(lang_id("text").alias("p"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("regexp_replace") == 1, plan.count("regexp_replace")


def test_minhash_index_overwrite_purges_legacy_parquet_layout(
    spark, docs, tmp_path
):
    """r16 ADVICE: a pre-r15 index written as plain append-mode
    parquet at the top level of index_path is treated as ABSENT by
    the ManifestTable layout — correctness was covered by the sync
    rebuild, but the legacy files were never read, never vacuumed,
    and a user pointing plain spark.read.parquet at the dir would
    read the STALE index. write_minhash_index (replace-everything
    contract) now deletes top-level part-*.parquet/_SUCCESS debris;
    the manifest layout's own subdirectories are untouched."""
    import os

    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )

    idx = str(tmp_path / "mh_legacy")
    # fake the pre-r15 layout: top-level parquet + _SUCCESS
    docs.limit(2).select("doc_id").coalesce(1).write.parquet(idx)
    top = set(os.listdir(idx))
    assert any(n.endswith(".parquet") for n in top) and "_SUCCESS" in top

    write_minhash_index(docs.filter(SF.col("doc_id") <= 3), idx)
    top = set(os.listdir(idx))
    assert not any(n.endswith(".parquet") for n in top), top
    assert "_SUCCESS" not in top
    # the rebuilt index works and the manifest layout is intact
    assert {"data", "_manifests"} <= top
    copy = docs.filter(SF.col("doc_id") == 1).select(
        SF.lit(99).cast("long").alias("doc_id"), "text"
    )
    hits = {
        (r.new_id, r.index_id): r.jaccard
        for r in probe_minhash_index(
            spark, idx, copy, jaccard_threshold=0.9
        ).collect()
    }
    assert hits[(99, 1)] == 1.0  # exact copy found via the new index


def test_query_score_expression_is_memoized_and_reusable(spark):
    """r17: the per-query cosine expression is built once per
    (vec_col, query) and memoized — building it costs ~0.2 s of py4j
    round-trips and the recall report used to pay that per branch.
    Pin the two properties the optimization rests on: same-args calls
    return the SAME Column object, and one cached Column inserted
    into two DIFFERENT plans scores both correctly."""
    from yc_yq_airflow_etl_spark.operators.similarity import _query_score

    q = (1.0, 0.0)
    assert _query_score("embedding", q) is _query_score("embedding", q)
    a = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    b = spark.createDataFrame(
        [(2, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    sa = a.select(_query_score("embedding", q).alias("c")).first().c
    sb = b.select(_query_score("embedding", q).alias("c")).first().c
    assert sa == 1.0 and sb == 0.0


def test_query_score_cache_is_keyed_by_application_id(spark, monkeypatch):
    """The memo key is the active context's application id, not ``id()``
    of the context object: Python may hand a stopped context's ``id``
    to the next context, which would then get the dead context's
    Column. Two application ids never share an entry, even when the
    context object (and so its ``id``) is the same one."""
    from pyspark import SparkContext

    from yc_yq_airflow_etl_spark.operators import similarity as S

    q = (0.5, 0.25)
    first = S._query_score("embedding", q)
    app_id = SparkContext._active_spark_context.applicationId
    assert S._query_score_for_ctx(app_id, "embedding", q) is first
    monkeypatch.setattr(
        SparkContext, "applicationId", property(lambda self: "app-next")
    )
    second = S._query_score("embedding", q)
    assert second is not first
    assert S._query_score("embedding", q) is second


def test_quantization_refuses_or_nulls_non_finite_vectors(spark):
    """r16 sweep — the index-build sibling of the r14 cosine guard
    (and the bucketed-join/z-order NaN family): Spark's floor(NaN) is
    silently 0 and floor(+Inf) is Long.MAX, so a single NaN/Inf
    embedding component used to quantize into a REAL vector — the
    corrupt dim trained as 0.0, and the Inf micro-value WRAPPED the
    trainer's int64 centroid sums (reproduced: one such vector
    dragged a trained centroid to garbage). numpy's astype(int64) of
    non-finite is likewise undefined garbage bits in the LSH sketch.
    Contract now: data-side vectors with any non-finite component
    quantize/sketch to NULL (dropping out of training, assignment and
    hamming like NULL embeddings); driver-side QUERY vectors refuse
    loudly."""
    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.similarity import (
        _probe_clusters,
        quantize_vec,
        sign_sketch,
        sketch_bits,
        train_ivf_centroids,
    )

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [nan, 2.0]),
            (3, [inf, 2.0]),
            (4, [-inf, 2.0]),
            (5, [3.0, 4.0]),
            (6, None),
        ],
        "vec_id int, embedding array<double>",
    )
    q = df.select(
        "vec_id", quantize_vec(SF.col("embedding")).alias("q")
    ).orderBy("vec_id")
    got = {r.vec_id: r.q for r in q.collect()}
    assert got[1] == [1000000, 2000000] and got[5] == [3000000, 4000000]
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[6] is None  # NULL stays NULL

    # training sees only the finite vectors: centroids are exactly the
    # two clean rows (k=2, init = lowest ids, already converged)
    cents = train_ivf_centroids(df, k_clusters=2, iters=2)
    assert cents == [[1000000, 2000000], [3000000, 4000000]]

    # LSH sketch: non-finite rows sketch NULL, finite rows match the
    # driver-side sketch_bits bit-for-bit
    sk = {
        r.vec_id: r.s
        for r in df.select(
            "vec_id", sign_sketch(SF.col("embedding")).alias("s")
        ).collect()
    }
    assert sk[2] is None and sk[3] is None and sk[4] is None
    assert sk[1] == sketch_bits([1.0, 2.0]) and sk[5] == sketch_bits(
        [3.0, 4.0]
    )

    # query vectors are caller input: loud
    with pytest.raises(ValueError, match="NaN/Inf"):
        sketch_bits([nan, 1.0])
    with pytest.raises(ValueError, match="NaN/Inf"):
        _probe_clusters([1.0, inf], cents, 1)


def test_band_and_histogram_param_guards(spark, docs):
    """r16 degenerate-param sweep, tail of the floor/sequence family:

    - bands > num_hashes made rows-per-band 0 — every doc md5-hashed
      an EMPTY signature slice into one shared bucket per band, the
      bucket cap dropped those degenerate buckets, and LSH recall
      silently became ZERO (no error, no candidates); bands < 1 made
      F.sequence silently descend into junk band ids. Both refuse.
    - build_histogram(lo == hi) divided every in-domain value to a
      NaN bin that greatest/least silently clamped into the TOP edge
      bin (all mass in bin N-1, no error); lo > hi mirrored the
      binning. Both refuse, in build_histogram and the quantile
      reader."""
    from yc_yq_airflow_etl_spark.operators.dedup import minhash_lsh_pairs
    from yc_yq_airflow_etl_spark.operators.sketches import (
        build_histogram,
        histogram_quantiles,
    )

    with pytest.raises(ValueError, match="cannot exceed num_hashes"):
        minhash_lsh_pairs(docs, num_hashes=8, bands=16)
    with pytest.raises(ValueError, match="bands must be >= 1"):
        minhash_lsh_pairs(docs, num_hashes=8, bands=0)

    df = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS x")
    with pytest.raises(ValueError, match="lo < hi"):
        build_histogram(df, "x", 5.0, 5.0, 16)
    with pytest.raises(ValueError, match="lo < hi"):
        build_histogram(df, "x", 10.0, 0.0, 16)
    with pytest.raises(ValueError, match="bins"):
        build_histogram(df, "x", 0.0, 10.0, 0)
    h = build_histogram(df, "x", 0.0, 10.0, 16)
    with pytest.raises(ValueError, match="lo < hi"):
        histogram_quantiles(h, [0.5], 5.0, 5.0, 16)


def test_multimodal_param_guards(spark):
    """r16 degenerate-param sweep tail: a 0x0 resize target silently
    produced 0-pixel junk payloads per row; every_k=0 raised a
    range-step error inside the executor naming neither param nor
    operator; grid=0 made every image's aHash the empty string — all
    images silently 'duplicates'."""
    from yc_yq_airflow_etl_spark.operators.multimodal import (
        ppm_ahash,
        resize_ppm_features,
        sample_video_frames,
        synthesize_ppm_corpus,
    )

    ids = spark.range(1, 3).selectExpr("id AS media_id")
    media = synthesize_ppm_corpus(ids)
    with pytest.raises(ValueError, match="resize target"):
        resize_ppm_features(media, 0, 4)
    with pytest.raises(ValueError, match="every_k"):
        sample_video_frames(media, every_k=0)
    with pytest.raises(ValueError, match="grid"):
        ppm_ahash(media, grid=0)


def test_sketch_param_guards(spark):
    """r16 degenerate-param sweep tail, sketches: depth=0 exploded an
    EMPTY row array — every input row silently dropped, the sketch
    empty, every frequency estimate 0 (the one direction CMS must
    never err); width=0 is `% 0` (DIVIDE_BY_ZERO under the pinned
    ANSI session); kmv k=0 is limit(0) — an empty sketch whose
    distinct estimates are silently 0; a bloom num_bits that is not a
    multiple of 64 indexes PAST the probe-side word array
    (IndexError naming neither param), and k=0 sets no bits so every
    membership test answers 'absent' and the prefilter drops all
    rows."""
    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
        build_cms,
        cms_estimate,
        kmv_sketch,
    )

    df = spark.range(10).selectExpr("CAST(id AS STRING) AS k")
    with pytest.raises(ValueError, match="depth"):
        build_cms(df, "k", depth=0)
    with pytest.raises(ValueError, match="width"):
        build_cms(df, "k", width=0)
    with pytest.raises(ValueError, match="depth"):
        cms_estimate(build_cms(df, "k"), df, "k", depth=0)
    with pytest.raises(ValueError, match="k must be >= 1"):
        kmv_sketch(df, "k", k=0)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(df, "k", num_bits=100)
    with pytest.raises(ValueError, match="k must be >= 1"):
        bloom_build(df, "k", num_bits=128, k=0)
    words = bloom_build(df, "k", num_bits=128, k=2)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_might_contain(words, SF.col("k"), num_bits=100, k=2)
