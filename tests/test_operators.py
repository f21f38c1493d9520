"""Unit/property tests for the engine's custom operators: rotation sink
round-trip, as-of join vs naive range-join, MinHash recall vs exact
Jaccard, LSH ANN recall vs brute force, SimHash near-dup property,
multimodal plumbing determinism."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from blockchaintoavro_spark.operators.asof import asof_latest
from blockchaintoavro_spark.operators.dedup import (
    boilerplate_ngrams,
    contamination_hits,
    dedup_clusters,
    exact_dedup,
    exact_jaccard_pairs,
    minhash_candidate_pairs,
    simhash64,
)
from blockchaintoavro_spark.operators.rotation import (
    read_rotated,
    with_window_id,
    write_rotated,
)
from blockchaintoavro_spark.operators.similarity import (
    ann_topk_lsh,
    topk_per_query,
)
from blockchaintoavro_spark.sources.tables import load_blocks, load_events


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="btc_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# rotation sink (K1/DQ-24)


def test_rotated_write_reread_roundtrip(spark, tmpdir):
    """Partitioned rotation write must preserve per-window counts
    (AvroWriter.java:45-49 semantics: window id = epochSec/rotation)."""
    b = load_blocks(spark).select("ingest_id", "block_id", "timestamp")
    write_rotated(b, tmpdir, rotation_seconds=600)
    back = read_rotated(spark, tmpdir)
    expected = (
        with_window_id(b, rotation_seconds=600)
        .groupBy("window_id")
        .agg(F.count("*").alias("n"))
    )
    actual = back.groupBy("window_id").agg(F.count("*").alias("n"))
    assert expected.subtract(actual).count() == 0
    assert actual.subtract(expected).count() == 0
    # every window becomes its own directory == the reference's one file
    # per rotation period
    n_windows = expected.count()
    assert back.select("window_id").distinct().count() == n_windows


# ---------------------------------------------------------------------------
# as-of join


def test_asof_matches_naive_range_join(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "error").select("user_id", "ts")

    fast = asof_latest(left, right, "user_id", "ts", "ts", ["ts"]).select(
        "event_id", F.col("asof_ts")
    )
    naive = (
        left.alias("l")
        .join(
            right.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") <= F.col("l.ts")),
            "left",
        )
        .groupBy("l.event_id")
        .agg(F.max("r.ts").alias("asof_ts"))
    )
    assert fast.subtract(naive).count() == 0
    assert naive.subtract(fast).count() == 0


# ---------------------------------------------------------------------------
# dedup family quality


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """LSH candidates must cover >=90% of true Jaccard>=0.4 pairs
    (SURVEY §2.4 exclusion note: recall >= 0.9 vs DQ-33)."""
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 100)
    )
    truth = {
        (r.d1, r.d2)
        for r in exact_jaccard_pairs(d, threshold=0.4).collect()
    }
    cand = {
        (r.d1, r.d2)
        for r in minhash_candidate_pairs(d, n_hashes=32, n_bands=16).collect()
    }
    assert truth, "fixture should contain true near-dup pairs"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall:.3f} < 0.9"


def test_exact_dedup_keeps_one_per_content(spark):
    # tokens() is the exact twin of the oracle's string_split(lower, ' '):
    # case-insensitive, but repeated spaces are NOT collapsed (ADVICE r1 —
    # engine-side normalization beyond the oracle's would silently diverge).
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A B C"), (3, "x y"), (4, "a  b   c")],
        "doc_id long, text string",
    )
    kept = exact_dedup(df)
    # rows 1,2 are the same content (case-folded) → min id 1 survives;
    # row 4's extra spaces make it distinct content, as in the oracle.
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4]


def test_boilerplate_ngrams_counts_each_doc_once(spark):
    """A gram repeated *within* one doc counts once (per-doc distinct);
    only grams reaching min_docs distinct documents survive."""
    df = spark.createDataFrame(
        [
            (1, "all rights reserved by acme"),
            (2, "ALL RIGHTS RESERVED twice all rights reserved"),
            (3, "all rights reserved"),
            (4, "unrelated text entirely here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.gram: r.n_docs
        for r in boilerplate_ngrams(df, n=3, min_docs=3).collect()
    }
    # doc 2 contributes "all rights reserved" once despite repeating it
    assert got == {"all rights reserved": 3}


def _union_find_components(edges, nodes):
    """Independent pure-python oracle: min node id per component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_dedup_clusters_known_graph(spark):
    """Chain + triangle + isolated pair: min-id labels everywhere; the
    7-node chain forces several propagation rounds."""
    edges = [(2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),  # chain
             (10, 11), (11, 12), (10, 12),                     # triangle
             (20, 21)]                                         # pair
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {
        2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 7: 2, 8: 2,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dedup_clusters_random_graphs_match_union_find(spark):
    """Property check on seeded random graphs vs an independent
    union-find implementation (no Spark, no joins)."""
    import random

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(45)
            }
        )
        nodes = sorted({x for e in edges for x in e})
        want = _union_find_components(edges, nodes)
        pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {
            r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()
        }
        assert got == want, f"seed {seed}"


def test_dedup_clusters_empty_pairs(spark):
    pairs = spark.createDataFrame([], "d1 long, d2 long")
    assert dedup_clusters(pairs).count() == 0


def test_quantize_embeddings_roundtrip_error_bound(spark):
    """Dequantized vectors must be within qscale/2 per element; zero
    vectors must not divide by zero."""
    from blockchaintoavro_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 127.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-2.5, 2.5, 0.1, -0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df)
    rows = {r.vec_id: r for r in q.collect()}
    assert rows[2].qscale == 0.0 and rows[2].q == [0, 0, 0, 0]
    assert all(-127 <= x <= 127 for r in rows.values() for x in r.q)
    back = {
        r.vec_id: r.embedding for r in dequantize_embeddings(q).collect()
    }
    orig = {r.vec_id: r.embedding for r in df.collect()}
    for vid, vec in orig.items():
        sc = max(abs(x) for x in vec) / 127.0
        for a, b in zip(vec, back[vid]):
            assert abs(a - b) <= sc / 2 + 1e-12, (vid, a, b)


def test_tfidf_topk_known_corpus(spark):
    """3-doc corpus with hand-computable tf-idf: 'cat' is unique to doc 1
    and must be its top term; a term in every doc still has idf=1 (smooth
    variant) but scores below rarer terms with equal tf."""
    import math

    from blockchaintoavro_spark.operators.quality import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "cat cat common filler"),
            (2, "dog common filler filler"),
            (3, "bird common other words"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2).collect()
    top = {(r.doc_id, r.rn): (r.term, r.tfidf) for r in out}
    # doc1 top: cat tf=2, df=1 → 2*(ln(4/2)+1)
    want = round(2 * (math.log(4 / 2) + 1), 4)
    assert top[(1, 1)] == ("cat", want)
    # every doc got exactly k=2 ranked terms
    assert sorted(top) == [(d, r) for d in (1, 2, 3) for r in (1, 2)]


def test_boilerplate_ratio_known_answer(spark):
    """Hand-provided gram list: doc 1 has 3 distinct 3-grams, one of which
    is boilerplate (ratio 1/3); doc 2 is too short for any 3-gram and must
    survive with ratio 0.0 (the left-join-back rule)."""
    from blockchaintoavro_spark.operators.dedup import boilerplate_ratio

    docs = spark.createDataFrame(
        [(1, "all rights reserved by me"), (2, "xy z"), (3, "no template span here")],
        "doc_id long, text string",
    )
    grams = spark.createDataFrame([("all rights reserved",)], "gram string")
    got = {r.doc_id: r for r in boilerplate_ratio(docs, grams, n=3).collect()}
    assert (got[1].total_grams, got[1].bp_grams) == (3, 1)
    assert got[1].bp_ratio == pytest.approx(1 / 3)
    assert (got[2].total_grams, got[2].bp_grams, got[2].bp_ratio) == (0, 0, 0.0)
    assert (got[3].total_grams, got[3].bp_grams, got[3].bp_ratio) == (2, 0, 0.0)


def test_boilerplate_ratio_duplicate_gram_list_tolerated(spark):
    """A caller-supplied gram list with repeats (e.g. a union of two
    boilerplate lists) must score exactly like the deduplicated list —
    the r16 mark-join rewrite dedups its build side so repeated grams
    can never fan out the corpus rows and inflate either count (the old
    semi-join was duplicate-tolerant by construction)."""
    from blockchaintoavro_spark.operators.dedup import boilerplate_ratio

    docs = spark.createDataFrame(
        [(1, "all rights reserved by me")], "doc_id long, text string"
    )
    grams = spark.createDataFrame(
        [("all rights reserved",), ("all rights reserved",)], "gram string"
    )
    (row,) = boilerplate_ratio(docs, grams, n=3).collect()
    assert (row.total_grams, row.bp_grams) == (3, 1)
    assert row.bp_ratio == pytest.approx(1 / 3)


def test_incremental_dedup_known_answer(spark):
    """Batch vs standing corpus: exact-content rows (case-folded) drop,
    within-batch dups keep the min id, fresh content survives."""
    from blockchaintoavro_spark.operators.dedup import incremental_dedup

    seen = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "A B"),      # dup of seen doc 1 (case-insensitive) → drop
            (11, "x y"),      # fresh → keep
            (12, "X Y"),      # within-batch dup of 11 → drop
            (13, "c d"),      # dup of seen doc 2 → drop
            (14, "fresh solo text"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in incremental_dedup(batch, seen).collect())
    assert kept == [11, 14]
    # precomputed-hash form (the persisted-state shape) agrees
    from blockchaintoavro_spark.operators.dedup import content_hash

    seen_h = seen.select(content_hash("text").alias("_h"))
    kept2 = sorted(
        r.doc_id
        for r in incremental_dedup(batch, seen_h, seen_is_hashes=True).collect()
    )
    assert kept2 == kept


def test_unigram_logprob_known_corpus(spark):
    """Hand-computed corpus LM: counts a:2 b:2 c:1 over n=5 tokens;
    doc 1 = [a a b] → H = log2(5/2); doc 2 = [b c] → (log2(5/2)+log2(5))/2."""
    import math

    from blockchaintoavro_spark.operators.quality import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    assert got[1].n_tokens == 3 and got[2].n_tokens == 2
    assert got[1].bits_per_token == pytest.approx(math.log2(5 / 2))
    assert got[2].bits_per_token == pytest.approx(
        (math.log2(5 / 2) + math.log2(5)) / 2
    )


def test_score_buckets_rank_tiling(spark):
    """5 rows / 3 tiles → sizes 2,2,1 in (score, id) order; ties broken
    by id so the assignment is a total order."""
    from blockchaintoavro_spark.operators.quality import score_buckets

    df = spark.createDataFrame(
        [(1, 5.0), (2, 1.0), (3, 3.0), (4, 1.0), (5, 4.0)],
        "doc_id long, s double",
    )
    got = {r.doc_id: r.bucket for r in score_buckets(df, "s").collect()}
    # order: (1.0,2) (1.0,4) | (3.0,3) (4.0,5) | (5.0,1)
    assert got == {2: "head", 4: "head", 3: "middle", 5: "middle", 1: "tail"}


def test_threshold_buckets_row_local(spark):
    from blockchaintoavro_spark.operators.quality import threshold_buckets

    df = spark.createDataFrame(
        [(1, 0.5), (2, 2.0), (3, 9.0), (4, 2.0001)], "doc_id long, s double"
    )
    got = {
        r.doc_id: r.bucket
        for r in threshold_buckets(df, "s", [2.0, 5.0]).collect()
    }
    # boundary 2.0 is inclusive on the lower bucket
    assert got == {1: "head", 2: "head", 3: "tail", 4: "middle"}


def test_contamination_hits_and_decontaminate(spark):
    """Known-answer n-gram decontamination: doc 1 shares the 3-gram
    'c d e' with the contaminant, doc 2 shares two distinct 3-grams,
    doc 3 shares none, doc 4 is shorter than n (must yield [] grams,
    not a backwards-sequence error)."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "p q r s q r s"),  # grams 'p q r','q r s','r s q','s q r'
            (3, "x y z w v u"),
            (4, "a b"),  # shorter than n=3
        ],
        "doc_id long, text string",
    )
    cont = spark.createDataFrame(
        [(100, "z z c d e z z"), (101, "q r s q r")],
        "doc_id long, text string",
    )
    hits = {
        r.doc_id: r.n_hits
        for r in contamination_hits(docs, cont, n=3).collect()
    }
    # doc2 grams {'p q r','q r s','r s q','s q r'} ∩ contaminant grams
    # {'q r s','r s q','s q r'} → 3 distinct shared grams
    assert hits == {1: 1, 2: 3}
    hit_ids = contamination_hits(docs, cont, n=3).select("doc_id")
    kept = sorted(
        r.doc_id for r in docs.join(hit_ids, "doc_id", "left_anti").collect()
    )
    assert kept == [3, 4]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text about spark engines"),
        ],
        "doc_id long, text string",
    )
    h = {r.doc_id: r.simhash for r in simhash64(df).collect()}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(h[1], h[2]) < hamming(h[1], h[3])


# ---------------------------------------------------------------------------
# similarity search quality


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.q_id, r.neighbor_id)
        for r in topk_per_query(emb, q, k=3).collect()
    }
    approx = {
        (r.q_id, r.neighbor_id)
        for r in ann_topk_lsh(emb, q, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.3f} < 0.8"


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    from blockchaintoavro_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.q_id, r.neighbor_id)
        for r in topk_per_query(emb, q, k=3).collect()
    }
    approx = {
        (r.q_id, r.neighbor_id)
        for r in ann_topk_ivf(emb, q, k=3, n_centroids=16, nprobe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall:.3f} < 0.8"


def test_neardup_lsh_recall_and_exact_sims(spark, sf_dir):
    """The LSH near-dup scale path must (a) recover most exact pairs on
    the fixture's worst case (near-orthogonal vectors, sims barely over
    the 0.3 threshold), and (b) report the IDENTICAL rounded sim for every
    pair it does return (same rerank expression as the exact operator)."""
    from blockchaintoavro_spark.functions.vectors import cosine_similarity
    from blockchaintoavro_spark.operators.similarity import neardup_pairs_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    a = v.select(F.col("vec_id").alias("d1"), F.col("e").alias("e1"))
    b = v.select(F.col("vec_id").alias("d2"), F.col("e").alias("e2"))
    sim = cosine_similarity(F.col("e1"), F.col("e2"))
    exact = {
        (r.d1, r.d2): r.sim
        for r in a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .withColumn("_s4", F.round(sim, 4).cast("decimal(38,4)"))
        .filter(F.col("_s4") >= 0.3)
        .select("d1", "d2", F.col("_s4").cast("double").alias("sim"))
        .collect()
    }
    approx = {(r.d1, r.d2): r.sim for r in neardup_pairs_lsh(emb).collect()}
    assert set(approx) <= set(exact)  # no false positives (exact rerank)
    for pair, s in approx.items():
        assert s == exact[pair]  # bit-identical sims
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.7, f"LSH near-dup recall {recall:.3f} < 0.7"


def test_vectorized_twins_bit_match_folds(spark):
    """r16: pairwise_cosine / matrix_dots / matrix_cosines (Arrow-batched
    NumPy, j-ascending accumulation) must be BIT-identical to the fold
    forms on every edge the folds define: plain vectors, NaN/Inf, the
    zero vector, NULL vectors, and ragged (length-mismatched) pairs."""
    import math

    from blockchaintoavro_spark.functions.vectors import (
        cosine_similarity,
        dot,
        matrix_cosines,
        matrix_dots,
        pairwise_cosine,
    )

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0], [0.5, -1.0, 2.0, 0.25]),
        (2, [1e300, 1e300, -1e300, 0.0], [1e300, -1e300, 1e300, 1.0]),
        (3, [float("nan"), 1.0, 2.0, 3.0], [1.0, 1.0, 1.0, 1.0]),
        # NOT the all-zero vector: under Spark 4's default ANSI mode the
        # FOLD itself raises DIVIDE_BY_ZERO on a zero norm (so no fixture
        # can contain one); the twins return NaN there — divergence
        # documented in functions/vectors.py. A denormal-norm vector
        # exercises the tiny-divisor path both sides survive.
        (4, [1e-160, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),
        (5, None, [1.0, 2.0, 3.0, 4.0]),
        (6, [1.0, 2.0], [1.0, 2.0, 3.0, 4.0]),  # ragged -> NULL
        (7, [0.1, 0.2, 0.30000000000000004, -7.5], [9.1, -2.2, 3.3, 4.4]),
    ]
    df = spark.createDataFrame(rows, ["i", "a", "b"])

    def norm(v):
        # documented divergence: the twins' Arrow return path sanitizes a
        # NaN RESULT to NULL (requires NaN/Inf inputs — rows 2/3 here),
        # so fold-NaN and twin-NULL compare equal
        return [
            None if x is None or (isinstance(x, float) and math.isnan(x)) else x
            for x in v
        ]

    old = df.select(
        "i",
        cosine_similarity(F.col("a"), F.col("b")).alias("c"),
        dot(F.col("a"), F.col("b")).alias("d"),
    ).collect()
    new = df.select(
        "i", pairwise_cosine(F.col("a"), F.col("b")).alias("c")
    ).collect()
    assert {r.i: norm([r.c]) for r in old} == {r.i: norm([r.c]) for r in new}

    M = [[1.0, -2.0, 0.5, 3.0], [1e-160, 0.0, 0.0, 0.0], [1e-300, 2.0, -3.0, 0.1]]
    fold_dots = df.select(
        "i",
        *[
            dot(F.col("a"), F.array(*[F.lit(x) for x in m])).alias(f"d{k}")
            for k, m in enumerate(M)
        ],
    ).collect()
    fold_cos = df.select(
        "i",
        *[
            cosine_similarity(
                F.col("a"), F.array(*[F.lit(x) for x in m])
            ).alias(f"c{k}")
            for k, m in enumerate(M)
        ],
    ).collect()
    vd = df.select("i", matrix_dots(F.col("a"), M).alias("v")).collect()
    vc = df.select("i", matrix_cosines(F.col("a"), M).alias("v")).collect()
    assert {r.i: norm(tuple(r)[1:]) for r in fold_dots} == {
        r.i: norm(r.v) for r in vd
    }
    assert {r.i: norm(tuple(r)[1:]) for r in fold_cos} == {
        r.i: norm(r.v) for r in vc
    }


def test_ivf_centroids_deterministic(spark, sf_dir):
    from blockchaintoavro_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = train_ivf_centroids(emb, n_centroids=4, n_iters=2)
    c2 = train_ivf_centroids(emb, n_centroids=4, n_iters=2)
    assert c1 == c2
    assert len(c1) == 4 and all(len(c) == 64 for c in c1)


def test_topk_deterministic_ties(spark):
    """Equal similarities must break ties by neighbor id."""
    rows = [(i, [1.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = topk_per_query(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    assert [r.neighbor_id for r in out] == [1, 2, 3]


# ---------------------------------------------------------------------------
# multimodal plumbing


def test_multimodal_features_deterministic(spark):
    from blockchaintoavro_spark.operators.multimodal import (
        extract_features,
        with_binary_payload,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in extract_features(with_binary_payload(df)).collect()}
    assert out[1].n_bytes == len(b"hello world")
    assert out[1].width == b"h"[0] % 128 + 1
    assert out[1].checksum == sum(b"hello world") % (1 << 31)
    assert out[2].width == 0 and out[2].n_bytes == 0
    assert out[1].modality == "text"


def test_multimodal_resize_and_frames(spark):
    from blockchaintoavro_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, bytes(range(64))), (2, b"abc"), (3, None)],
        "doc_id long, payload binary",
    )
    f = sample_frames(df, frame_bytes=16, every_n=2).collect()
    # doc 1: 64 bytes → 4 frames → keep 0 and 2; docs 2/3: too short / null
    assert {(x.doc_id, x.frame_no) for x in f} == {(1, 0), (1, 2)}
    assert all(len(bytes(x.frame)) == 16 for x in f)


# ---------------------------------------------------------------------------
# skew mitigation (SCALE.md)


def test_salted_agg_equals_plain(spark, sf_dir):
    from blockchaintoavro_spark.operators.skew import (
        salted_agg,
        salted_count_distinct,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": ("count", "l_orderkey"),
            "qty": ("sum", "l_quantity"),
            "mn": ("min", "l_extendedprice"),
            "mx": ("max", "l_extendedprice"),
        },
        n_salts=8,
    )
    want = li.groupBy("l_returnflag").agg(
        F.count("l_orderkey").alias("n"),
        F.sum("l_quantity").alias("qty"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0

    gd = salted_count_distinct(li, ["l_returnflag"], "l_suppkey", n_salts=8)
    wd = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").cast("long").alias("n_distinct_l_suppkey")
    )
    assert gd.subtract(wd).count() == 0 and wd.subtract(gd).count() == 0


def test_salted_agg_rejects_non_algebraic(spark):
    from blockchaintoavro_spark.operators.skew import salted_agg

    df = spark.range(10)
    with pytest.raises(ValueError):
        salted_agg(df, ["id"], {"a": ("avg", "id")})


def test_centroid_norms_jvm_matches_udaf(spark, sf_dir):
    """The JVM decomposition (scale path) must agree with the pandas UDAF
    (one-group-per-call path) to 1e-9."""
    from blockchaintoavro_spark.functions.udfs import centroid_norm
    from blockchaintoavro_spark.operators.similarity import centroid_norms

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    jvm = {r.label: r.cnorm for r in centroid_norms(emb).collect()}
    udaf = {
        r.label: r.n
        for r in emb.groupBy("label")
        .agg(centroid_norm("embedding").alias("n"))
        .collect()
    }
    assert jvm.keys() == udaf.keys()
    assert all(abs(jvm[k] - udaf[k]) < 1e-9 for k in jvm)


# ---------------------------------------------------------------------------
# UDF surface (SURVEY §2.6)


def test_base58_udf_known_vectors(spark):
    from blockchaintoavro_spark.functions.base58 import (
        base58_encode_py,
        base58check_encode_py,
    )
    from blockchaintoavro_spark.functions.udfs import base58_encode

    # bitcoin-alphabet reference vectors (public test vectors)
    vectors = {
        b"": "",
        b"\x00": "1",
        b"\x00\x00abc": "11ZiCa",
        b"hello": "Cn8eVZg",
    }
    for raw, want in vectors.items():
        assert base58_encode_py(raw) == want, raw.hex()

    # Base58Check (bitcoinj Address#toBase58): version 0x00 + hash160 →
    # classic P2PKH address vector
    assert (
        base58check_encode_py(
            bytes.fromhex("00010966776006953d5567439e5e39f86a0d273bee")
        )
        == "16UwLL9Risc3QfPqBUvKofHmBQ7wMtjvM"
    )

    df = spark.createDataFrame(
        [(k,) for k in vectors], "raw binary"
    ).withColumn("b58", base58_encode("raw"))
    got = {bytes(r.raw): r.b58 for r in df.collect()}
    assert got == vectors


def test_script_to_address_mainnet_vectors():
    """Real-mainnet known-answer vectors for script→address derivation
    (BitcoinBlockHandler.java:179-184 `getToAddress(MainNetParams)`),
    closing the synthetic-only caveat: the Genesis block's actual coinbase
    scriptPubKey (block 0, 2009-01-03 — public chain data) must derive
    Satoshi's famous address."""
    from blockchaintoavro_spark.functions.base58 import script_to_address_py

    # Block 0 coinbase output scriptPubKey: PUSH(65) <pubkey> OP_CHECKSIG
    genesis_spk = bytes.fromhex(
        "4104678afdb0fe5548271967f1a67130b7105cd6a828e03909a67962e0ea1f61"
        "deb649f6bc3f4cef38c4f35504e51ec112de5c384df7ba0b8d578a4c702b6bf1"
        "1d5fac"
    )
    assert script_to_address_py(genesis_spk) == (
        "1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNa",
        None,
    )

    # P2PKH form of the classic public hash160 vector
    p2pkh = bytes.fromhex(
        "76a914010966776006953d5567439e5e39f86a0d273bee88ac"
    )
    assert script_to_address_py(p2pkh) == (
        "16UwLL9Risc3QfPqBUvKofHmBQ7wMtjvM",
        None,
    )

    # non-standard script → value-or-error pair, like the reference's
    # ScriptException catch
    addr, err = script_to_address_py(b"\x6a\x04test")  # OP_RETURN
    assert addr is None and err is not None
    assert script_to_address_py(None)[0] is None


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """SURVEY §2.4 exclusion: approx_count_distinct within ±5% of exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey").alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= 0.05 * row.exact


def test_saveastable_overwrite_idempotent(spark, sf_dir):
    """K4 overwrite-table semantics through the session catalog
    (etl.sh:35-40 --replace=true): two overwrites == one."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    spark.sql("DROP TABLE IF EXISTS nations_t")
    n.write.mode("overwrite").saveAsTable("nations_t")
    n.write.mode("overwrite").saveAsTable("nations_t")
    assert spark.table("nations_t").count() == n.count()
    spark.sql("DROP TABLE nations_t")


# ---------------------------------------------------------------------------
# corpus-quality operators (operators/quality.py)


def test_hash_split_deterministic_and_partition_invariant(spark):
    """Split assignment must depend only on the key: identical across
    repartitionings (the property rand()-based splits lack)."""
    from blockchaintoavro_spark.operators.quality import hash_split

    df = spark.range(0, 2000).withColumn("split", hash_split(F.col("id")))
    a = {r["id"]: r["split"] for r in df.collect()}
    b = {
        r["id"]: r["split"]
        for r in spark.range(0, 2000)
        .repartition(13)
        .withColumn("split", hash_split(F.col("id")))
        .collect()
    }
    assert a == b
    frac = {s: sum(1 for v in a.values() if v == s) / 2000 for s in ("train", "val", "test")}
    assert 0.75 <= frac["train"] <= 0.85
    assert 0.05 <= frac["val"] <= 0.15
    assert 0.05 <= frac["test"] <= 0.15


def test_dup_ngram_ratio_known_values(spark):
    from blockchaintoavro_spark.operators.quality import dup_ngram_ratio

    rows = [
        (1, "a b c a b c a b c"),   # 7 grams, 3 distinct -> 4/7
        (2, "w x y z"),             # 2 grams, both distinct -> 0.0
        (3, "too short"),           # < 3 tokens -> 0.0
        (4, "q q q q q"),           # 3 grams, 1 distinct -> 2/3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: round(r["r"], 4)
        for r in df.select("doc_id", dup_ngram_ratio(F.col("text")).alias("r")).collect()
    }
    assert got == {1: round(4 / 7, 4), 2: 0.0, 3: 0.0, 4: round(2 / 3, 4)}


def test_dataframe_quality_helpers_match_column_forms(spark):
    """The r16 DataFrame helpers (with_dup_ngram_ratio /
    with_gopher_metrics — each heavy HOF evaluated once per row via
    CollapseProject-guarded attribute projections) must be bit-identical
    to the original Column-API forms on varied inputs."""
    from blockchaintoavro_spark.operators.quality import (
        dup_ngram_ratio,
        gopher_metrics,
        gopher_pass,
        with_dup_ngram_ratio,
        with_gopher_metrics,
    )

    rows = [
        (1, "a b c a b c a b c"),
        (2, "w x y z"),
        (3, "too short"),
        (4, "q q q q q"),
        (5, ""),
        (6, "the cat sat of the mat and the cat sat in the hat to nap"),
        (7, "one"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    old = {
        r["doc_id"]: r["r"]
        for r in df.select(
            "doc_id", dup_ngram_ratio(F.col("text")).alias("r")
        ).collect()
    }
    new = {
        r["doc_id"]: r["dup_ngram_ratio"]
        for r in with_dup_ngram_ratio(df).select(
            "doc_id", "dup_ngram_ratio"
        ).collect()
    }
    assert old == new  # exact, not approx: same expressions, same order

    m = gopher_metrics(F.col("text"))
    old_g = {
        r["doc_id"]: tuple(r)[1:]
        for r in df.select(
            "doc_id",
            m["n_words"].alias("n_words"),
            m["mean_word_len"].alias("mean_word_len"),
            m["dup3_ratio"].alias("dup3_ratio"),
            m["n_stop_hits"].alias("n_stop_hits"),
            gopher_pass(m).alias("keep"),
        ).collect()
    }
    gdf = with_gopher_metrics(df)
    keep = gopher_pass(
        {k: F.col(k) for k in ("n_words", "mean_word_len", "dup3_ratio", "n_stop_hits")}
    )
    new_g = {
        r["doc_id"]: tuple(r)[1:]
        for r in gdf.select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "dup3_ratio",
            "n_stop_hits",
            keep.alias("keep"),
        ).collect()
    }
    assert old_g == new_g


def test_stratified_keep_is_stable_subset(spark):
    """Sampling twice selects the identical rows; appending new rows never
    changes membership of existing ones."""
    from blockchaintoavro_spark.operators.quality import stratified_keep

    base = spark.range(0, 1000).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "en").otherwise("de")
    )
    pred = stratified_keep(F.col("id"), F.col("grp"), {"en": "34"}, default="80")
    first = {r["id"] for r in base.filter(pred).collect()}
    grown = spark.range(0, 1500).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "en").otherwise("de")
    )
    second = {r["id"] for r in grown.filter(pred).collect()}
    assert first == {i for i in second if i < 1000}
    en = sum(1 for i in first if i % 2 == 0) / 500
    de = sum(1 for i in first if i % 2 == 1) / 500
    assert 0.12 <= en <= 0.28 and 0.40 <= de <= 0.60


def test_hash_split_matches_python_md5_twin(spark):
    """Independent-implementation parity: the Spark expression must equal
    a hashlib-based reference on the same keys (catches cast/encoding
    drift in the md5-bucket derivation)."""
    import hashlib

    from blockchaintoavro_spark.operators.quality import hash_split

    def ref(k: int) -> str:
        b = hashlib.md5(str(k).encode()).hexdigest()[:2]
        return "train" if b < "cd" else ("val" if b < "e6" else "test")

    ids = [0, 1, 7, 41, 999, 12345, 10**12, 10**18 - 1]
    got = {
        r["id"]: r["split"]
        for r in spark.createDataFrame([(i,) for i in ids], ["id"])
        .select("id", hash_split(F.col("id")).alias("split"))
        .collect()
    }
    assert got == {i: ref(i) for i in ids}


def test_pack_sequences_invariants(spark):
    """Packing is gap-free within each shard: offsets stay below budget,
    seq_ids are contiguous, and each doc starts exactly where the running
    token count left off."""
    from blockchaintoavro_spark.operators.quality import pack_sequences

    rows = [(i % 3, i, f"doc {i}") for i in range(60)]
    df = spark.createDataFrame(rows, ["shard", "pos", "txt"]).withColumn(
        "n", (F.col("pos") % 7) + 1
    )
    out = pack_sequences(df, F.col("n"), budget=10, shard="shard", order="pos")
    by_shard = {}
    for r in out.collect():
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["pos"])
        cum = 0
        for r in rs:
            assert 0 <= r["seq_offset"] < 10
            assert r["seq_id"] == cum // 10 and r["seq_offset"] == cum % 10
            cum += r["n_tok"]
        assert rs[-1]["seq_id"] == max(x["seq_id"] for x in rs)


def test_redact_pii_known_strings(spark):
    """Known-answer redaction: each rule fires on its pattern, counts
    reflect what was removed, and tags never re-match later rules."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.quality import redact_pii

    rows = [
        ("write bob.smith+x@corp.example.org or ops@a.io", 2, 0, 0,
         "write <EMAIL> or <EMAIL>"),
        ("from 192.168.0.1 to 10.0.0.255 end", 0, 2, 0,
         "from <IP> to <IP> end"),
        ("call +44 20 7946 0958 now", 0, 0, 1, "call <PHONE> now"),
        ("plain text, no pii 1.2 v3", 0, 0, 0, "plain text, no pii 1.2 v3"),
        ("a@b.co at 8.8.8.8 tel +1 555-0100", 1, 1, 1,
         "<EMAIL> at <IP> tel <PHONE>"),
    ]
    df = spark.createDataFrame(
        [(r[0],) for r in rows], "text string"
    )
    cols = redact_pii(F.col("text"))
    got = df.select(
        cols["n_email"].alias("e"),
        cols["n_ip"].alias("i"),
        cols["n_phone"].alias("p"),
        cols["redacted"].alias("r"),
    ).collect()
    for (txt, e, i, p, red), row in zip(rows, got):
        assert (row.e, row.i, row.p, row.r) == (e, i, p, red), txt


def test_budget_mixture_invariants(spark):
    """Budget semantics: every kept doc started below its source budget,
    dropping any kept doc leaves the budget unmet (minimality), and the
    selection is invariant to input partitioning."""
    from blockchaintoavro_spark.operators.quality import budget_mixture

    rows = [(f"s{i % 4}", i, (i * 37) % 19 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n"])
    budgets = {"s0": 50, "s1": 25, "s2": 10}
    out = budget_mixture(
        df, F.col("n"), budgets, default_budget=5
    ).collect()
    per = {}
    for r in out:
        b = budgets.get(r["source"], 5)
        assert r["cum_before"] < b, r
        per.setdefault(r["source"], []).append(r)
    for s, rs in per.items():
        b = budgets.get(s, 5)
        total = sum(r["n_tok"] for r in rs)
        # budget met (each synthetic source holds ~500 tokens)...
        assert total >= b, (s, total)
        # ...and minimally: the largest cum_before row is the straddler
        straddler = max(rs, key=lambda r: r["cum_before"])
        assert total - straddler["n_tok"] < b, s

    out2 = budget_mixture(
        df.repartition(13, "doc_id"), F.col("n"), budgets, default_budget=5
    ).collect()
    key = lambda r: (r["source"], r["doc_id"])  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, out2))


# ---------------------------------------------------------------------------
# round 3: Gopher rules, token chunking, Bloom decontamination


def test_gopher_metrics_known_vector(spark):
    """Metrics on a hand-computed document."""
    from blockchaintoavro_spark.operators.quality import (
        gopher_metrics,
        gopher_pass,
    )

    txt = "the cat sat on the mat the cat sat on the mat"  # 12 words
    df = spark.createDataFrame([(txt,)], "text string")
    m = gopher_metrics(F.col("text"))
    row = df.select(
        m["n_words"].alias("nw"),
        m["mean_word_len"].alias("ml"),
        m["dup3_ratio"].alias("d3"),
        m["n_stop_hits"].alias("st"),
        gopher_pass(m).alias("keep"),
    ).first()
    assert row["nw"] == 12
    assert abs(row["ml"] - 34 / 12) < 1e-12  # char sum 34 over 12 words
    # trigrams: 10 total, 6 distinct -> 4 duplicates
    assert abs(row["d3"] - 0.4) < 1e-12
    assert row["st"] == 4  # 'the' x4; no other stopword present
    assert row["keep"] is False  # dup3 0.4 > 0.25 and n_words 12 < 15


def test_chunk_tokens_invariants(spark, sf_dir):
    """Every token position is covered, chunks except the last are full
    size, and overlap equals size - stride."""
    from blockchaintoavro_spark.operators.chunking import chunk_tokens
    from blockchaintoavro_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    out = chunk_tokens(d, size=32, stride=24).collect()
    docs = {
        r["doc_id"]: r["text"].lower().split(" ") for r in d.collect()
    }
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        toks = docs[doc_id]
        assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
        for i, r in enumerate(rows):
            ct = r["chunk_text"].split(" ")
            assert r["n_tokens"] == len(ct)
            assert ct == toks[i * 24 : i * 24 + 32]  # exact window content
        # chunk starts cover every token: last start < n <= last start + 32
        last_start = (len(rows) - 1) * 24
        assert last_start < len(toks) <= last_start + 32 or len(toks) <= 32


def test_bloom_superset_of_exact_and_fp_bounded(spark, sf_dir):
    """Bloom decontamination must flag every exactly-contaminated doc (no
    false negatives) and not balloon the flagged set (FP rate bound)."""
    from blockchaintoavro_spark.operators.dedup import (
        contamination_hits,
        contamination_hits_bloom,
    )
    from blockchaintoavro_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    cont = d.filter(F.col("doc_id") < 20)
    exact = {r["doc_id"] for r in contamination_hits(d, cont, n=5).collect()}
    bloom = {
        r["doc_id"]
        for r in contamination_hits_bloom(d, cont, n=5).collect()
    }
    assert exact <= bloom  # no false negatives
    n_docs = d.count()
    # with ~4e-4 gram FP rate, doc-level extras should stay tiny
    assert len(bloom - exact) <= max(3, int(0.01 * n_docs))


def test_bloom_hit_counts_match_exact_on_hits(spark, sf_dir):
    """For truly contaminated docs the candidate count >= exact count."""
    from blockchaintoavro_spark.operators.dedup import (
        contamination_hits,
        contamination_hits_bloom,
    )
    from blockchaintoavro_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    cont = d.filter(F.col("doc_id") < 20)
    exact = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(d, cont, n=5).collect()
    }
    bloom = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits_bloom(d, cont, n=5).collect()
    }
    for doc_id, n in exact.items():
        assert bloom[doc_id] >= n


def test_epoch_shuffle_deterministic_and_permutes(spark, sf_dir):
    """Same epoch -> identical order regardless of partitioning; different
    epochs -> different order; output is a permutation of the input."""
    from blockchaintoavro_spark.operators.quality import epoch_shuffle
    from blockchaintoavro_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    a = epoch_shuffle(d, epoch=1).orderBy("position").collect()
    b = epoch_shuffle(d.repartition(17), epoch=1).orderBy("position").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    c = epoch_shuffle(d, epoch=2).orderBy("position").collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in c]
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in c)
    assert [r["position"] for r in a] == list(range(1, len(a) + 1))


def test_length_batches_bounds_padding(spark, sf_dir):
    """Every batch's spread is bounded by the bucket width, batches are
    full except possibly the last per bucket, and padding_frac is exact."""
    from blockchaintoavro_spark.operators.quality import length_batches
    from blockchaintoavro_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.lower("text"), " "))
    out = length_batches(d, toks, batch_size=8, bucket_width=25).collect()
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
        # max_len within the bucket's width window
        assert r["bucket"] * 25 <= r["max_len"] < (r["bucket"] + 1) * 25
        pad = (r["max_len"] * r["n_docs"] - r["sum_tokens"]) / (
            r["max_len"] * r["n_docs"]
        )
        assert abs(pad - r["padding_frac"]) < 1e-12
        # padding within a bucket can never exceed width/max_len
        assert r["padding_frac"] <= 25 / r["max_len"]
    for bucket, rows in by_bucket.items():
        rows.sort(key=lambda r: r["batch_id"])
        assert all(r["n_docs"] == 8 for r in rows[:-1])  # only last ragged


def test_bin_range_join_equals_naive_theta(spark, sf_dir):
    """Binned interval join must reproduce the naive theta join exactly,
    at several bin widths (replication/refine tradeoffs, same answer)."""
    from blockchaintoavro_spark.operators.interval import bin_range_join
    from blockchaintoavro_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_d"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 50)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("s"),
            F.date_add(F.col("o_orderdate").cast("date"), 10).alias("e"),
        )
    )
    naive = (
        li.join(
            o,
            (F.col("ship_d") >= F.col("s"))
            & (F.col("ship_d") <= F.col("e")),
        )
        .select("l_orderkey", "l_linenumber", "o_orderkey")
    )
    want = sorted(map(tuple, naive.collect()))
    assert want, "fixture should produce interval matches"
    for width in (3, 7, 30):
        got = bin_range_join(
            li,
            o,
            F.unix_date(F.col("ship_d")),
            F.unix_date(F.col("s")),
            F.unix_date(F.col("e")),
            bin_width=width,
        ).select("l_orderkey", "l_linenumber", "o_orderkey")
        assert sorted(map(tuple, got.collect())) == want, f"width {width}"


def test_bin_range_join_exact_at_micros_magnitude(spark):
    """Binning must be exact past double's 2^53 mantissa: epoch-micros
    keys (~1.7e18) one unit inside/outside the interval edge must
    resolve correctly, and inverted intervals must produce zero rows
    without exploding bins."""
    from blockchaintoavro_spark.operators.interval import bin_range_join

    base = 1_700_000_000_000_000_000  # ~2024 in epoch-nanos magnitude
    pts = spark.createDataFrame(
        [(1, base - 1), (2, base), (3, base + 123_456), (4, base + 123_457)],
        "pid long, v long",
    )
    iv = spark.createDataFrame(
        [(10, base, base + 123_456), (11, base + 5, base)],  # 11 inverted
        "iid long, s long, e long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in bin_range_join(
            pts, iv, F.col("v"), F.col("s"), F.col("e"), bin_width=1000
        ).collect()
    )
    assert got == [(2, 10), (3, 10)]


def test_profile_columns_exact_vs_known(spark):
    """Profile stats on a hand-built frame, incl. nulls and numeric
    (non-lexicographic) min/max; approx NDV within HLL tolerance."""
    from blockchaintoavro_spark.operators.quality import profile_columns

    df = spark.createDataFrame(
        [(2, "b"), (10, None), (None, "a"), (100, "b")],
        "x long, s string",
    )
    rows = {
        r["column"]: r
        for r in profile_columns(df, ["x", "s"], exact_ndv=True).collect()
    }
    x = rows["x"]
    assert (x["n_rows"], x["n_nulls"], x["n_distinct"]) == (4, 1, 3)
    assert (x["min_str"], x["max_str"]) == ("2", "100")  # numeric, not lexicographic
    s = rows["s"]
    assert (s["n_rows"], s["n_nulls"], s["n_distinct"]) == (4, 1, 2)
    assert (s["min_str"], s["max_str"]) == ("a", "b")
    approx = {
        r["column"]: r["n_distinct"]
        for r in profile_columns(df, ["x"]).collect()
    }
    assert abs(approx["x"] - 3) <= 1  # HLL tolerance on a tiny set


def test_unigram_logprob_scores_oov_as_floor(spark):
    """Out-of-vocabulary tokens must not be dropped: with an external LM,
    an all-OOV document scores the floor probability 1/(N+1) per token
    and in-vocab scoring is unchanged."""
    import math

    from blockchaintoavro_spark.operators.quality import unigram_logprob

    ref = spark.createDataFrame(
        [(1, "a a a b")], "doc_id long, text string"
    )
    toks = ref.selectExpr("explode(split(lower(text), ' ')) AS tk")
    cnt = toks.groupBy("tk").agg(F.count("*").alias("_c"))
    tot = cnt.agg(F.sum("_c").alias("_n"))
    lm = cnt.crossJoin(F.broadcast(tot))  # N=4: p(a)=3/4, p(b)=1/4

    docs = spark.createDataFrame(
        [(10, "a b"), (11, "zz qq")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in unigram_logprob(docs, lm=lm).collect()
    }
    want_10 = (-math.log2(3 / 4) - math.log2(1 / 4)) / 2
    assert abs(got[10]["bits_per_token"] - want_10) < 1e-12
    assert got[10]["n_tokens"] == 2
    # all-OOV doc present, scored at floor -log2(1/(N+1)) per token
    want_11 = -math.log2(1 / 5)
    assert abs(got[11]["bits_per_token"] - want_11) < 1e-12
    assert got[11]["n_tokens"] == 2
    assert got[11]["bits_per_token"] > got[10]["bits_per_token"]


def test_load_events_utc_adjusted_layout(spark, tmpdir):
    """A UTC-adjusted (isAdjustedToUTC) microsecond timestamp layout must
    rebase to UTC wall time regardless of session timezone — a bare NTZ
    cast would render it in the session zone."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blockchaintoavro_spark.sources.tables import load_events

    ts = datetime.datetime(2024, 3, 1, 12, 30, 0, tzinfo=datetime.timezone.utc)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([ts], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    out = load_events(spark, tmpdir)
    assert out.schema["ts"].dataType.typeName() == "timestamp_ntz"
    row = out.first()
    assert row["ts"] == datetime.datetime(2024, 3, 1, 12, 30, 0)


def test_c4_line_filter_known_vector(spark):
    """Hand-checked multi-line doc: short lines and blocklisted lines
    drop; survivors re-join in order."""
    from blockchaintoavro_spark.operators.quality import c4_line_filter

    txt = "keep this line here now\nshort one\nhas lorem inside it okay\nanother good line stays put"
    df = spark.createDataFrame([(txt,)], "text string")
    m = c4_line_filter(F.col("text"), min_words=5, blocklist=("lorem",))
    row = df.select(
        m["n_lines"].alias("nl"), m["n_kept"].alias("nk"), m["cleaned"].alias("c")
    ).first()
    assert row["nl"] == 4
    assert row["nk"] == 2
    assert row["c"] == "keep this line here now\nanother good line stays put"


def test_c4_line_filter_blocklist_case_insensitive(spark):
    """r3 ADVICE: 'JavaScript' must not slip past a 'javascript' entry
    (C4 matches case-insensitively); exact-token contract still holds
    ('cookies.' passes) and kept lines keep their original case."""
    from blockchaintoavro_spark.operators.quality import c4_line_filter

    txt = (
        "Enable JavaScript to view this Page\n"
        "We use cookies. on This Site okay\n"
        "A Perfectly Good Line Stays Here"
    )
    df = spark.createDataFrame([(txt,)], "text string")
    m = c4_line_filter(F.col("text"), min_words=5, blocklist=("JAVAscript",))
    row = df.select(
        m["n_kept"].alias("nk"), m["cleaned"].alias("c")
    ).first()
    assert row["nk"] == 2
    assert row["c"] == (
        "We use cookies. on This Site okay\nA Perfectly Good Line Stays Here"
    )


def test_bin_range_join_rejects_reserved_column(spark):
    """r3 ADVICE: an input already carrying the internal _brj_bin column
    must fail fast instead of mis-binning silently."""
    import pytest

    from blockchaintoavro_spark.operators.interval import bin_range_join

    pts = spark.createDataFrame([(1, 5)], "p long, _brj_bin long")
    iv = spark.createDataFrame([(0, 10)], "s long, e long")
    with pytest.raises(ValueError, match="_brj_bin"):
        bin_range_join(pts, iv, F.col("p"), F.col("s"), F.col("e"), 10)


def test_compact_work_matches_python_bigint(spark):
    """bits→chainwork parity (r4 VERDICT #2): the Catalyst base-2^30
    long division must equal Python's arbitrary-precision
    ``2^256 // (target+1)`` (the bitcoinj Block.getWork math the
    reference calls at BitcoinBlockHandler.java:96) across random and
    boundary encodings, including power-of-two mantissas (the
    m | 2^s correction), all error variants, and terahash overflow."""
    import random

    from pyspark.sql import functions as F

    from blockchaintoavro_spark.functions.chainwork import (
        with_compact_work,
        work_terahash_checked,
    )

    rnd = random.Random(20260814)
    bits_list = [
        ((rnd.randint(20, 32)) << 24) | rnd.randint(0x8000, 0x7FFFFF)
        for _ in range(300)
    ]
    for size in (20, 24, 26, 32):
        for m in (0x8000, 0x10000, 0x400000, 0x7FFFFF):
            bits_list.append((size << 24) | m)
    bits_list += [
        (3 << 24) | 0x8000,          # unsupported size (small)
        (33 << 24) | 0x8000,         # unsupported size (large)
        (20 << 24) | 0x800000 | 0x8000,  # sign bit
        (20 << 24) | 0x7FFF,         # unnormalized mantissa
    ]
    # size 20 with small mantissa: work > 2^99.6, the terahash-overflow leg
    bits_list += [(20 << 24) | m for m in range(0x9000, 0x9000 + 12 * 0x800, 0x800)]
    df = spark.createDataFrame([(b,) for b in bits_list], "bits long")
    out = with_compact_work(df, "bits")
    th, the = work_terahash_checked(F.col("work"))
    got = out.withColumn("th", th).withColumn("the", the).collect()

    def expected(bits):
        size = bits >> 24
        m = bits & 0x7FFFFF
        if bits & 0x800000:
            return (None, "negative difficulty target")
        if not 20 <= size <= 32:
            return (None, "unsupported difficulty size")
        if m < 0x8000:
            return (None, "unnormalized mantissa")
        return (2**256 // ((m << (8 * (size - 3))) + 1), None)

    overflow_seen = valid_seen = 0
    for r in got:
        exp_w, exp_e = expected(r.bits)
        assert (None if r.work is None else int(r.work)) == exp_w, hex(r.bits)
        assert r.work_error == exp_e, hex(r.bits)
        if exp_w is not None:
            valid_seen += 1
            exp_th = exp_w // 100_000_000_000
            if exp_th > (1 << 63) - 1:
                overflow_seen += 1
                assert r.th is None and r.the == "terahash overflow", hex(r.bits)
            else:
                assert r.th == exp_th and r.the is None, hex(r.bits)
    assert valid_seen > 250 and overflow_seen > 10  # both legs exercised


# ---------------------------------------------------------------------------
# exact substring duplication (Lee et al. verbatim-span detection)


def test_duplicated_substrings_known_answer(spark):
    from blockchaintoavro_spark.operators.dedup import (
        duplicated_substrings,
        substring_dup_counts,
    )

    rows = [
        (0, "the shared verbatim span here xx"),
        (1, "yy the shared verbatim span here"),
        (2, "completely different content abc"),
        (3, "tiny"),  # shorter than k → no windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dups = {
        r["sub"]: r["n_docs"]
        for r in duplicated_substrings(df, k=20).collect()
    }
    # every 20-char window inside the 30-char shared span, and only those
    assert dups and all(n == 2 for n in dups.values())
    assert all("shared verbatim" in s or "verbatim span" in s or
               s in "the shared verbatim span here" for s in dups)
    counts = {
        r["doc_id"]: r["n_dup_spans"]
        for r in substring_dup_counts(df, k=20).collect()
    }
    assert set(counts) == {0, 1} and counts[0] == counts[1] == len(dups) // 1
    assert 2 not in counts and 3 not in counts


def test_duplicated_substrings_hash_twin_matches_verbatim(spark, sf_dir):
    """The 8-byte-fingerprint scale path finds the same duplicated set
    as the verbatim-string path after the collision scrub (here: no
    collisions at this size, so the sets are equal outright)."""
    from blockchaintoavro_spark.operators.dedup import duplicated_substrings
    from blockchaintoavro_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter("doc_id < 60")
    verbatim = duplicated_substrings(d, k=15)
    hashed = duplicated_substrings(d, k=15, hash_only=True)
    nv = verbatim.count()
    assert nv > 0, "fixture should contain shared 15-char spans"
    assert hashed.count() == nv
    # severity counts agree too (n_docs multiset)
    mv = sorted(r["n_docs"] for r in verbatim.collect())
    mh = sorted(r["n_docs"] for r in hashed.collect())
    assert mv == mh


def test_duplicated_substrings_within_doc_repeat_is_one_vote(spark):
    from blockchaintoavro_spark.operators.dedup import duplicated_substrings

    span = "a repeated twenty chr"  # 21 chars
    rows = [(0, span + " filler " + span), (1, "unrelated text entirely xyz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # repeated only WITHIN doc 0 → n_docs = 1 → not duplicated cross-doc
    assert duplicated_substrings(df, k=20, min_docs=2).count() == 0


def test_pretraining_shard_pipeline_roundtrips_avro(spark, sf_dir, tmp_path):
    """End-to-end pretraining shard prep in the reference's own output
    format: train a BPE on the corpus word-frequency table, tokenize,
    assign hash shards, pack into fixed-budget sequences, write the
    result as partitioned Avro container files (write_ocf_dataset — the
    AvroWriter-parity sink), and read them back bit-exactly. This is
    the full composite a training-data pipeline runs; every stage is
    individually oracle-checked, this pins their composition + sink."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.bpe import (
        apply_bpe,
        train_bpe,
        word_counts,
    )
    from blockchaintoavro_spark.operators.quality import pack_sequences
    from blockchaintoavro_spark.sources.avro_io import (
        read_ocf_dataset,
        write_ocf_dataset,
    )
    from blockchaintoavro_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 120")
    merges = train_bpe(word_counts(docs), 6)
    assert merges, "corpus should yield at least one merge"
    toks = apply_bpe(docs, merges)
    sharded = toks.withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("long")
    )
    packed = pack_sequences(
        sharded, F.col("n_bpe_tokens"), budget=256, shard="shard",
        order="doc_id",
    )
    out = packed.join(
        sharded.select("doc_id", "bpe_tokens"), "doc_id"
    ).select("shard", "doc_id", "seq_id", "seq_offset", "n_tok", "bpe_tokens")

    dest = str(tmp_path / "shards")
    manifest = write_ocf_dataset(out, dest, partition_col="shard")
    assert {m["partition"] for m in manifest} == {"0", "1", "2", "3"}
    assert sum(m["n_records"] for m in manifest) == out.count()

    back = read_ocf_dataset(spark, dest, partition_col="shard").withColumn(
        "shard", F.col("shard").cast("long")
    )
    assert back.count() == out.count()
    assert sorted(back.columns) == sorted(out.columns)
    cols = sorted(out.columns)  # subtract matches positionally
    back_c, out_c = back.select(*cols), out.select(*cols)
    assert back_c.subtract(out_c).count() == 0
    assert out_c.subtract(back_c).count() == 0
    # packing invariant survives the round trip: offsets stay in budget
    assert back.filter("seq_offset < 0 OR seq_offset >= 256").count() == 0


def test_strip_duplicated_spans_known_answers(spark):
    """Span stripping semantics: cross-doc spans cut (maximal merged
    runs), unique docs untouched, a fully-duplicated doc strips to
    empty, and within-doc-only repetition is NOT stripped (min_docs
    counts distinct documents)."""
    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    shared = "the exact same forty characters run here"  # len 40
    rows = [
        (1, f"AAAA {shared} BBBB"),
        (2, f"CCCC {shared} DDDD"),
        (3, shared),  # nothing but the shared span (+boundary windows)
        (4, "entirely unique text with no repeats anywhere in corpus"),
        (5, "zz self repeat self repeat self repeat self repeat zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in strip_duplicated_spans(df, k=20).collect()}
    # docs 1/2: the shared span plus the windows straddling the
    # boundary spaces are duplicated; the unique 4-char affixes survive
    assert got[1]["clean_text"].startswith("AAAA") and got[1]["clean_text"].endswith("BBBB")
    assert shared not in got[1]["clean_text"]
    assert got[2]["clean_text"].startswith("CCCC") and got[2]["clean_text"].endswith("DDDD")
    assert got[3]["clean_text"] == ""
    assert got[3]["n_stripped"] == len(shared)
    assert got[4]["clean_text"] == rows[3][1]
    assert got[4]["n_stripped"] == 0
    assert got[5]["clean_text"] == rows[4][1]  # within-doc only: kept
    for r in got.values():
        assert r["n_stripped"] >= 0


def test_strip_duplicated_spans_single_doc_pair_exact(spark):
    """Exact boundary check on a crafted pair: only the k-window-covered
    region disappears; characters outside every duplicated window stay."""
    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    span = "0123456789abcdefghij"  # exactly k=20, duplicated verbatim
    rows = [(1, f"X{span}Y"), (2, f"P{span}Q")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in strip_duplicated_spans(df, k=20).collect()}
    assert got[1]["clean_text"] == "XY"
    assert got[1]["n_stripped"] == 20
    assert got[2]["clean_text"] == "PQ"


def test_temperature_mixture_properties(spark):
    """τ-sampling semantics: τ<1 upweights small sources relative to
    natural share; selection is deterministic and partition-invariant;
    take counts never exceed a source's size."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.quality import temperature_mixture

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture(df, target_total=100, tau=0.5)
    got = out.groupBy("source").agg(F.count("*").alias("n")).collect()
    by = {r["source"]: r["n"] for r in got}
    # natural shares: 90/10. At tau=0.5: sqrt(.9)=.949, sqrt(.1)=.316 →
    # q_small = .25 → small takes ~25 of 100 (vs 10 naturally)
    assert 20 <= by["small"] <= 30, by
    assert by["small"] + by["big"] <= 100

    # partition invariance + determinism
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_mixture(df.repartition(13), 100, tau=0.5).collect()
    )
    assert a == b

    # tau=1 → natural sampling shares
    nat = temperature_mixture(df, target_total=100, tau=1.0)
    byn = {r["source"]: r["n"] for r in nat.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert byn["big"] == 90 and byn["small"] == 10


def test_temperature_mixture_ignores_null_sources(spark):
    """Review fix: NULL sources are excluded (budget_mixture parity)
    instead of crashing the driver-side sorted() math."""
    from blockchaintoavro_spark.operators.quality import temperature_mixture

    rows = [(0, None), (1, "a"), (2, "a"), (3, "b"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sorted(r["doc_id"] for r in temperature_mixture(df, 10, tau=1.0).collect())
    assert got == [1, 2, 3]


def test_strip_duplicated_spans_hash_twin_matches_verbatim(spark, sf_dir):
    """The hash_only scale path (8-byte fingerprints through detection
    and join-back) must produce the same cleaned corpus as the verbatim
    path on real fixture text."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 60
    )
    a = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in strip_duplicated_spans(d, k=15).collect()
    }
    b = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in strip_duplicated_spans(d, k=15, hash_only=True).collect()
    }
    assert a == b
    assert any(v[1] > 0 for v in a.values())  # non-degenerate


def test_temperature_mixture_approximate_path(spark):
    """exact=False: shuffle-free hash-threshold selection — per-source
    counts land within binomial noise of the exact targets, the plan has
    no Exchange/Window, and the selection is deterministic."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.quality import temperature_mixture

    rows = [(i, "big" if i < 9000 else "small") for i in range(10000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture(df, target_total=1000, tau=0.5, exact=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan
    by = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # exact targets: q_small = sqrt(.1)/(sqrt(.9)+sqrt(.1)) = .25 → 250
    assert 190 <= by.get("small", 0) <= 310, by
    assert 650 <= by.get("big", 0) <= 850, by
    again = temperature_mixture(df, 1000, tau=0.5, exact=False)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_xxhash64_rows_matches_spark(spark):
    """functions/xxh.py must be BIT-IDENTICAL to Spark's F.xxhash64 on
    UTF-8 string bytes (seed 42) — the sorted-gram plan's fingerprints
    twin against Catalyst-produced ones. Covers every tail-length class
    of the algorithm (0-7 bytes, 4-byte lane, 8-byte lanes, ≥32-byte
    stripes) and multi-byte UTF-8."""
    import random
    import string as _string

    import numpy as np
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.functions.xxh import xxhash64_rows

    rng = random.Random(1234)
    samples = []
    for length in [0, 1, 3, 4, 7, 8, 12, 15, 16, 20, 31, 32, 33, 64, 100]:
        samples.append(
            "".join(rng.choices(_string.ascii_letters + _string.digits, k=length))
        )
    samples += ["héllo wörld ünïcode", "日本語テキスト12345", "mixédascii" * 7]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    expected = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    for s, e in zip(samples, expected):
        b = s.encode("utf-8")
        arr = (
            np.frombuffer(b, dtype=np.uint8).reshape(1, -1)
            if b
            else np.empty((1, 0), dtype=np.uint8)
        )
        assert int(xxhash64_rows(arr)[0].view(np.int64)) == e, repr(s)


_SORTED_GRAM_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "xx the quick brown fox jumps over the lazy dog yy"),
    (3, "completely different text with no duplicated content at all"),
    (4, "short"),
    (5, "ünïcode shared span here exactly repeated ünïcode stuff ok"),
    (6, "zz ünïcode shared span here exactly repeated ünïcode qq"),
    (7, "the quick brown fox jumps over the lazy dog the quick brown fox jumps over the lazy dog"),
    (8, None),
]


def test_sorted_gram_detection_twin_matches_catalyst(spark, sf_dir):
    """plan='sorted_gram' (packed sorted fingerprint runs, one small
    Exchange) returns EXACTLY the hashed Catalyst plan's (sub, n_docs)
    set — on fixture text and on a unicode/null/within-doc-repeat
    corpus."""
    from blockchaintoavro_spark.operators.dedup import duplicated_substrings

    fixture = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 60"
    )
    uni = spark.createDataFrame(_SORTED_GRAM_CORPUS, "doc_id long, text string")
    for d, k in [(fixture, 15), (uni, 12)]:
        a = sorted(
            map(tuple, duplicated_substrings(d, k=k, hash_only=True).collect())
        )
        b = sorted(
            map(
                tuple,
                duplicated_substrings(
                    d, k=k, hash_only=True, plan="sorted_gram"
                ).collect(),
            )
        )
        assert a == b and len(a) > 0


def test_sorted_gram_strip_twin_matches_catalyst(spark, sf_dir):
    """plan='sorted_gram' stripping (broadcast dictionary, doc-local
    rebuild) produces the identical cleaned corpus as the Catalyst
    join-back plan — including NULL-text passthrough semantics — on
    BOTH the broadcast path and the big-dictionary fallback."""
    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans
    from blockchaintoavro_spark.operators.substr_sorted import (
        strip_duplicated_spans_sorted,
    )

    fixture = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 60"
    )
    uni = spark.createDataFrame(_SORTED_GRAM_CORPUS, "doc_id long, text string")
    for d, k in [(fixture, 15), (uni, 12)]:
        ref = sorted(
            map(
                tuple,
                strip_duplicated_spans(
                    d, k=k, hash_only=True, plan="catalyst"
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                strip_duplicated_spans(
                    d, k=k, hash_only=True, plan="sorted_gram"
                ).collect(),
            )
        )
        assert got == ref
        fb = sorted(
            map(
                tuple,
                strip_duplicated_spans_sorted(
                    d, k=k, broadcast_max_hashes=1
                ).collect(),
            )
        )
        assert fb == ref


def test_sorted_gram_requires_hash_only(spark):
    """Verbatim gram text cannot ride the fingerprint pipeline — the
    plan must refuse instead of silently changing output semantics."""
    import pytest as _pytest

    from blockchaintoavro_spark.operators.dedup import (
        duplicated_substrings,
        strip_duplicated_spans,
    )

    d = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="hash_only"):
        duplicated_substrings(d, k=3, plan="sorted_gram")
    with _pytest.raises(ValueError, match="hash_only"):
        strip_duplicated_spans(d, k=3, plan="sorted_gram")


def test_strip_auto_plan_dispatch(spark):
    """plan='auto' routes hash_only batch inputs to sorted_gram and
    (since r9) verbatim batch inputs to sorted_confirm — neither rides
    the Catalyst gaps-and-islands Window, which only plan='catalyst'
    keeps — observable via the physical plan."""
    d = spark.createDataFrame(
        [(1, "abcdefghij klmno"), (2, "abcdefghij pqrst")],
        "doc_id long, text string",
    )
    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    hashed = strip_duplicated_spans(d, k=10, hash_only=True)
    verb = strip_duplicated_spans(d, k=10)
    cat = strip_duplicated_spans(d, k=10, plan="catalyst")
    hp = hashed._jdf.queryExecution().executedPlan().toString()
    vp = verb._jdf.queryExecution().executedPlan().toString()
    cp = cat._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in hp  # doc-local map pass, no interval-merge window
    assert "Window" not in vp  # sorted_confirm: island merge in the map pass
    assert "MapInPandas" in vp  # candidate scan + rebuild ride Arrow
    assert "Window" in cp  # catalyst gaps-and-islands preserved


def test_temperature_mixture_exact_matches_full_rank_selection(spark):
    """r6 VERDICT #5 regression: the prefix-bucket exact selection must
    pick row-for-row the SAME md5-order prefix as a full per-source
    row_number ranking (the pre-r7 shape) — across skewed source sizes
    and take boundaries that land mid-bucket."""
    from pyspark.sql import Window

    from blockchaintoavro_spark.operators.quality import temperature_mixture

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 17 == 0, "tiny")
        .when(F.col("id") % 3 == 0, "mid")
        .otherwise("big")
        .alias("source"),
    )
    for tau, target in [(0.5, 700), (1.0, 123), (0.3, 4999)]:
        got = sorted(
            (r["doc_id"], r["source"])
            for r in temperature_mixture(df, target, tau=tau).collect()
        )
        # reference: the straightforward full ranking of every source
        counts = {
            r["source"]: r["n"]
            for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        total = sum(counts.values())
        weights = {s: (n / total) ** tau for s, n in sorted(counts.items())}
        wsum = sum(weights.values())
        takes = {
            s: min(int(target * (weights[s] / wsum)), counts[s])
            for s in sorted(counts)
        }
        t = F.lit(0)
        for s, n in sorted(takes.items()):
            t = F.when(F.col("source") == s, F.lit(n)).otherwise(t)
        h = F.md5(F.col("doc_id").cast("string"))
        w = Window.partitionBy("source").orderBy(h, "doc_id")
        ref = sorted(
            (r["doc_id"], r["source"])
            for r in df.select(
                "doc_id", "source", F.row_number().over(w).alias("_rn")
            )
            .where(F.col("_rn") <= t)
            .select("doc_id", "source")
            .collect()
        )
        assert got == ref and len(got) > 0


def test_temperature_mixture_exact_plan_has_no_full_rank(spark):
    """The exact path's heavy branch is a pure filter: exactly ONE
    Window in the plan (the boundary-bucket sliver), fed by a bucket
    filter, unioned with a windowless bulk branch — the largest source
    never ranks in one task."""
    from blockchaintoavro_spark.operators.quality import temperature_mixture

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
    )
    plan = (
        temperature_mixture(df, 500, tau=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" in plan, plan
    # exactly one Window EXEC node ("WindowGroupLimit" rank-pushdown
    # helpers also contain the word, hence the bracket match)
    assert plan.count("Window [") == 1, plan
    # the bulk branch is windowless: everything before the Union's
    # second child is Filter/Project over the scan
    bulk_branch = plan.split("Union")[1].split("Window")[0]
    assert "Filter" in bulk_branch and "Sort" not in bulk_branch, plan


def test_budget_mixture_matches_full_window_selection(spark):
    """r7 regression: the prefix-bucket budget selection (broadcast
    below-bucket offsets + per-(source, bucket) cumsum) must reproduce
    the legacy whole-source window EXACTLY — same kept rows AND same
    cum_before values — including the straddling document and sources
    missing from the budget map (default budget)."""
    from pyspark.sql import Window

    from blockchaintoavro_spark.operators.quality import budget_mixture

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 11 == 0, "code")
        .when(F.col("id") % 2 == 0, "web")
        .otherwise("books")
        .alias("source"),
        (F.col("id") % 37 + 1).alias("n_tok"),
    )
    budgets = {"web": 4000, "code": 800}
    got = sorted(
        map(
            tuple,
            budget_mixture(
                df, F.col("n_tok"), budgets, default_budget=500
            ).collect(),
        )
    )
    # legacy reference: one whole-source window
    h = F.md5(F.col("doc_id").cast("string"))
    w = (
        Window.partitionBy("source")
        .orderBy(h, "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = F.lit(500)
    for s, tk in sorted(budgets.items()):
        b = F.when(F.col("source") == s, F.lit(tk)).otherwise(b)
    ref = sorted(
        map(
            tuple,
            df.select(
                "source",
                "doc_id",
                F.col("n_tok").cast("long").alias("n_tok"),
                F.coalesce(F.sum("n_tok").over(w), F.lit(0))
                .cast("long")
                .alias("cum_before"),
            )
            .where(F.col("cum_before") < b)
            .select("source", "doc_id", "n_tok", "cum_before")
            .collect(),
        )
    )
    assert got == ref and len(got) > 0


def test_sorted_gram_dup_counts_twin_matches_catalyst(spark, sf_dir):
    """substring_dup_counts(plan='sorted_gram') — broadcast dictionary,
    doc-local hit counting — matches the Catalyst join-back exactly on
    fixture text (no 64-bit collisions at this size), on BOTH the
    broadcast path and the big-dictionary fallback."""
    from blockchaintoavro_spark.operators.dedup import substring_dup_counts
    from blockchaintoavro_spark.operators.substr_sorted import (
        substring_dup_counts_sorted,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter("doc_id < 60")
    ref = sorted(map(tuple, substring_dup_counts(d, k=15).collect()))
    got = sorted(
        map(
            tuple,
            substring_dup_counts(d, k=15, plan="sorted_gram").collect(),
        )
    )
    assert got == ref and len(ref) > 0
    fb = sorted(
        map(
            tuple,
            substring_dup_counts_sorted(d, k=15, broadcast_max_hashes=1).collect(),
        )
    )
    assert fb == ref


def test_window_hashes_match_spark_substring_xxhash(spark):
    """window_hashes_concat must equal F.xxhash64(F.substring(...)) for
    every sliding k-char window — CHAR positions, not bytes — on text
    mixing 1-, 2-, 3- and 4-byte UTF-8 characters (the variable-width
    grouping path)."""
    import numpy as np
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.functions.xxh import (
        char_starts_of,
        window_hashes_concat,
    )

    text = "añ日🚀 the quick bröwn fox 跳过 lazy dög 0123456789 añ日🚀 end"
    k = 6
    df = spark.createDataFrame([(text,)], "t string").select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - k + 1),
                lambda i: F.xxhash64(F.substring(F.col("t"), i, k)),
            )
        ).alias("p", "h")
    )
    expected = [r["h"] for r in df.orderBy("p").collect()]
    b = text.encode("utf-8")
    got = (
        window_hashes_concat(b, char_starts_of(b, len(text)), k)
        .view(np.int64)
        .tolist()
    )
    assert got == expected and len(got) == len(text) - k + 1


# ---------------------------------------------------------------------------
# round 9: regression tests pinning the round-8 behavior fixes


def test_mixtures_keep_null_key_rows(spark):
    """NULL-key rows must survive both mixtures (r8 fix,
    quality.py: NULL md5 pinned to bucket 0) instead of silently
    vanishing through the bucket lookup join — a silent budget
    under-fill at scale. Every mixture test before this one used
    all-non-null keys, so the fix was invisible to the suite."""
    from blockchaintoavro_spark.operators.quality import (
        budget_mixture,
        temperature_mixture,
    )

    rows = [("a", None, 7), ("a", "d1", 3), ("a", "d2", 4), ("b", None, 5), ("b", "d3", 2)]
    df = spark.createDataFrame(rows, "source string, doc_id string, n long")

    # budgets large enough to keep every row → the NULL-key rows MUST
    # be in the output
    out = budget_mixture(df, F.col("n"), {"a": 100, "b": 100}).collect()
    assert len(out) == 5
    nulls = [r for r in out if r["doc_id"] is None]
    assert sorted(r["source"] for r in nulls) == ["a", "b"]
    # NULL md5 sorts first (bucket 0, NULLS FIRST): within its source
    # the NULL-key row is picked BEFORE any non-null key
    for r in nulls:
        assert r["cum_before"] == 0, r

    # temperature: take the whole corpus → NULL keys selectable
    sel = temperature_mixture(df, target_total=5, tau=1.0, key="doc_id")
    got = sel.collect()
    assert len(got) == 5
    assert sum(1 for r in got if r["doc_id"] is None) == 2

    # tight budget: the NULL-key row (cum_before=0) is the FIRST pick
    tight = budget_mixture(df, F.col("n"), {"a": 1, "b": 1}).collect()
    assert sorted((r["source"], r["doc_id"]) for r in tight) == [
        ("a", None),
        ("b", None),
    ]


def test_sorted_gram_ops_accept_string_doc_ids(spark):
    """String doc-ids through the sorted-gram count/strip operators
    (r8 fix, substr_sorted.py: output id type derived from the input
    schema instead of hardcoded long) — on BOTH the broadcast-dictionary
    path and the broadcast_max_hashes=1 over-gate fallback. Pre-fix this
    crashed at Arrow conversion; no test constructed a string-id corpus
    for these two functions."""
    from blockchaintoavro_spark.operators.dedup import (
        strip_duplicated_spans,
        substring_dup_counts,
    )
    from blockchaintoavro_spark.operators.substr_sorted import (
        strip_duplicated_spans_sorted,
        substring_dup_counts_sorted,
    )

    rows = [(f"doc-{i}", t) for i, (_, t) in enumerate(_SORTED_GRAM_CORPUS)]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    k = 12

    ref_counts = sorted(
        map(tuple, substring_dup_counts(d, k=k).collect())
    )
    got = sorted(map(tuple, substring_dup_counts_sorted(d, k=k).collect()))
    fb = sorted(
        map(
            tuple,
            substring_dup_counts_sorted(d, k=k, broadcast_max_hashes=1).collect(),
        )
    )
    assert got == ref_counts and fb == ref_counts and len(ref_counts) > 0
    assert all(isinstance(r[0], str) for r in got)

    ref_strip = sorted(
        map(
            tuple,
            strip_duplicated_spans(d, k=k, hash_only=True, plan="catalyst").collect(),
        )
    )
    got_s = sorted(map(tuple, strip_duplicated_spans_sorted(d, k=k).collect()))
    fb_s = sorted(
        map(
            tuple,
            strip_duplicated_spans_sorted(d, k=k, broadcast_max_hashes=1).collect(),
        )
    )
    assert got_s == ref_strip and fb_s == ref_strip
    assert all(isinstance(r[0], str) for r in got_s)


def test_duplicated_spans_maximal_paths_agree_and_match_strip(spark, sf_dir):
    """Maximal-span detection (substr_sorted.py:duplicated_spans_sorted):
    broadcast path == over-gate Catalyst gaps-and-islands path, spans
    are disjoint with ≥1-char gaps (maximality), and per doc the summed
    span lengths equal exactly what the strip removes."""
    from blockchaintoavro_spark.operators.substr_sorted import (
        duplicated_spans_sorted,
        strip_duplicated_spans_sorted,
    )

    fixture = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 60"
    )
    uni = spark.createDataFrame(_SORTED_GRAM_CORPUS, "doc_id long, text string")
    for d, k in [(fixture, 15), (uni, 12)]:
        got = sorted(map(tuple, duplicated_spans_sorted(d, k=k).collect()))
        fb = sorted(
            map(
                tuple,
                duplicated_spans_sorted(d, k=k, broadcast_max_hashes=1).collect(),
            )
        )
        assert got == fb and len(got) > 0
        # maximality: spans within a doc are sorted, disjoint, and
        # separated by at least one kept char
        per: dict = {}
        for doc, s, ln in got:
            assert ln >= k and s >= 1
            per.setdefault(doc, []).append((s, ln))
        for doc, spans in per.items():
            for (s1, l1), (s2, _) in zip(spans, spans[1:]):
                assert s2 > s1 + l1, (doc, spans)
        # strip agreement: summed span lengths == n_stripped
        stripped = {
            r["doc_id"]: r["n_stripped"]
            for r in strip_duplicated_spans_sorted(d, k=k).collect()
            if r["n_stripped"]
        }
        summed: dict = {}
        for doc, s, ln in got:
            summed[doc] = summed.get(doc, 0) + ln
        assert summed == stripped


def test_duplicated_spans_maximal_string_ids(spark):
    """String doc-ids flow through the span output schema (StructType-
    derived id field), on both physical paths."""
    from blockchaintoavro_spark.operators.substr_sorted import (
        duplicated_spans_sorted,
    )

    rows = [(f"d{i}", t) for i, (_, t) in enumerate(_SORTED_GRAM_CORPUS)]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    got = sorted(map(tuple, duplicated_spans_sorted(d, k=12).collect()))
    fb = sorted(
        map(
            tuple,
            duplicated_spans_sorted(d, k=12, broadcast_max_hashes=1).collect(),
        )
    )
    assert got == fb and len(got) > 0
    assert all(isinstance(r[0], str) for r in got)


def test_ivf_persisted_index_matches_per_call_and_skips_lloyd(spark, sf_dir, tmp_path):
    """r8 VERDICT #4: build_ivf_index persists centroids + cid-
    partitioned assignments; query_ivf must return EXACTLY what the
    train-per-call path returns (same deterministic centroids ⇒ same
    candidate sets ⇒ same rerank), and its plan must contain no Lloyd
    machinery — just the assignments scan and the probe join."""
    from blockchaintoavro_spark.operators.similarity import (
        ann_topk_ivf,
        build_ivf_index,
        query_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    idx = str(tmp_path / "ivf_index")
    build_ivf_index(emb, idx, n_centroids=16, n_iters=3)

    ref = sorted(
        (r.q_id, r.neighbor_id)
        for r in ann_topk_ivf(emb, q, k=3, n_centroids=16, nprobe=6).collect()
    )
    got_df = query_ivf(spark, idx, q, k=3, nprobe=6)
    got = sorted((r.q_id, r.neighbor_id) for r in got_df.collect())
    assert got == ref and len(got) > 0

    # the query plan reads the persisted assignments (partitioned by
    # cid) and never re-aggregates the corpus into centroids: no
    # posexplode/avg stage, and the only scans are parquet
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        got_df._jdf.queryExecution(), "formatted"
    )
    assert "ivf_index/seg-" in p  # the manifest-pinned segment (r11)
    assert "posexplode" not in p and "avg(" not in p

    # index is reusable across sessions-of-truth: a second query with
    # different probes still needs zero training jobs and stays a
    # subset/superset-consistent rerank
    got2 = query_ivf(spark, idx, q, k=3, nprobe=16)
    exact = sorted(
        (r.q_id, r.neighbor_id) for r in topk_per_query(emb, q, k=3).collect()
    )
    # nprobe == n_centroids probes every posting list -> exact results
    assert sorted((r.q_id, r.neighbor_id) for r in got2.collect()) == exact


def test_verbatim_sorted_confirm_matches_catalyst(spark, sf_dir):
    """plan='sorted_confirm' (sorted-detect + verbatim confirm,
    substr_sorted.py) must be BYTE-IDENTICAL to the Catalyst verbatim
    plan — including NULL-text passthrough and within-doc repeats —
    and plan='auto' must now route verbatim batch input to it."""
    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    fixture = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 60"
    )
    uni = spark.createDataFrame(_SORTED_GRAM_CORPUS, "doc_id long, text string")
    for d, k in [(fixture, 15), (uni, 12)]:
        ref = sorted(
            map(
                tuple,
                strip_duplicated_spans(d, k=k, plan="catalyst").collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                strip_duplicated_spans(d, k=k, plan="sorted_confirm").collect(),
            )
        )
        auto = sorted(
            map(tuple, strip_duplicated_spans(d, k=k).collect())
        )
        assert got == ref and auto == ref and len(ref) > 0


def test_verbatim_sorted_confirm_kills_fingerprint_collisions(spark, monkeypatch):
    """The confirm stage's whole purpose: a fingerprint collision
    between a duplicated and a unique gram must NOT strip the unique
    gram. Simulated by collapsing the dictionary fingerprints to one
    bucket value (every gram 'collides'); the verbatim confirm must
    still strip only the truly duplicated spans."""
    import blockchaintoavro_spark.operators.substr_sorted as ss
    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    real = ss._dup_dictionary

    def collide(df, k, min_docs, id_col, text_col, trp, np_, gate):
        import numpy as _np

        dup_sorted, dups = real(
            df, k, min_docs, id_col, text_col, trp, np_, gate
        )
        assert dups is None
        # every fingerprint in the corpus becomes a 'candidate'
        from blockchaintoavro_spark.functions.xxh import (
            char_starts_of,
            window_hashes_concat,
        )

        texts = [r[text_col] or "" for r in df.select(text_col).collect()]
        joined = "".join(texts).encode("utf-8")
        allh = window_hashes_concat(
            joined, char_starts_of(joined, sum(len(t) for t in texts)), k
        )
        return _np.sort(_np.unique(allh)), None

    monkeypatch.setattr(ss, "_dup_dictionary", collide)
    rows = [
        (1, "AAAA shared span here AAAA"),
        (2, "BBBB shared span here BBBB"),
        (3, "totally unique content xyz"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in strip_duplicated_spans(d, k=12, plan="sorted_confirm").collect()
    }
    ref = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in strip_duplicated_spans(d, k=12, plan="catalyst").collect()
    }
    assert got == ref
    assert got[3][1] == 0  # the unique doc survives the forced collisions


def test_hashed_linear_score_trained_weights_and_threshold(spark):
    """The trained-weights path (array-literal model + element_at) must
    agree with a hand-computed score, and the keep verdict must apply
    the cross-multiplied integer threshold exactly."""
    import hashlib

    from blockchaintoavro_spark.operators.quality import hashed_linear_score

    n_buckets = 64
    weights = [((b * 37) % 201) - 100 for b in range(n_buckets)]

    def bucket(tk):
        return int(hashlib.md5(tk.encode()).hexdigest()[:8], 16) % n_buckets

    rows = [(1, "alpha beta gamma"), (2, "delta delta"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_milli"], r["keep"])
        for r in hashed_linear_score(
            df, weights_milli=weights, n_buckets=n_buckets, threshold_milli=10
        ).collect()
    }
    for doc_id, text in rows:
        toks = text.lower().split(" ")
        want = sum(weights[bucket(t)] for t in toks)
        assert got[doc_id] == (
            len(toks), want, 1 if want > 10 * len(toks) else 0
        )


def test_hashed_linear_score_default_model_plan_is_shuffle_free(spark):
    """The pseudo-model path is ONE whole-stage projection: no
    Exchange, no Python, no join — the 100 TB model-sweep shape."""
    from blockchaintoavro_spark.operators.quality import hashed_linear_score

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = hashed_linear_score(df)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_hashed_linear_score_rejects_wrong_weight_length(spark):
    import pytest as _pytest

    from blockchaintoavro_spark.operators.quality import hashed_linear_score

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="weights_milli length"):
        hashed_linear_score(df, weights_milli=[1, 2, 3], n_buckets=64)


def test_train_hashed_linear_learns_separable_corpus(spark):
    """Train-then-serve loop: GD logistic regression over the hashed
    features must separate a marker-token corpus (docs containing
    'goodtok' are label 1, 'badtok' docs label 0), and the trained
    milli-weights pushed through hashed_linear_score must classify a
    held-out set correctly. Also pins the train/serve feature-map
    agreement (same md5 bucketing expression on both sides)."""
    from blockchaintoavro_spark.operators.quality import (
        hashed_linear_score,
        train_hashed_linear,
    )

    fillers = ["lorem", "ipsum", "dolor", "sit", "amet", "quo", "vadis"]
    rows = []
    for i in range(120):
        f1, f2 = fillers[i % 7], fillers[(i * 3 + 1) % 7]
        if i % 2 == 0:
            rows.append((i, f"{f1} goodtok {f2} goodtok", 1))
        else:
            rows.append((i, f"{f2} badtok {f1} badtok", 0))
    train = spark.createDataFrame(
        [(t, y) for _, t, y in rows[:100]], "text string, label long"
    )
    weights = train_hashed_linear(train, n_buckets=256, n_iters=40)
    assert len(weights) == 256 and any(weights)
    held = spark.createDataFrame(
        [(i, t) for i, t, _ in rows[100:]], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["keep"]
        for r in hashed_linear_score(
            held, weights_milli=weights, n_buckets=256
        ).collect()
    }
    for i, _, y in rows[100:]:
        assert got[i] == y, (i, got[i], y)


def test_train_hashed_linear_empty_input(spark):
    from blockchaintoavro_spark.operators.quality import train_hashed_linear

    empty = spark.createDataFrame([], "text string, label long")
    assert train_hashed_linear(empty, n_buckets=16, n_iters=2) == [0] * 16


def test_dsir_logweights_hand_computed_and_bigram_edges(spark):
    """Pseudo-model weights must equal a hand-computed md5 bucket sum
    over unigrams + space-joined bigrams; 1-token and empty docs carry
    no bigrams (the sequence(1,0)-counts-down Spark trap)."""
    import hashlib

    from blockchaintoavro_spark.operators.dsir import dsir_logweights

    def lw(g):
        b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 4096
        return (b * 2654435761 + 999331) % 2001 - 1000

    rows = [(1, "alpha beta gamma"), (2, "solo"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["logw_milli"])
        for r in dsir_logweights(df).collect()
    }
    for doc_id, text in rows:
        toks = text.lower().split(" ")
        grams = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        assert got[doc_id] == (len(grams), sum(lw(g) for g in grams)), doc_id
    assert got[2][0] == 1 and got[3][0] == 1  # no bigrams, '' is a token


def test_dsir_logweights_plan_is_shuffle_free(spark):
    """The sweep leg is ONE whole-stage projection: no Exchange, no
    Python — the corpus never moves at 100 TB."""
    from blockchaintoavro_spark.operators.dsir import dsir_logweights

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    p = (
        dsir_logweights(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_dsir_sample_plan_is_partial_topk(spark):
    """Gumbel top-k must plan as TakeOrderedAndProject (per-partition
    partial top-k + driver merge), never a global sort or a
    single-partition window."""
    from blockchaintoavro_spark.operators.dsir import dsir_sample

    df = spark.createDataFrame(
        [(i, f"tok{i} filler") for i in range(50)],
        "doc_id long, text string",
    )
    p = dsir_sample(df, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p


def test_dsir_fit_then_sample_prefers_target_like_docs(spark):
    """End-to-end DSIR: fit log-ratios on marker-token target/source
    corpora, then Gumbel top-k over a mixed pool must select almost
    exclusively the target-like documents (importance weights dominate
    the bounded Gumbel noise)."""
    from blockchaintoavro_spark.operators.dsir import (
        dsir_logweights,
        dsir_sample,
        fit_dsir_logratios,
    )

    fillers = ["lorem", "ipsum", "dolor", "sit", "amet", "quo", "vadis"]

    def doc(i, marker):
        f1, f2 = fillers[i % 7], fillers[(i * 3 + 1) % 7]
        return f"{f1} {marker} {f2} {marker} {f1} {marker}"

    target = spark.createDataFrame(
        [(doc(i, "goodtok"),) for i in range(60)], "text string"
    )
    source = spark.createDataFrame(
        [(doc(i, "badtok"),) for i in range(60)], "text string"
    )
    lr = fit_dsir_logratios(target, source, n_buckets=512)
    assert len(lr) == 512 and any(lr)

    pool = spark.createDataFrame(
        [(i, doc(i, "goodtok" if i % 2 == 0 else "badtok")) for i in range(100)],
        "doc_id long, text string",
    )
    # weights first: every target-like doc must outscore every source-like
    w = {
        r["doc_id"]: r["logw_milli"]
        for r in dsir_logweights(pool, lr_milli=lr, n_buckets=512).collect()
    }
    assert min(w[i] for i in range(0, 100, 2)) > max(
        w[i] for i in range(1, 100, 2)
    )
    picked = [
        r["doc_id"]
        for r in dsir_sample(pool, 30, lr_milli=lr, n_buckets=512).collect()
    ]
    assert len(picked) == 30
    good = sum(1 for i in picked if i % 2 == 0)
    assert good >= 28, (good, sorted(picked))


def test_dsir_rejects_wrong_lr_length(spark):
    import pytest as _pytest

    from blockchaintoavro_spark.operators.dsir import dsir_logweights

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="lr_milli length"):
        dsir_logweights(df, lr_milli=[1, 2], n_buckets=64)


def test_corpus_dedup_lines_keeps_first_occurrence_only(spark):
    """RefinedWeb-style corpus-level line dedup: a line survives only
    at its first (doc_id, pos) occurrence; later docs lose it; a doc
    made entirely of seen lines survives with empty cleaned text;
    within-doc repeats also collapse to the first position."""
    from blockchaintoavro_spark.operators.dedup import corpus_dedup_lines

    rows = [
        (1, "intro\nshared header\nbody one"),
        (2, "shared header\nbody two\nbody two"),
        (3, "shared header\nbody one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["cleaned"])
        for r in corpus_dedup_lines(df).collect()
    }
    assert got[1] == (3, 3, "intro\nshared header\nbody one")
    assert got[2] == (3, 1, "body two")
    assert got[3] == (2, 0, "")


def test_corpus_dedup_lines_plan_has_mapside_combine(spark):
    """The winner aggregate must partial-combine map-side (the hot
    boilerplate line collapses to one row per task before the
    Exchange) and the plan must stay cartesian-free."""
    from blockchaintoavro_spark.operators.dedup import corpus_dedup_lines

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    p = (
        corpus_dedup_lines(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_min" in p, p
    assert "CartesianProduct" not in p, p


def test_model_feature_hash_is_bag_of_words_order_invariant(spark):
    """Both hashed-feature operators are bag-of-(n)gram models: the
    classifier score must be invariant to token order; the DSIR weight
    must be invariant to BIGRAM multiset order (tokens reversed keeps
    unigrams, changes bigram composition — so assert on a rotation that
    preserves the bigram multiset instead: identical text)."""
    from blockchaintoavro_spark.operators.dsir import dsir_logweights
    from blockchaintoavro_spark.operators.quality import hashed_linear_score

    a = "alpha beta gamma delta"
    b = "delta gamma beta alpha"  # same tokens, different order
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    s = {
        r["doc_id"]: r["score_milli"]
        for r in hashed_linear_score(df).collect()
    }
    assert s[1] == s[2]
    # unigram-only DSIR weights share the invariance; with bigrams the
    # order MUST matter (it's the model's point) — pin both facts
    w_uni = {
        r["doc_id"]: r["logw_milli"]
        for r in dsir_logweights(df, include_bigrams=False).collect()
    }
    assert w_uni[1] == w_uni[2]
    w_bi = {
        r["doc_id"]: r["logw_milli"]
        for r in dsir_logweights(df).collect()
    }
    assert w_bi[1] != w_bi[2]


def test_bigram_logprob_hand_computed_stupid_backoff(spark):
    """Stupid Backoff exactly: seen bigram = c(prev,w)/c(prev as
    context); unseen = 0.4·c(w)/N; first token = c(w)/N. Verified
    against a by-hand model on a 2-doc corpus."""
    import math

    from blockchaintoavro_spark.operators.quality import bigram_logprob

    rows = [(1, "a b a b"), (2, "b a c")]
    # counts: N=7, c(a)=3 c(b)=3 c(c)=1
    # bigrams: (a,b):2 (b,a):2 (a,c):1 → ctx c(a)=3, c(b)=2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in bigram_logprob(df).collect()
    }
    p1 = [3 / 7, 2 / 3, 2 / 2, 2 / 3]          # a | a→b | b→a | a→b
    p2 = [3 / 7, 2 / 2, 1 / 3]                  # b | b→a | a→c
    for doc, probs in ((1, p1), (2, p2)):
        want = sum(-math.log2(p) for p in probs) / len(probs)
        n, bits = got[doc]
        assert n == len(probs)
        assert abs(bits - want) < 1e-12, (doc, bits, want)


def test_bigram_logprob_is_word_order_sensitive(spark):
    """The whole point over the unigram scorer: a doc with the corpus'
    common bigrams scores fewer bits than the same unigrams scrambled
    into unseen transitions."""
    from blockchaintoavro_spark.operators.quality import bigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(1, 4)]
    rows.append((4, "mat the on sat cat the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    b = {
        r["doc_id"]: r["bits_per_token"]
        for r in bigram_logprob(df).collect()
    }
    assert b[4] > b[1] + 0.5, b


def test_pq_encode_reconstruction_and_code_range(spark):
    """PQ codes must index valid codebook entries; the carried norm must
    equal the reconstructed vector's L2 norm; a vector that IS a
    codebook centroid in every subspace must round-trip exactly."""
    import math

    from blockchaintoavro_spark.operators.pq import pq_encode, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb, m=8, n_codes=8, n_iters=2)
    enc = pq_encode(emb, books).collect()
    for r in enc:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 8 for c in r["codes"])
        want = math.sqrt(
            sum(
                sum(x * x for x in books[s][c])
                for s, c in enumerate(r["codes"])
            )
        )
        assert abs(r["norm"] - want) < 1e-9


def test_pq_topk_adc_rerank_recall(spark):
    """ADC+R (shortlist from compressed codes, exact cosine re-rank)
    must reach >=0.8 recall@5 vs the exact oracle on the clustered
    fixture — deterministic: no RNG anywhere in train/encode/search."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )
    from blockchaintoavro_spark.operators.similarity import topk_per_query

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in topk_per_query(emb, q, k=5).collect()
    }
    books = pq_train(emb, m=8, n_codes=16, n_iters=3)
    enc = pq_encode(emb, books)
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in pq_topk(
            enc, q, books, k=5, rerank_with=emb, shortlist=64
        ).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8
    # ADC-only leg still returns a full result set with sane scores
    adc = pq_topk(enc, q, books, k=5).collect()
    assert len(adc) == 25
    assert all(-1.001 <= r["sim"] <= 1.001 for r in adc)


def test_pq_train_rejects_bad_dims(spark):
    import pytest as _pytest

    from blockchaintoavro_spark.operators.pq import pq_train

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, n_codes=2, n_iters=1)


def test_ivfpq_residual_encoding_beats_global_pq_adc(spark):
    """IVFADC (residual PQ per inverted list, shared codebooks) must
    beat global-PQ ADC recall at the same code budget — the point of
    residual encoding (Jégou et al. §V): residual energy is smaller, so
    the same 8×16 codebooks quantize finer. Deterministic end-to-end."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_topk,
        pq_encode,
        pq_topk,
        pq_train,
        train_ivfpq,
    )
    from blockchaintoavro_spark.operators.similarity import topk_per_query

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in topk_per_query(emb, q, k=5).collect()
    }
    cents, books = train_ivfpq(emb, n_centroids=16, m=8, n_codes=16)
    enc = ivfpq_encode(emb, cents, books)
    adc = {
        (r["q_id"], r["neighbor_id"])
        for r in ivfpq_topk(enc, q, cents, books, k=5, nprobe=8).collect()
    }
    gbooks = pq_train(emb, m=8, n_codes=16)
    gadc = {
        (r["q_id"], r["neighbor_id"])
        for r in pq_topk(pq_encode(emb, gbooks), q, gbooks, k=5).collect()
    }
    r_ivfpq = len(adc & exact) / len(exact)
    r_global = len(gadc & exact) / len(exact)
    assert r_ivfpq > r_global, (r_ivfpq, r_global)
    # the production leg: probe + shortlist + exact re-rank
    rr = {
        (r["q_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            enc, q, cents, books, k=5, nprobe=6,
            rerank_with=emb, shortlist=48,
        ).collect()
    }
    assert len(rr & exact) / len(exact) >= 0.85


def test_ivfpq_encode_carries_exact_reconstruction_norm(spark):
    """The stored norm must equal |c_cid + r̂| computed by hand from
    the returned model parameters (the c·r̂ cross term makes it non-
    decomposable — encoding must do it, and does)."""
    import math

    from blockchaintoavro_spark.operators.pq import (
        ivfpq_encode,
        train_ivfpq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, books = train_ivfpq(emb, n_centroids=4, m=4, n_codes=4, n_iters=2)
    for r in ivfpq_encode(emb, cents, books).limit(20).collect():
        c = cents[r["cid"]]
        rhat = [x for s, code in enumerate(r["codes"]) for x in books[s][code]]
        want = math.sqrt(sum((a + b) ** 2 for a, b in zip(c, rhat)))
        assert abs(r["norm"] - want) < 1e-9, (r["vec_id"], r["norm"], want)


def test_ivfpq_persisted_index_matches_train_per_call(spark, tmp_path):
    """build_ivfpq_index / query_ivfpq: the persisted index (KB models
    + cid-partitioned 8-byte codes, NO full vectors) must return the
    exact result of the train-per-call path — same deterministic
    training, same probe — with zero Lloyd jobs at query time."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_encode,
        ivfpq_topk,
        query_ivfpq,
        train_ivfpq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, n_centroids=8, m=4, n_codes=8, n_iters=2)
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in query_ivfpq(
            spark, path, q, k=3, nprobe=3, rerank_with=emb, shortlist=8
        ).collect()
    }
    cents, books = train_ivfpq(emb, n_centroids=8, m=4, n_codes=8, n_iters=2)
    want = {
        (r["q_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            ivfpq_encode(emb, cents, books), q, cents, books,
            k=3, nprobe=3, rerank_with=emb, shortlist=8,
        ).collect()
    }
    assert got == want and len(got) == 9
    # the index stores codes, not vectors: schema check
    from blockchaintoavro_spark.operators.pq import read_ivfpq_codes

    stored = read_ivfpq_codes(spark, path)
    assert set(stored.columns) == {"vec_id", "cid", "codes", "norm"}


def test_model_ops_xxhash64_production_hash_path(spark):
    """hash_fn='xxhash64' (the production feature hash — native JVM
    long, no hex materialization; measured 1.75× on the 500k DSIR
    sweep) must work end-to-end: train and serve with the SAME hash_fn
    classifies the marker corpus; buckets stay in range; an unknown
    hash_fn raises."""
    import pytest as _pytest

    from blockchaintoavro_spark.operators.dsir import dsir_logweights
    from blockchaintoavro_spark.operators.quality import (
        hashed_linear_score,
        train_hashed_linear,
    )

    rows = []
    for i in range(60):
        marker = "goodtok" if i % 2 == 0 else "badtok"
        rows.append((i, f"lorem {marker} ipsum {marker}", 1 if i % 2 == 0 else 0))
    train = spark.createDataFrame(
        [(t, y) for _, t, y in rows[:40]], "text string, label long"
    )
    w = train_hashed_linear(
        train, n_buckets=128, n_iters=30, hash_fn="xxhash64"
    )
    held = spark.createDataFrame(
        [(i, t) for i, t, _ in rows[40:]], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["keep"]
        for r in hashed_linear_score(
            held, weights_milli=w, n_buckets=128, hash_fn="xxhash64"
        ).collect()
    }
    for i, _, _ in rows[40:]:
        assert got[i] == (1 if i % 2 == 0 else 0), (i, got[i])
    # dsir pseudo-model path under xxhash64 stays deterministic & typed
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    r1 = dsir_logweights(d, hash_fn="xxhash64").collect()
    r2 = dsir_logweights(d, hash_fn="xxhash64").collect()
    assert r1 == r2 and isinstance(r1[0]["logw_milli"], int)
    with _pytest.raises(ValueError, match="unknown hash_fn"):
        hashed_linear_score(d, hash_fn="fnv").collect()


def test_dedup_clusters_converges_on_long_chains(spark):
    """r9 pointer-jumping regression: a 200-hop near-dup CHAIN (the
    drifting-boilerplate shape) must converge well inside the 25-round
    budget — plain one-hop min-propagation needed 200 rounds and
    raised. Multi-component labeling stays exact."""
    from blockchaintoavro_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "d1 long, d2 long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert len(got) == 201 and set(got.values()) == {0}
    multi = spark.createDataFrame(
        [(5, 6), (6, 7), (30, 31)], "d1 long, d2 long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(multi).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5, 30: 30, 31: 30}


def test_collapse_repeats_runs_only_and_shuffle_free(spark):
    """Consecutive-repeat collapse: runs shrink to their first element,
    NON-adjacent repeats survive (legitimate structure), empty text is
    total; and the plan is a zero-Exchange scan-stage projection."""
    from blockchaintoavro_spark.operators.quality import collapse_repeats

    rows = [(1, "a\na\na\nb\na"), (2, "x\ny\nx"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["n_collapsed"], r["cleaned"])
        for r in collapse_repeats(df).collect()
    }
    assert got[1] == (5, 2, "a\nb\na")
    assert got[2] == (3, 0, "x\ny\nx")
    assert got[3] == (1, 0, "")
    p = collapse_repeats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "BatchEvalPython" not in p, p


def test_collapse_repeats_is_idempotent_and_line_dedup_conserves(spark):
    """Property pins on the r9 text ops over a seeded random corpus:
    (a) collapse_repeats is idempotent — collapsing cleaned text again
    changes nothing; (b) corpus_dedup_lines keeps each DISTINCT line
    exactly once corpus-wide (sum of n_kept == distinct-line count) and
    the union of kept lines IS the distinct-line set."""
    import random

    from blockchaintoavro_spark.operators.dedup import corpus_dedup_lines
    from blockchaintoavro_spark.operators.quality import collapse_repeats

    rng = random.Random(42)
    vocab = [f"l{j}" for j in range(12)]
    rows = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    once = collapse_repeats(df).select(
        F.col("doc_id"), F.col("cleaned").alias("text")
    )
    twice = collapse_repeats(once)
    assert twice.filter(F.col("n_collapsed") != 0).count() == 0
    got_once = {r["doc_id"]: r["cleaned"] for r in collapse_repeats(df).collect()}
    got_twice = {r["doc_id"]: r["cleaned"] for r in twice.collect()}
    assert got_once == got_twice

    dd = corpus_dedup_lines(df)
    distinct_lines = {
        ln for _, text in rows for ln in text.split("\n")
    }
    total_kept = dd.agg(F.sum("n_kept")).collect()[0][0]
    assert total_kept == len(distinct_lines)
    kept_lines = {
        ln
        for r in dd.filter(F.col("n_kept") > 0).collect()
        for ln in r["cleaned"].split("\n")
    }
    assert kept_lines == distinct_lines


def test_segment_ops_treat_delimiter_literally(spark):
    """collapse_repeats / corpus_dedup_lines regex-escape the delimiter:
    a metachar-laden '||' must split literally (Java split would
    otherwise read it as an empty-alternation regex and explode every
    character). Verified against plain-Python str.split semantics."""
    from blockchaintoavro_spark.operators.dedup import corpus_dedup_lines
    from blockchaintoavro_spark.operators.quality import collapse_repeats

    rows = [(1, "a||a||b"), (2, "b||c||c||a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["cleaned"])
        for r in collapse_repeats(df, delimiter="||").collect()
    }
    assert got[1] == (3, "a||b")
    assert got[2] == (4, "b||c||a")
    dd = {
        r["doc_id"]: (r["n_kept"], r["cleaned"])
        for r in corpus_dedup_lines(df, delimiter="||").collect()
    }
    # doc 1 keeps a,b (first occurrences); doc 2 keeps c only (b,a seen)
    assert dd[1] == (2, "a||b")
    assert dd[2] == (1, "c")


def test_bigram_logprob_external_reference_lm(spark):
    """Scoring against a REFERENCE LM (fit_bigram_lm on a clean corpus,
    the CCNet production shape): reference-fluent docs score fewer
    bits than scrambled ones, and an all-OOV doc takes the unigram
    floor -log2(1/(N+1)) exactly — surfaced at the top, never dropped."""
    import math

    from blockchaintoavro_spark.operators.quality import (
        bigram_logprob,
        fit_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(f"the cat sat on the mat",) for _ in range(5)], "text string"
    )
    lm = fit_bigram_lm(ref)
    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),          # reference-fluent
            (2, "sat the on cat"),       # same vocab, broken order
            (3, "zz yy xx"),             # all OOV
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bits_per_token"]
        for r in bigram_logprob(docs, lm=lm).collect()
    }
    assert got[1] < got[2] < got[3]
    n_ref = 5 * 6  # reference token count
    floor = 1.0 / (n_ref + 1)
    # first token: pure floor; the rest: Stupid-Backoff 0.4 x floor
    want = (-math.log2(floor) + 2 * -math.log2(0.4 * floor)) / 3
    assert abs(got[3] - want) < 1e-12

def test_verbatim_sorted_releases_candidate_cache(spark):
    """r9 ADVICE: the verbatim sorted strip persisted its candidate-gram
    sliver and never released it — one pinned cache per call for the
    session lifetime. Now the confirmed position arrays localCheckpoint
    eagerly, the candidate persist drops at build time, and the
    checkpoint handle rides the output for caller release."""
    from blockchaintoavro_spark.operators.substr_sorted import (
        strip_duplicated_spans_verbatim_sorted,
    )
    from blockchaintoavro_spark.session import release_local_checkpoint

    sc = spark.sparkContext
    d = spark.createDataFrame(_SORTED_GRAM_CORPUS, "doc_id long, text string")
    base = sc._jsc.getPersistentRDDs().size()
    out = strip_duplicated_spans_verbatim_sorted(d, k=12)
    out.collect()
    # the candidate sliver must NOT remain cached; only the bounded
    # position-array checkpoint may (exposed on the returned frame)
    assert hasattr(out, "_spark_graft_checkpoint")
    grown = sc._jsc.getPersistentRDDs().size() - base
    assert grown <= 1, grown
    release_local_checkpoint(out._spark_graft_checkpoint)
    assert sc._jsc.getPersistentRDDs().size() <= base, (
        sc._jsc.getPersistentRDDs().size(), base
    )


def test_sorted_over_gate_exposes_persist_handle(spark):
    """Over-gate sorted plans join a PERSISTED dictionary the caller
    previously could not drop; the handle now rides the returned frame
    (r9 ADVICE)."""
    from blockchaintoavro_spark.operators.substr_sorted import (
        duplicated_spans_sorted,
        strip_duplicated_spans_sorted,
        substring_dup_counts_sorted,
    )

    d = spark.createDataFrame(_SORTED_GRAM_CORPUS, "doc_id long, text string")
    for fn in (
        substring_dup_counts_sorted,
        strip_duplicated_spans_sorted,
        duplicated_spans_sorted,
    ):
        out = fn(d, k=12, broadcast_max_hashes=0)  # force over-gate
        assert hasattr(out, "_spark_graft_persisted"), fn.__name__
        n = out.count()
        assert n >= 0
        out._spark_graft_persisted.unpersist()


def test_ivf_append_no_training_equivalence_and_drift(spark, sf_dir, tmp_path):
    """r9 VERDICT #5: append_to_ivf_index grows a persisted index with
    the STANDING centroids — zero Lloyd jobs (monkey-proofed), results
    identical to assigning everything with those centroids in one pass,
    running stats maintained across appends, and the drift ratio must
    flag a distribution shift."""
    import blockchaintoavro_spark.operators.similarity as sim
    from blockchaintoavro_spark.operators.similarity import (
        _ivf_probe,
        append_to_ivf_index,
        build_ivf_index,
        query_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    a = emb.filter(F.col("vec_id") < 100)
    b = emb.filter(F.col("vec_id") >= 100)
    idx = str(tmp_path / "ivf_inc")
    build_ivf_index(a, idx, n_centroids=16, n_iters=3)

    def boom(*args, **kwargs):  # pragma: no cover - must not be hit
        raise AssertionError("append must never retrain")

    orig = sim.train_ivf_centroids
    sim.train_ivf_centroids = boom
    try:
        drift = append_to_ivf_index(idx, b)
    finally:
        sim.train_ivf_centroids = orig
    assert drift["n_indexed"] == 100 and drift["n_appended"] == 100
    assert drift["index_mean_dist"] > 0 and drift["drift_ratio"] > 0

    # equivalence: query over (build A + append B) == one-pass
    # assignment of A∪B with the SAME standing centroids
    centroids = sim.read_ivf_centroids(spark, idx)
    q = emb.filter(F.col("vec_id") < 10)
    got = sorted(
        map(tuple, query_ivf(spark, idx, q, k=3, nprobe=6)
            .select("q_id", "neighbor_id").collect())
    )
    assigned_all = sim._assign_with_dist(
        emb, centroids, "vec_id", "embedding"
    ).drop("_dist")
    ref = sorted(
        map(tuple, _ivf_probe(assigned_all, q, centroids, 3, 6,
                              "vec_id", "embedding")
            .select("q_id", "neighbor_id").collect())
    )
    assert got == ref and len(got) > 0

    # running stats accumulate; stats survive as the new baseline
    # (committed in the SAME manifest as the appended segment — r11)
    assert sim.read_ivf_stats(spark, idx)[0] == 200

    # held-out data reads ABOVE the training baseline (Lloyd fits the
    # build snapshot) — exactly the signal the metric exists to surface
    assert drift["drift_ratio"] > 1.0, drift

    # a second append sees the UPDATED running baseline: the weighted
    # mean of the original index and the first appended batch
    d2 = append_to_ivf_index(
        idx,
        b.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding"),
    )
    want_mean = (
        drift["index_mean_dist"] * drift["n_indexed"]
        + drift["batch_mean_dist"] * drift["n_appended"]
    ) / 200
    assert d2["n_indexed"] == 200
    assert abs(d2["index_mean_dist"] - want_mean) < 1e-9, (drift, d2)
    # re-appending the same batch against its own baseline: ratio falls
    # toward 1 (the batch is now part of the baseline)
    assert d2["drift_ratio"] < drift["drift_ratio"], (drift, d2)

    # legacy (pre-r11, manifest-less) index without stats: the first
    # append adopts the bare-directory layout, backfills the baseline
    # with one scan, and commits the first manifest
    legacy = str(tmp_path / "ivf_legacy")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cid int, centroid array<double>",
    ).coalesce(1).write.parquet(f"{legacy}/centroids")
    sim.read_ivf_assignments(spark, idx).write.partitionBy("cid").parquet(
        f"{legacy}/assignments"
    )
    d3 = append_to_ivf_index(legacy, q.limit(5))
    assert d3["n_indexed"] == 300 and d3["index_mean_dist"] is not None
    from blockchaintoavro_spark.operators import manifest as mfmod

    gen, man = mfmod.latest_manifest(spark, legacy)
    assert man["segments"][0] == "assignments" and len(man["segments"]) == 2
    assert sim.read_ivf_stats(spark, legacy)[0] == 305


def test_ivfpq_append_no_training_and_query_sees_appended(spark, sf_dir, tmp_path):
    """IVFADC append leg: encode-with-standing-model only (no train_ivfpq
    call), appended codes are immediately searchable, and running stats
    track the coarse-quantizer drift."""
    import blockchaintoavro_spark.operators.pq as pqmod
    from blockchaintoavro_spark.operators.pq import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_encode,
        ivfpq_topk,
        query_ivfpq,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    a = emb.filter(F.col("vec_id") < 100)
    b = emb.filter(F.col("vec_id") >= 100)
    idx = str(tmp_path / "ivfpq_inc")
    build_ivfpq_index(a, idx, n_centroids=16, m=8, n_codes=16)

    def boom(*args, **kwargs):  # pragma: no cover
        raise AssertionError("append must never retrain")

    orig = pqmod.train_ivfpq
    pqmod.train_ivfpq = boom
    try:
        drift = append_to_ivfpq_index(idx, b)
    finally:
        pqmod.train_ivfpq = orig
    assert drift["n_indexed"] == 100 and drift["n_appended"] == 100
    assert drift["drift_ratio"] is not None

    # equivalence: persisted query == in-memory IVFADC over codes
    # encoded with the same standing model for A∪B
    centroids, books = pqmod._read_ivfpq_model(spark, idx)
    q = emb.filter(F.col("vec_id") < 10)
    got = sorted(
        map(tuple, query_ivfpq(spark, idx, q, k=3, nprobe=6)
            .select("q_id", "neighbor_id").collect())
    )
    enc_all = ivfpq_encode(emb, centroids, books)
    ref = sorted(
        map(tuple, ivfpq_topk(enc_all, q, centroids, books, k=3, nprobe=6)
            .select("q_id", "neighbor_id").collect())
    )
    assert got == ref and len(got) > 0
    from blockchaintoavro_spark.operators.similarity import read_ivf_stats

    assert read_ivf_stats(spark, idx)[0] == 200


def test_mixture_tiebreak_deterministic_at_boundary(spark):
    """r9 VERDICT #6: duplicate/NULL keys tying at a budget boundary
    previously made the straddling pick run-dependent; an optional
    stable tiebreak column makes the order total — identical subsets
    across partitionings — and rides the output so the picked rows are
    identifiable."""
    import pytest as _pytest

    from blockchaintoavro_spark.operators.quality import (
        budget_mixture,
        temperature_mixture,
    )

    # five NULL-key rows of 10 tokens, budget 25: rows with cum_before
    # 0/10/20 are kept, so WHICH three of the five ties win is exactly
    # the nondeterminism the tiebreak closes
    rows = [(None, "web", 10, f"u{i}") for i in range(5)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, n int, uid string"
    )
    picks = set()
    for parts in (1, 7, 32):
        got = budget_mixture(
            df.repartition(parts), F.col("n"), {"web": 25}, tiebreak="uid"
        )
        picks.add(tuple(sorted(r["uid"] for r in got.collect())))
    assert picks == {("u0", "u1", "u2")}

    # temperature: four rows sharing ONE key, take 2 — the sliver rank
    # ties completely without the tiebreak
    rows2 = [("k", "web", f"u{i}") for i in range(4)]
    df2 = spark.createDataFrame(rows2, "doc_id string, source string, uid string")
    picks2 = set()
    for parts in (1, 5, 32):
        got = temperature_mixture(
            df2.repartition(parts), target_total=2, tau=1.0, tiebreak="uid"
        )
        picks2.add(tuple(sorted(r["uid"] for r in got.collect())))
    assert picks2 == {("u0", "u1")}

    with _pytest.raises(ValueError, match="tiebreak"):
        budget_mixture(df, F.col("n"), {"web": 25}, tiebreak="doc_id")
    with _pytest.raises(ValueError, match="tiebreak"):
        temperature_mixture(df2, target_total=2, tiebreak="source")


def test_incremental_gram_counts_equal_full_detection(spark, sf_dir, tmp_path):
    """The LSM-shaped incremental detection store: appending per-ingest
    gram counts and deriving the dictionary must equal full detection
    over the concatenated corpus (disjoint-id ingests), compaction must
    merge deltas without changing the derived dictionary, and a
    mismatched k must be rejected."""
    import pytest as _pytest

    from blockchaintoavro_spark.operators.substr_sorted import (
        append_gram_counts,
        compact_gram_counts,
        duplicated_substrings_sorted,
        refresh_dup_dictionary,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    b1 = docs.filter(F.col("doc_id") < 60)
    b2 = docs.filter(F.col("doc_id") >= 60)
    store = str(tmp_path / "gram_store")
    dict_path = str(tmp_path / "dup_dict")
    append_gram_counts(b1, store, k=15)
    append_gram_counts(b2, store, k=15)
    n = refresh_dup_dictionary(spark, store, dict_path, min_docs=2)
    from blockchaintoavro_spark.operators.substr_sorted import (
        read_dup_dictionary,
    )

    got = {r["sub"] for r in read_dup_dictionary(spark, dict_path).collect()}
    want = {
        r["sub"]
        for r in duplicated_substrings_sorted(docs, k=15, min_docs=2)
        .select("sub")
        .collect()
    }
    assert got == want and n == len(want) > 0

    # compaction merges deltas; the derived dictionary is unchanged
    stats = compact_gram_counts(spark, store, n_files=2)
    assert stats["rows_after"] < stats["rows_before"]
    refresh_dup_dictionary(spark, store, dict_path, min_docs=2)
    assert {
        r["sub"] for r in read_dup_dictionary(spark, dict_path).collect()
    } == want

    # appending at a different k must refuse (silent count corruption)
    with _pytest.raises(ValueError, match="was built with"):
        append_gram_counts(b1, store, k=20)

    # and the counts themselves stay exact across the merge: a spot
    # check that total mass equals the full-corpus detection's counts
    full = {
        (r["sub"], r["n_docs"])
        for r in duplicated_substrings_sorted(docs, k=15, min_docs=1).collect()
    }
    from blockchaintoavro_spark.operators.substr_sorted import (
        read_gram_counts,
    )

    merged = {
        (r["sub"], r["n_docs"])
        for r in read_gram_counts(spark, store).collect()
    }
    assert merged == full


def test_ivf_rebuild_from_own_vectors_closes_drift_loop(spark, sf_dir, tmp_path):
    """rebuild_ivf_index retrains the quantizer from the assignments
    table itself (no corpus access): the vector set is preserved, the
    rebuilt quantizer fits the grown index better (post-rebuild running
    mean distance <= the drifted pre-rebuild mean), and full-probe
    queries stay exact."""
    from blockchaintoavro_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf,
        read_ivf_assignments,
        read_ivf_stats,
        rebuild_ivf_index,
        topk_per_query,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    idx = str(tmp_path / "ivf_rebuild")
    build_ivf_index(emb.filter(F.col("vec_id") < 100), idx, n_centroids=16)
    append_to_ivf_index(idx, emb.filter(F.col("vec_id") >= 100))
    drifted = read_ivf_stats(spark, idx)
    ids_before = {
        r["neighbor_id"]
        for r in read_ivf_assignments(spark, idx)
        .select("neighbor_id").collect()
    }
    rebuild_ivf_index(spark, idx, n_centroids=16)
    ids_after = {
        r["neighbor_id"]
        for r in read_ivf_assignments(spark, idx)
        .select("neighbor_id").collect()
    }
    assert ids_after == ids_before and len(ids_after) == 200
    rebuilt = read_ivf_stats(spark, idx)
    assert rebuilt[0] == 200
    # quantizer trained on ALL 200 fits at least as well as the one
    # trained on the first 100 measured over the same 200 vectors
    assert rebuilt[1] / 200 <= drifted[1] / 200 + 1e-9
    # probing every list stays exact after the rebuild
    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        (r.q_id, r.neighbor_id)
        for r in query_ivf(spark, idx, q, k=3, nprobe=16).collect()
    )
    exact = sorted(
        (r.q_id, r.neighbor_id) for r in topk_per_query(emb, q, k=3).collect()
    )
    assert got == exact


def test_centroid_scores_broadcast_model_large_k(spark):
    """r10 VERDICT note (similarity.py:_centroid_scores): past
    _CENTROID_LITERAL_MAX_K the centroid matrix must ride a one-row
    broadcast model frame instead of an O(K*dim) literal in the main
    expression tree. Results identical to the literal path; at K=1024
    the plan binds the matrix ONCE (one sentinel occurrence), joins it
    as a one-row broadcast, and never shuffles the corpus."""
    import blockchaintoavro_spark.operators.similarity as sim

    dim = 8
    rows = [
        (i, [float((i * j) % 7 - 3) + 0.1 for j in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # exact equality just above the threshold: model path == literal
    k = sim._CENTROID_LITERAL_MAX_K + 6
    cents = [
        [float((c * j) % 5 - 2) + 0.25 for j in range(dim)] for c in range(k)
    ]
    pick = lambda: sorted(
        map(tuple, sim._assign_with_dist(df, cents, "vec_id", "embedding")
            .select("neighbor_id", "cid", "_dist").collect())
    )
    got = pick()
    old_max = sim._CENTROID_LITERAL_MAX_K
    sim._CENTROID_LITERAL_MAX_K = 10 ** 9  # force the literal path
    try:
        want = pick()
    finally:
        sim._CENTROID_LITERAL_MAX_K = old_max
    assert got == want and len(got) == 40

    # K=1024: matrix bound once, broadcast one-row join, zero shuffles
    sentinel = 123456.789
    cents_big = [
        [
            sentinel if (c == 500 and j == 0) else float((c + j) % 3) + 0.5
            for j in range(dim)
        ]
        for c in range(1024)
    ]
    out = sim._assign_with_dist(df, cents_big, "vec_id", "embedding")
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert p.count("123456.789") == 1
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "Exchange hashpartitioning" not in p
    assert out.count() == 40  # analyzes and executes fine at K=1024


def test_ivf_and_ivfpq_compaction_preserves_results(spark, sf_dir, tmp_path):
    """compact_ivf_index / compact_ivfpq_index: per-append segments fold
    into one cid-partitioned segment behind a manifest commit — query
    results, row counts and drift stats are unchanged; the live file
    count drops; a subsequent append still works."""
    from blockchaintoavro_spark.operators import manifest as mfmod
    from blockchaintoavro_spark.operators import similarity as sim
    from blockchaintoavro_spark.operators.pq import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_index,
        query_ivfpq,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 160"
    )
    q = emb.filter("vec_id < 8")
    res = lambda df: sorted((r.q_id, r.neighbor_id) for r in df.collect())

    idx = str(tmp_path / "ivf_compact")
    sim.build_ivf_index(emb.filter("vec_id < 80"), idx, n_centroids=8)
    for lo in (80, 120):
        sim.append_to_ivf_index(
            idx, emb.filter(f"vec_id >= {lo} and vec_id < {lo + 40}")
        )
    before = res(sim.query_ivf(spark, idx, q, k=3, nprobe=8))
    stats_before = sim.read_ivf_stats(spark, idx)
    out = sim.compact_ivf_index(spark, idx, n_files=2)
    assert out["files_after"] < out["files_before"]
    assert out["rows"] == 160
    assert res(sim.query_ivf(spark, idx, q, k=3, nprobe=8)) == before
    assert sim.read_ivf_stats(spark, idx) == stats_before
    gen, man = mfmod.latest_manifest(spark, idx)
    assert len(man["segments"]) == 1
    sim.append_to_ivf_index(idx, emb.limit(0))  # still appendable

    pidx = str(tmp_path / "ivfpq_compact")
    build_ivfpq_index(
        emb.filter("vec_id < 80"), pidx, n_centroids=8, m=4, n_codes=8
    )
    for lo in (80, 120):
        append_to_ivfpq_index(
            pidx, emb.filter(f"vec_id >= {lo} and vec_id < {lo + 40}")
        )
    pbefore = res(query_ivfpq(spark, pidx, q, k=3, nprobe=8))
    pstats = sim.read_ivf_stats(spark, pidx)
    pout = compact_ivfpq_index(spark, pidx, n_files=2)
    assert pout["files_after"] < pout["files_before"]
    assert pout["rows"] == 160
    assert res(query_ivfpq(spark, pidx, q, k=3, nprobe=8)) == pbefore
    assert sim.read_ivf_stats(spark, pidx) == pstats


def test_pq_books_broadcast_model_large_model(spark, sf_dir):
    """r11: past _BOOKS_LITERAL_MAX_FLOATS the PQ/IVFADC codebooks (and
    the IVFADC coarse centroids) ride a one-row broadcast model frame.
    Encodes are bit-identical to the literal path, and at a
    production-sized model the plan carries the matrix once with no
    corpus shuffle."""
    import blockchaintoavro_spark.operators.pq as pqm
    from blockchaintoavro_spark.operators.pq import (
        ivfpq_encode,
        pq_encode,
        train_ivfpq,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 60"
    )
    cents, books = train_ivfpq(emb, n_centroids=4, m=4, n_codes=4, n_iters=1)

    rows = lambda df: sorted(
        (r[0], tuple(r[1]), round(r[2], 9)) for r in df.collect()
    )
    ivf_rows = lambda df: sorted(
        (r[0], r[1], tuple(r[2]), round(r[3], 9)) for r in df.collect()
    )
    lit_pq = rows(pq_encode(emb, books))
    lit_ivf = ivf_rows(ivfpq_encode(emb, cents, books))
    old = pqm._BOOKS_LITERAL_MAX_FLOATS
    pqm._BOOKS_LITERAL_MAX_FLOATS = 0  # force the model path
    try:
        assert rows(pq_encode(emb, books)) == lit_pq
        assert ivf_rows(ivfpq_encode(emb, cents, books)) == lit_ivf
    finally:
        pqm._BOOKS_LITERAL_MAX_FLOATS = old

    # production-sized model (16 x 64 x 16 = 16384 floats > gate):
    # r16 — the codebook floats ride the Arrow UDF's task closure
    # (broadcast once by Spark's task machinery), so the sentinel must
    # appear ZERO times in the plan (no O(model) literal tree at all);
    # only the small squared-norm table still rides the broadcast model
    # frame, and the corpus is never shuffled
    sentinel = 987654.321
    big_books = [
        [
            [sentinel if (s, j, x) == (3, 17, 0) else float((s + j + x) % 5) + 0.5
             for x in range(16)]
            for j in range(64)
        ]
        for s in range(16)
    ]
    out = pq_encode(emb, big_books)
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert p.count("987654.321") == 0
    assert "ArrowEvalPython" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "Exchange hashpartitioning" not in p
    assert out.count() == 60


def test_embedding_decontaminate_known_answer_and_plan(spark):
    """Paraphrase-level decontamination: a corpus row equal (or nearly
    equal) to a benchmark vector is flagged and dropped; unrelated rows
    survive; the benchmark broadcasts and the corpus never shuffles."""
    from blockchaintoavro_spark.operators.similarity import (
        embedding_contamination_hits,
    )

    bench = spark.createDataFrame(
        [(900, [1.0, 0.0, 0.0, 0.0]), (901, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),      # verbatim copy of 900
            (2, [0.9, 0.1, 0.0, 0.0]),      # near-paraphrase of 900
            (3, [0.0, 0.0, 1.0, 0.0]),      # clean (orthogonal)
            (4, [0.0, -1.0, 0.0, 0.0]),     # clean (opposite of 901)
        ],
        "vec_id long, embedding array<double>",
    )
    hits = embedding_contamination_hits(corpus, bench, threshold=0.95)
    got = {(r["vec_id"], r["bench_id"]) for r in hits.collect()}
    assert got == {(1, 900), (2, 900)}
    hit_ids = hits.select("vec_id").distinct()
    kept = sorted(
        r["vec_id"]
        for r in corpus.join(hit_ids, "vec_id", "left_anti").collect()
    )
    assert kept == [3, 4]

    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        hits._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "Exchange hashpartitioning" not in p  # corpus never shuffles


def test_embedding_decontaminate_size_gate_lsh_path_same_hits(spark):
    """r11 VERDICT #3: above ``broadcast_max_rows`` the decontamination
    plan degrades to the LSH candidate join + the same exact rounded
    threshold filter instead of broadcasting a corpus-sized
    "benchmark". Gate forced to 1 row here: both paths must return the
    SAME hits and the same surviving corpus, and the gated plan must be
    an equi-join (no nested loop against an unbroadcastable side)."""
    from blockchaintoavro_spark.operators.similarity import (
        embedding_contamination_hits,
    )

    bench = spark.createDataFrame(
        [(900, [1.0, 0.0, 0.0, 0.0]), (901, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, -1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    want = {
        (r["vec_id"], r["bench_id"], r["sim"])
        for r in embedding_contamination_hits(
            corpus, bench, threshold=0.95
        ).collect()
    }
    gated = embedding_contamination_hits(
        corpus, bench, threshold=0.95, broadcast_max_rows=1, dim=4
    )
    got = {(r["vec_id"], r["bench_id"], r["sim"]) for r in gated.collect()}
    assert got == want == {(1, 900, 1.0), (2, 900, 0.9939)}
    hit_ids = gated.select("vec_id").distinct()
    kept = sorted(
        r["vec_id"]
        for r in corpus.join(hit_ids, "vec_id", "left_anti").collect()
    )
    assert kept == [3, 4]
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        gated._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_jsonl_quarantine_and_failfast(spark, tmp_path):
    """read_jsonl: mangled lines land in _corrupt_record with data
    columns NULL (the pipeline counts and routes them); clean rows
    parse; quarantine=False raises on the first bad line."""
    import pytest as _pytest

    from blockchaintoavro_spark.sources.jsonl import (
        corrupt_lines,
        read_jsonl,
        write_jsonl,
    )

    path = str(tmp_path / "jl")
    good = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    write_jsonl(good.coalesce(1), path)
    # drop a mangled line into the directory as its own file (a raw
    # file has no Hadoop .crc sidecar, so only the JSON parse fails)
    with open(f"{path}/extra.json", "w") as fh:
        fh.write('{"doc_id": 3, "text": BROKEN\n')

    df = read_jsonl(spark, path, "doc_id long, text string")
    assert df.filter("doc_id IS NOT NULL").count() == 2
    bad = corrupt_lines(df).collect()
    assert len(bad) == 1 and "BROKEN" in bad[0]["_corrupt_record"]
    assert bad[0]["doc_id"] is None  # data columns NULL on quarantine

    with _pytest.raises(Exception, match="FAILFAST|Malformed|corrupt"):
        read_jsonl(
            spark, path, "doc_id long, text string", quarantine=False
        ).collect()


def test_jsonl_schema_object_not_mutated_across_reads(spark, tmp_path):
    """ADVICE r11 #1: read_jsonl must not mutate the caller's
    StructType in place — reusing ONE schema object across reads used
    to accumulate duplicate _corrupt_record fields and silently alter
    the caller's schema for later writes."""
    from pyspark.sql import types as T

    from blockchaintoavro_spark.sources.jsonl import (
        CORRUPT_COL,
        read_jsonl,
        write_jsonl,
    )

    path = str(tmp_path / "jl")
    write_jsonl(
        spark.createDataFrame([(1, "a")], "doc_id long, text string"), path
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    for _ in range(3):  # three reads with the SAME schema object
        df = read_jsonl(spark, path, schema)
        assert df.columns.count(CORRUPT_COL) == 1
    assert [f.name for f in schema.fields] == ["doc_id", "text"]


def test_jsonl_all_lines_corrupt_is_total(spark, tmp_path):
    """The sf-independent totality contract (r11 VERDICT #5): a file
    where EVERY line is mangled must quarantine every row — no
    QUERY_ONLY_CORRUPT_RECORD_COLUMN error, no schema-inference crash,
    count preserved end to end."""
    from blockchaintoavro_spark.sources.jsonl import (
        corrupt_lines,
        read_jsonl,
    )

    path = str(tmp_path / "jl_all_bad")
    import os

    os.makedirs(path)
    with open(f"{path}/dump.json", "w") as fh:
        for i in range(5):
            fh.write(f'{{"doc_id": {i}, "text": MANGLED {i}\n')

    df = read_jsonl(spark, path, "doc_id long, text string")
    # NB: count() straight off the scan would reference no data column
    # and trip QUERY_ONLY_CORRUPT_RECORD_COLUMN — counting a data-column
    # projection is the supported path (read_jsonl docstring)
    assert df.select("doc_id").count() == 5
    assert df.filter("doc_id IS NOT NULL").select("doc_id").count() == 0
    rows = corrupt_lines(df).collect()
    assert len(rows) == 5
    assert all(r["doc_id"] is None and r["text"] is None for r in rows)
    assert sorted(r["_corrupt_record"] for r in rows) == sorted(
        f'{{"doc_id": {i}, "text": MANGLED {i}' for i in range(5)
    )


def test_lsh_dim_inference_and_mismatch_guard(spark):
    """ADVICE r12 #2: a dim that disagrees with the data must raise
    loudly, never silently NULL every dot product into bucket 0 (which
    degenerates the (table_id, bucket) equi-join into a cross product).
    dim=None infers from the data; ragged vectors raise in the task."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from blockchaintoavro_spark.operators.similarity import (
        embedding_simhash64,
        infer_embedding_dim,
        neardup_pairs_lsh,
        with_lsh_bucket,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 1.0, 0.5]) for i in range(6)],
        "vec_id int, embedding array<double>",
    )
    # inference resolves the true dim
    assert infer_embedding_dim(emb, "embedding", None, "t") == 4
    # explicit-but-wrong dim raises at plan-build time
    with pytest.raises(ValueError, match="dim=64 does not match"):
        neardup_pairs_lsh(emb, dim=64)
    with pytest.raises(ValueError, match="does not match"):
        with_lsh_bucket(emb, dim=7)
    with pytest.raises(ValueError, match="does not match"):
        embedding_simhash64(emb, dim=3)
    # inferred path produces sane buckets (not everything in bucket 0)
    got = with_lsh_bucket(emb).select("bucket").distinct().count()
    assert got >= 2
    # a RAGGED vector (first row fine, later row mismatched) raises in
    # the task rather than posting to bucket 0 of every table
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0])],
        "vec_id int, embedding array<double>",
    ).repartition(1)
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)) as ei:
        with_lsh_bucket(ragged, dim=4).collect()
    assert "!= hyperplane dim 4" in str(ei.value)
    # NULL vectors keep the pre-r13 contract: no postings, no error
    withnull = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, None)],
        "vec_id int, embedding array<double>",
    )
    rows = with_lsh_bucket(withnull, dim=4).collect()
    assert len(rows) == 2


def test_rotated_range_read_prunes_probe_proportionally(spark, tmpdir):
    """r14 (VERDICT r13 missing #2): a time-range probe over rotated
    output lists/reads ONLY the windows whose derived span intersects
    it — counts match the full-scan filter, edge windows are bounded
    row-level, an empty span refuses the read, and the OCF reader's
    partition_values glob never touches pruned directories."""
    from blockchaintoavro_spark.operators.rotation import (
        prune_rotated,
        read_rotated_range,
    )

    b = load_blocks(spark).select("ingest_id", "block_id", "timestamp")
    write_rotated(b, tmpdir, rotation_seconds=600)
    r = b.agg(
        F.min("timestamp").alias("mn"), F.max("timestamp").alias("mx")
    ).first()
    mn, mx = int(r["mn"]), int(r["mx"])
    lo, hi = mn + (mx - mn) // 4, mn + (mx - mn) // 2
    kept, total = prune_rotated(spark, tmpdir, lo, hi, 600)
    assert 0 < len(kept) < total
    assert all((lo // 1000) // 600 <= w <= (hi // 1000) // 600 for w in kept)
    got = sorted(
        r["ingest_id"]
        for r in read_rotated_range(
            spark, tmpdir, lo, hi, 600, "timestamp"
        ).collect()
    )
    want = sorted(
        r["ingest_id"]
        for r in b.filter(
            (F.col("timestamp") >= lo) & (F.col("timestamp") <= hi)
        ).collect()
    )
    assert got == want and got
    # unbounded probes keep everything
    k_all, t_all = prune_rotated(spark, tmpdir, None, None, 600)
    assert len(k_all) == t_all == total
    # a probe before all data has no matching window: refuse the read
    with pytest.raises(ValueError, match="no rotation window"):
        read_rotated_range(spark, tmpdir, mn - 10_000_000, mn - 5_000_000)


def test_rotated_window_span_matches_spark_div_on_negatives(spark):
    """Window-span math must reproduce Spark's DIV (truncation toward
    zero), not Python floor division — they disagree on pre-epoch
    timestamps, which would mis-derive the pruning span."""
    from blockchaintoavro_spark.operators.rotation import (
        rotated_window_span,
    )

    probes = [-1_500_000, -999, -1, 0, 1, 999, 1_500_000, 600_000]
    rows = spark.createDataFrame(
        [(p,) for p in probes], "ts long"
    ).selectExpr("ts", "(ts DIV 1000) DIV 600 AS w").collect()
    for r in rows:
        lo, hi = rotated_window_span(r["ts"], r["ts"], 600)
        assert lo == hi == r["w"], (r["ts"], lo, r["w"])


def test_prune_rotated_skips_null_partition_dir(spark, tmpdir):
    """r14 review fix: rows with a NULL event time land in the Hive
    default partition; its directory must not crash every range probe
    against the sink (a NULL timestamp can never match a range bound,
    so skipping it is also the sound prune)."""
    import os

    from blockchaintoavro_spark.operators.rotation import (
        prune_rotated,
        read_rotated_range,
    )

    b = load_blocks(spark).select("ingest_id", "timestamp").limit(50)
    write_rotated(b, tmpdir, rotation_seconds=600)
    os.makedirs(f"{tmpdir}/window_id=__HIVE_DEFAULT_PARTITION__")
    r = b.agg(
        F.min("timestamp").alias("mn"), F.max("timestamp").alias("mx")
    ).first()
    kept, total = prune_rotated(spark, tmpdir, int(r["mn"]), int(r["mx"]))
    assert kept and total == len(kept)  # the NULL dir is not a window
    got = read_rotated_range(
        spark, tmpdir, int(r["mn"]), int(r["mx"]), 600, "timestamp"
    ).count()
    assert got == 50
