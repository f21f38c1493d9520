"""Extended LLM-data-pipeline declared queries (SURVEY §2.7, DQ-31..33 +
training-data ops mandated by BASELINE.json): dedup family, similarity
search, text analysis, multimodal plumbing.

Oracle-less entries (MinHash/SimHash/LSH — engine-defined hash functions
DuckDB can't reproduce) get rows-only driver checks; their quality is
asserted in tests/ (recall vs the exact oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import EN_STOPWORDS, tokens
from ..operators.dedup import (
    contamination_hits,
    dedup_clusters,
    exact_jaccard_pairs,
    minhash_candidate_pairs,
    simhash64,
)
from ..operators.similarity import ann_topk_lsh, topk_per_query
from ..session import tiny_df
from ._util import dbl, psort, t
from .registry import declare

# ---------------------------------------------------------------------------
# similarity search (X3)


@declare(
    "dq31_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS s
      FROM q, embeddings e WHERE e.vec_id <> q.q_id
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rn
      FROM c
    )
    SELECT q_id, neighbor_id, CAST(CAST(ROUND(s, 4) AS DECIMAL(38,4)) AS DOUBLE) AS sim
    FROM r WHERE rn <= 3 ORDER BY q_id, neighbor_id
    """,
    bench=True,
)
def dq31(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-3 for query vectors vec_id<5 — scale-safe partial
    top-k operator (operators/similarity.py): broadcast queries, partial
    per-partition top-k, tiny final merge."""
    emb = t(spark, sf, "embeddings")
    res = topk_per_query(
        emb, emb.filter(F.col("vec_id") < 5), k=3
    )
    return res.select(
        "q_id", "neighbor_id", dbl(F.col("sim")).alias("sim")
    ).orderBy("q_id", "neighbor_id")


@declare("x_ann_lsh_topk", oracle=None)
def x_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-3 via random-hyperplane LSH buckets (recall vs the
    exact path is test-checked; no SQL oracle — engine-defined hashing)."""
    emb = t(spark, sf, "embeddings")
    res = ann_topk_lsh(emb, emb.filter(F.col("vec_id") < 5), k=3)
    return res.select(
        "q_id", "neighbor_id", dbl(F.col("sim")).alias("sim")
    ).orderBy("q_id", "neighbor_id")


@declare("x_ann_ivf_topk", oracle=None)
def x_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-3 via IVF coarse quantization (Lloyd-trained
    centroids, nprobe posting-list probe, exact rerank). Recall vs the
    exact path is test-checked; no SQL oracle — engine-defined hashing."""
    from ..operators.similarity import ann_topk_ivf

    emb = t(spark, sf, "embeddings")
    res = ann_topk_ivf(emb, emb.filter(F.col("vec_id") < 5), k=3)
    return res.select(
        "q_id", "neighbor_id", dbl(F.col("sim")).alias("sim")
    ).orderBy("q_id", "neighbor_id")


@declare("x_pq_topk", oracle=None)
def x_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-3 over PRODUCT-QUANTIZED codes (operators/pq.py,
    Jégou et al. 2011): per-subspace Lloyd codebooks, 8-byte codes per
    64-dim vector (32× scan compression), per-query ADC lookup tables,
    shortlist + exact re-rank (ADC+R). Recall vs the exact path is
    test-checked; no SQL oracle — engine-defined iterative codebooks."""
    from ..operators.pq import pq_encode, pq_topk, pq_train

    emb = t(spark, sf, "embeddings")
    books = pq_train(emb, m=8, n_codes=16, n_iters=3)
    enc = pq_encode(emb, books)
    res = pq_topk(
        enc,
        emb.filter(F.col("vec_id") < 5),
        books,
        k=3,
        rerank_with=emb,
        shortlist=64,
    )
    return res.select(
        "q_id", "neighbor_id", dbl(F.col("sim")).alias("sim")
    ).orderBy("q_id", "neighbor_id")


@declare("x_ivfpq_topk", oracle=None)
def x_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC top-3 (operators/pq.py: IVF coarse lists + RESIDUAL-PQ
    codes + per-query ADC tables + shortlist/exact-rerank) — the
    production FAISS-style layout: the probe equi-join prunes to
    nprobe/n_centroids of the corpus and the scan reads 8-byte codes.
    Recall vs exact is test-checked (residual ADC beats global-PQ ADC
    at the same budget); no SQL oracle — iterative codebooks."""
    from ..operators.pq import ivfpq_encode, ivfpq_topk, train_ivfpq

    emb = t(spark, sf, "embeddings")
    cents, books = train_ivfpq(emb, n_centroids=16, m=8, n_codes=16)
    enc = ivfpq_encode(emb, cents, books)
    res = ivfpq_topk(
        enc,
        emb.filter(F.col("vec_id") < 5),
        cents,
        books,
        k=3,
        nprobe=6,
        rerank_with=emb,
        shortlist=48,
    )
    return res.select(
        "q_id", "neighbor_id", dbl(F.col("sim")).alias("sim")
    ).orderBy("q_id", "neighbor_id")


@declare("x_ivf_drift_rebuild", oracle=None)
def x_ivf_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming drift loop, batch-observable leg (operators/
    similarity.py:IvfIndexMaintainer — r10 VERDICT #3): build a 4-list
    IVF index on four clean synthetic clusters (vectors derived from
    ``embeddings.vec_id`` arithmetic), then maintain two ingests — one
    same-distribution (drift ratio ≈ 1 → no rebuild) and one from four
    NEW clusters (ratio ≫ threshold → exactly one rebuild, retraining
    the quantizer from the index's own stored vectors). Returns the
    per-batch maintenance ledger. Rows-only by design (Lloyd training
    is engine-defined); stream-equals-batch, single-rebuild and
    recall-recovery are pinned in tests/test_streaming.py."""
    import shutil
    import tempfile

    from ..operators.similarity import IvfIndexMaintainer, build_ivf_index

    ids = t(spark, sf, "embeddings").select("vec_id").filter(
        F.col("vec_id") < 160
    )
    i = F.col("vec_id")
    old_dom = (i % 4).cast("int")
    new_dom = (F.lit(32) + (i % 4)).cast("int")
    old_noise = (F.lit(8) + (i / 4).cast("long") % 4).cast("int")
    new_noise = (F.lit(16) + (i / 4).cast("long") % 8).cast("int")
    tilt = (i % 4).cast("int")

    def mkvec(dom, noise, tilt_dim):
        d = F.sequence(F.lit(0), F.lit(39))
        return F.transform(
            d,
            lambda j: (
                F.when(j == dom, F.lit(10.0)).otherwise(F.lit(0.0))
                + F.when(j == noise, F.lit(0.5)).otherwise(F.lit(0.0))
                + (
                    F.when(j == tilt_dim, F.lit(0.5)).otherwise(F.lit(0.0))
                    if tilt_dim is not None
                    else F.lit(0.0)
                )
            ),
        )

    base = ids.filter(i < 64).select(i.alias("vec_id"),
                                     mkvec(old_dom, old_noise, None)
                                     .alias("embedding"))
    same = ids.filter((i >= 64) & (i < 96)).select(
        i.alias("vec_id"), mkvec(old_dom, old_noise, None).alias("embedding")
    )
    shifted = ids.filter(i >= 96).select(
        i.alias("vec_id"), mkvec(new_dom, new_noise, tilt).alias("embedding")
    )
    idx = tempfile.mkdtemp(prefix="spark_graft_ivfdrift_")
    try:
        shutil.rmtree(idx, ignore_errors=True)
        build_ivf_index(base, idx, n_centroids=4, n_iters=2)
        m = IvfIndexMaintainer(idx, rebuild_threshold=1.3,
                               n_centroids=4, n_iters=2)
        ledger = []
        for b_no, batch in enumerate((same, shifted), start=1):
            d = m.maintain(batch)
            ledger.append((b_no, int(d["n_appended"]), bool(d["rebuilt"])))
        return tiny_df(
            spark, ledger, "batch long, n_appended long, rebuilt boolean"
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@declare(
    "x_embedding_neardup",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id < 200
    ), p AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             CAST(ROUND(list_cosine_similarity(a.e, b.e), 4) AS DECIMAL(38,4)) AS sim4
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT d1, d2, CAST(sim4 AS DOUBLE) AS sim
    FROM p WHERE sim4 >= 0.3
    ORDER BY d1, d2
    """,
)
def x_embnd(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim >= 0.3 among vec_id<200).
    Declared form is a bounded self-join; the scale path buckets by LSH
    first (x_embedding_neardup_lsh below). The threshold is applied to the
    4-dp-ROUNDed decimal on BOTH sides so pair membership can never flip
    on a last-ulp engine difference at the boundary (ADVICE r1)."""
    from ..functions.vectors import cosine_similarity

    v = (
        t(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    a = v.select(F.col("vec_id").alias("d1"), F.col("e").alias("e1"))
    b = v.select(F.col("vec_id").alias("d2"), F.col("e").alias("e2"))
    sim = cosine_similarity(F.col("e1"), F.col("e2"))
    return (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .withColumn("_s4", F.round(sim, 4).cast("decimal(38,4)"))
        .filter(F.col("_s4") >= 0.3)
        .select("d1", "d2", F.col("_s4").cast("double").alias("sim"))
        .orderBy("d1", "d2")
    )


@declare(
    "x_jsonl_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS content_sum
    FROM documents WHERE doc_id < 300
    GROUP BY lang ORDER BY lang
    """,
)
def x_jsonl(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL source/sink round-trip (sources/jsonl.py): 300 documents
    export to newline-delimited JSON (the interchange format crawl and
    annotation pipelines exchange) and read back with an EXPLICIT
    schema in quarantine mode; per-lang doc counts, token totals and a
    32-bit-md5 content checksum of the ROUNDTRIPPED text must
    hash-match DuckDB computing the same aggregates straight from the
    source table — i.e. the JSON escape/unescape preserved every byte
    and nothing was quarantined. Corrupt-line quarantine itself is
    test-pinned (tests/test_operators.py)."""
    import shutil
    import tempfile

    from ..sources.jsonl import CORRUPT_COL, read_jsonl, write_jsonl

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id", "lang", "text"
    )
    path = tempfile.mkdtemp(prefix="spark_graft_jsonl_")
    try:
        write_jsonl(d.coalesce(4), path)
        back = read_jsonl(
            spark, path, "doc_id long, lang string, text string"
        )
        out = (
            back.filter(F.col(CORRUPT_COL).isNull())
            .groupBy("lang")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum(F.size(F.split("text", " ")))
                .cast("long")
                .alias("n_tokens"),
                F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
                      .cast("long"))
                .cast("long")
                .alias("content_sum"),
            )
            .orderBy("lang")
        )
        return out.localCheckpoint()  # eager: tmp dir drops below
    finally:
        shutil.rmtree(path, ignore_errors=True)


@declare(
    "x_embedding_decontaminate",
    oracle="""
    WITH bench AS (
      SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id < 20
    ), corp AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id >= 20 AND vec_id < 400
    ), hits AS (
      SELECT c.vec_id, b.bench_id,
             CAST(ROUND(list_cosine_similarity(c.e, b.e), 4)
                  AS DECIMAL(38,4)) AS sim4
      FROM corp c JOIN bench b ON TRUE
    )
    SELECT vec_id, bench_id, CAST(sim4 AS DOUBLE) AS sim
    FROM hits WHERE sim4 >= 0.3
    ORDER BY vec_id, bench_id
    """,
)
def x_emb_decon(spark: SparkSession, sf: str) -> DataFrame:
    """PARAPHRASE-level benchmark decontamination (operators/
    similarity.py:embedding_contamination_hits): the first 20 vectors
    stand in for an eval suite, the next 380 for the corpus; every
    corpus row within rounded cosine 0.3 of any benchmark item is
    flagged with the item it hits. The benchmark side broadcasts and
    the corpus never shuffles (plan-asserted); the threshold compares
    on the 4-dp decimal on both sides so membership can't flip at the
    boundary. Decontaminating the corpus is a left anti-join on these
    ids."""
    from ..operators.similarity import embedding_contamination_hits

    emb = t(spark, sf, "embeddings")
    bench = emb.filter(F.col("vec_id") < 20)
    corp = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 400))
    # psort: the r16 Arrow-batched rerank puts a Python stage under this
    # presentation sort — barrier it so the range sampler reads shuffle
    # files instead of re-scoring every pair (plans/_util.psort)
    return psort(
        embedding_contamination_hits(corp, bench, 0.3), "vec_id", "bench_id"
    )


@declare(
    "x_quantize_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 100
    ), s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
      FROM e
    )
    SELECT vec_id,
           CAST(CAST(ROUND(sc, 6) AS DECIMAL(38,6)) AS DOUBLE) AS qscale,
           list_transform(v, x -> CASE WHEN sc = 0 THEN 0
                                       ELSE CAST(round(x / sc) AS INTEGER)
                                  END) AS q
    FROM s ORDER BY vec_id
    """,
)
def x_quant(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 embedding quantization
    (operators/similarity.py:quantize_embeddings) — the 4× storage cut
    for 100 TB embedding tables; row-local HOFs, zero shuffle."""
    from ..operators.similarity import quantize_embeddings

    emb = t(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    return quantize_embeddings(emb).orderBy("vec_id")


@declare("x_embedding_neardup_lsh", oracle=None)
def x_embnd_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Scale path for embedding near-dup: LSH bucket join over the WHOLE
    embeddings table (no vec_id bound) — candidates from (table, bucket)
    equi-joins, exact cosine rerank. Engine-defined bucketing → rows-only
    driver check; recall vs the exact form and the no-nested-loop plan are
    test-asserted (tests/test_operators.py, tests/test_plans.py)."""
    from ..operators.similarity import neardup_pairs_lsh

    emb = t(spark, sf, "embeddings")
    # psort: the r16 Arrow-batched rerank is a Python stage — barrier it
    # so the presentation sort cannot re-run the million-pair scoring
    return psort(neardup_pairs_lsh(emb, threshold=0.3), "d1", "d2")


# ---------------------------------------------------------------------------
# text analysis (X4)


@declare(
    "dq32_token_topk",
    oracle="""
    SELECT tk AS token, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS tk FROM documents)
    GROUP BY tk ORDER BY n DESC, tk LIMIT 20
    """,
    bench=True,
)
def dq32a(spark: SparkSession, sf: str) -> DataFrame:
    """Global top-20 token counts — explode + two-phase hash agg + top-k
    (TakeOrderedAndProject; no global sort)."""
    d = t(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@declare(
    "dq32_token_topk_en",
    oracle="""
    SELECT tk AS token, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS tk
          FROM documents WHERE lang = 'en')
    GROUP BY tk ORDER BY n DESC, tk LIMIT 20
    """,
)
def dq32b(spark: SparkSession, sf: str) -> DataFrame:
    """Language-filtered variant (filter pushed below the explode)."""
    d = t(spark, sf, "documents").filter(F.col("lang") == "en")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"


@declare(
    "x_tfidf_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS term
      FROM documents WHERE doc_id < 50
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
    ), s AS (
      SELECT tf.doc_id, tf.term,
             CAST(CAST(ROUND(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df))
                                      + 1.0), 4)
                       AS DECIMAL(38,4)) AS DOUBLE) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), r AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM s
    )
    SELECT doc_id, rn, term, tfidf FROM r
    WHERE rn <= 3 ORDER BY doc_id, rn
    """,
)
def x_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/quality.py:tfidf_topk,
    smooth idf). The 4-dp-rounded score is the ranking key on BOTH sides
    (term tiebreak), so boundary ordering can never diverge."""
    from ..operators.quality import tfidf_topk

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return tfidf_topk(d, k=3).orderBy("doc_id", "rn")


@declare(
    "x_text_quality",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, n_chars, string_split(lower(text), ' ') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           n_chars,
           CAST(CAST(ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 4)
                     AS DECIMAL(38,4)) AS DOUBLE) AS distinct_ratio,
           CAST(CAST(ROUND(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
                           * 1.0 / len(toks), 4) AS DECIMAL(38,4)) AS DOUBLE) AS stopword_ratio
    FROM s ORDER BY doc_id
    """,
)
def x_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-scoring signals: token count, distinct-token ratio, stopword
    ratio — narrow HOF expressions, no shuffle."""
    d = t(spark, sf, "documents")
    toks = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n = F.size(toks)
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        "n_chars",
        dbl(F.size(F.array_distinct(toks)) / n).alias("distinct_ratio"),
        dbl(
            F.size(F.filter(toks, lambda x: F.array_contains(stop, x))) / n
        ).alias("stopword_ratio"),
    ).orderBy("doc_id")


@declare(
    "x_lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
             * 1.0 / len(toks) >= 0.05 AS en_pred
    FROM s ORDER BY doc_id
    """,
)
def x_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic language ID: English-stopword hit-ratio threshold (the
    declared, oracle-checkable core of an n-gram language model)."""
    d = t(spark, sf, "documents")
    toks = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    ratio = F.size(F.filter(toks, lambda x: F.array_contains(stop, x))) / F.size(toks)
    return d.select("doc_id", "lang", (ratio >= 0.05).alias("en_pred")).orderBy(
        "doc_id"
    )


@declare(
    "x_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS digest, octet_length(encode(text)) AS n_bytes
    FROM documents ORDER BY doc_id
    """,
)
def x_fp(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint (md5 hex) + byte length — also the multimodal
    binary-column metadata pattern (BinaryType payload + typed metadata,
    same shape as the reference's *_script_bytes, BQRow.avsc:6,20)."""
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.octet_length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# dedup family (X1/X2)


@declare(
    "x_exact_dedup",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS digest FROM documents)
    SELECT digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM h GROUP BY digest ORDER BY keep_id
    """,
)
def x_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact content dedup: hash-groupBy, deterministic min-id winner."""
    d = t(spark, sf, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
        .orderBy("keep_id")
    )


@declare(
    "dq33_jaccard_pairs",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(lower(text), ' ')) AS tk
      FROM documents WHERE doc_id < 100
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(CAST(ROUND(c * 1.0 / (s1.n + s2.n - c), 4) AS DECIMAL(38,4))
                AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz s1 ON s1.doc_id = d1
    JOIN sz s2 ON s2.doc_id = d2
    WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.4
    ORDER BY d1, d2
    """,
)
def dq33(spark: SparkSession, sf: str) -> DataFrame:
    """Exact token-set Jaccard pairs (>= 0.4 among doc_id < 100) — the
    near-dup ground truth the MinHash path is measured against."""
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    pairs = exact_jaccard_pairs(d, threshold=0.4)
    return pairs.select(
        "d1", "d2", dbl(F.col("jaccard")).alias("jaccard")
    ).orderBy("d1", "d2")


@declare(
    "x_dedup_clusters",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(lower(text), ' ')) AS tk
      FROM documents WHERE doc_id < 100
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT d1, d2 FROM inter
      JOIN sz s1 ON s1.doc_id = d1
      JOIN sz s2 ON s2.doc_id = d2
      WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.4
    ), edges AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL
      SELECT d2 AS src, d1 AS dst FROM pairs
    ), reach AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label
      FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
    bench=True,  # r3 VERDICT #2: iterative dedup graph op needs a wall-clock row
)
def x_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the dq33
    exact-Jaccard pair graph (operators/dedup.py:dedup_clusters,
    min-label propagation) — the keep-one-per-cluster step after pair
    generation. Oracle: DuckDB recursive CTE computing min reachable id."""
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    pairs = exact_jaccard_pairs(d, threshold=0.4)
    return dedup_clusters(pairs).orderBy("doc_id")


@declare(
    "x_decontaminate",
    oracle="""
    WITH g AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents),
           UNNEST(range(1, len(toks)-5+2)) AS t(i)
    ), chk AS (
      SELECT DISTINCT doc_id, g FROM g WHERE doc_id < 100
    ), cont AS (
      SELECT DISTINCT g FROM g WHERE doc_id >= 100 AND doc_id % 7 = 0
    )
    SELECT chk.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM chk JOIN cont USING (g)
    GROUP BY 1 ORDER BY 1
    """,
)
def x_decon(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:contamination_hits):
    docs sharing any word n-gram with a contaminant corpus, with distinct
    shared-gram counts. n=5 here so the synthetic fixture shows signal;
    the operator default is the conventional 13. The contaminant side is
    collapsed to a distinct gram set and broadcast — the corpus side
    probes it shuffle-free; only the per-doc count shuffles."""
    d = t(spark, sf, "documents")
    chk = d.filter(F.col("doc_id") < 100)
    cont = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") % 7 == 0))
    return contamination_hits(chk, cont, n=5).orderBy("doc_id")


@declare(
    "x_dup_substrings",
    bench=True,  # r5 VERDICT #4: round-over-round visibility for the new surface
    oracle="""
    WITH pos AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 20) AS sub
      FROM documents,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
      WHERE doc_id < 100
    ), d AS (SELECT DISTINCT doc_id, sub FROM pos)
    SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM d GROUP BY sub HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, sub
    """,
)
def x_dup_substrings(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring duplication (Lee et al. 2022's verbatim-span
    signal, operators/dedup.py:duplicated_substrings): 20-char windows
    appearing in ≥2 distinct docs. Per-doc distinct BEFORE the count
    bounds the gram shuffle; the hash_only=True twin carries 8-byte
    fingerprints instead of strings at corpus scale (collision-scrub
    tested in tests/test_operators.py)."""
    from ..operators.dedup import duplicated_substrings

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return duplicated_substrings(d, k=20).orderBy(F.desc("n_docs"), "sub")


@declare(
    "x_strip_dup_spans",
    oracle="""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
    pos AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             substring(text, CAST(i AS INT), 20) AS sub
      FROM docs,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
    ),
    dd AS (SELECT DISTINCT doc_id, sub FROM pos),
    dup AS (SELECT sub FROM dd GROUP BY sub HAVING COUNT(*) >= 2),
    spans AS (SELECT doc_id, p AS s, p + 19 AS e FROM pos JOIN dup USING (sub)),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM spans
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    ),
    merged AS (
      SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
      FROM isl GROUP BY doc_id, island
    ),
    pieces AS (
      SELECT doc_id, s AS ord,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS gs,
             s - 1 AS ge
      FROM merged
      UNION ALL
      SELECT doc_id, 2147483647 AS ord, MAX(e) + 1 AS gs, 2147483646 AS ge
      FROM merged GROUP BY doc_id
    ),
    joined AS (
      SELECT p.doc_id, p.ord,
             substring(d.text, p.gs, greatest(p.ge - p.gs + 1, 0)) AS piece
      FROM pieces p JOIN docs d USING (doc_id)
    ),
    stripped AS (
      SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
      FROM joined GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.clean_text, d.text) AS clean_text,
           CAST(length(d.text) - length(COALESCE(s.clean_text, d.text)) AS BIGINT)
             AS n_stripped
    FROM docs d LEFT JOIN stripped s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def x_strip_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Verbatim-span STRIPPING (operators/dedup.py:strip_duplicated_spans)
    — the remediation step after Lee-et-al detection: maximal runs of
    cross-doc-duplicated 20-char windows are CUT from the text (interval
    merge via one gaps-and-islands window, kept text rebuilt by a single
    aggregate HOF — all Catalyst, no Python). The oracle rebuilds the
    same text with LAG-segment substrings + ordered string_agg, so any
    off-by-one in span boundaries, island merging or tail handling
    diverges the hash."""
    from ..operators.dedup import strip_duplicated_spans

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 80)
    return psort(strip_duplicated_spans(d, k=20), "doc_id")


@declare(
    "x_dup_substrings_sorted",
    oracle="""
    WITH pos AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 20) AS sub
      FROM documents,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
      WHERE doc_id < 100
    ), d AS (SELECT DISTINCT doc_id, sub FROM pos),
    dups AS (
      SELECT sub, COUNT(*) AS c FROM d GROUP BY sub HAVING COUNT(*) >= 2
    )
    SELECT CAST(c AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM dups GROUP BY c ORDER BY n_docs
    """,
)
def x_dup_substrings_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-gram substring-dup detection (r6 VERDICT #2,
    operators/substr_sorted.py): the suffix-array-flavored plan — packed
    sorted fingerprint runs through ONE small Exchange instead of a
    shuffle row per character position. Fingerprints are engine-side
    xxhash64, so the oracle checks the DISTRIBUTION: number of
    duplicated grams per distinct-doc count, which the verbatim DuckDB
    rebuild reproduces exactly unless detection misses/invents a gram
    (64-bit collisions are absent at this scale; twin equality with the
    Catalyst hashed plan is test-asserted besides)."""
    from ..operators.dedup import duplicated_substrings

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return (
        duplicated_substrings(d, k=20, hash_only=True, plan="sorted_gram")
        .groupBy("n_docs")
        .agg(F.count("*").alias("n_grams"))
        .orderBy("n_docs")
    )


@declare(
    "x_incremental_gram_dict",
    oracle="""
    WITH pos AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 20) AS sub
      FROM documents,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
      WHERE doc_id < 100
    ), d AS (SELECT DISTINCT doc_id, sub FROM pos),
    dups AS (
      SELECT sub, COUNT(*) AS c FROM d GROUP BY sub HAVING COUNT(*) >= 2
    )
    SELECT CAST(c AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM dups GROUP BY c ORDER BY n_docs
    """,
)
def x_inc_gram(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL substring detection equals full detection, driver-
    checked (operators/substr_sorted.py:append_gram_counts — r10): the
    corpus arrives as TWO disjoint ingests (even/odd doc_ids < 100),
    each appending only its own per-gram distinct-doc counts to an
    LSM-shaped standing store; the duplicated-gram distribution derived
    from the SUMMED deltas must hash-match the oracle's single-shot
    verbatim detection over the whole corpus — the same distribution
    check as x_dup_substrings_sorted, but reached through the
    incremental path. Detection cost per ingest is the ingest, never
    history."""
    import shutil
    import tempfile

    from ..operators.substr_sorted import append_gram_counts, read_gram_counts

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    store = tempfile.mkdtemp(prefix="spark_graft_gramstore_")
    try:
        append_gram_counts(d.filter(F.col("doc_id") % 2 == 0), store, k=20)
        append_gram_counts(d.filter(F.col("doc_id") % 2 == 1), store, k=20)
        out = (
            read_gram_counts(spark, store)
            .groupBy("sub")
            .agg(F.sum("n_docs").alias("_n"))
            .filter(F.col("_n") >= 2)
            .groupBy(F.col("_n").cast("long").alias("n_docs"))
            .agg(F.count("*").cast("long").alias("n_grams"))
            .orderBy("n_docs")
        )
        # eager: the tmp store drops before the driver consumes
        return out.localCheckpoint()
    finally:
        shutil.rmtree(store, ignore_errors=True)


@declare(
    "x_strip_dup_spans_sorted",
    oracle="""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
    pos AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             substring(text, CAST(i AS INT), 20) AS sub
      FROM docs,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
    ),
    dd AS (SELECT DISTINCT doc_id, sub FROM pos),
    dup AS (SELECT sub FROM dd GROUP BY sub HAVING COUNT(*) >= 2),
    spans AS (SELECT doc_id, p AS s, p + 19 AS e FROM pos JOIN dup USING (sub)),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM spans
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    ),
    merged AS (
      SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
      FROM isl GROUP BY doc_id, island
    ),
    pieces AS (
      SELECT doc_id, s AS ord,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS gs,
             s - 1 AS ge
      FROM merged
      UNION ALL
      SELECT doc_id, 2147483647 AS ord, MAX(e) + 1 AS gs, 2147483646 AS ge
      FROM merged GROUP BY doc_id
    ),
    joined AS (
      SELECT p.doc_id, p.ord,
             substring(d.text, p.gs, greatest(p.ge - p.gs + 1, 0)) AS piece
      FROM pieces p JOIN docs d USING (doc_id)
    ),
    stripped AS (
      SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
      FROM joined GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.clean_text, d.text) AS clean_text,
           CAST(length(d.text) - length(COALESCE(s.clean_text, d.text)) AS BIGINT)
             AS n_stripped
    FROM docs d LEFT JOIN stripped s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def x_strip_dup_spans_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-gram span stripping (r6 VERDICT #2+#3,
    operators/substr_sorted.py): detection through the packed-run
    Exchange, then the duplicated-fingerprint dictionary BROADCASTS
    (size-gated) into a single doc-local strip pass — zero per-position
    shuffle rows, zero join-back Exchange. Full-fidelity oracle: the
    DuckDB verbatim rebuild must match the cleaned TEXT byte-for-byte
    (fingerprint collisions would diverge the hash; none at this
    scale)."""
    from ..operators.dedup import strip_duplicated_spans

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 80)
    return psort(
        strip_duplicated_spans(d, k=20, hash_only=True, plan="sorted_gram"),
        "doc_id",
    )


@declare(
    "x_dup_span_counts",
    oracle="""
    WITH pos AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 20) AS sub
      FROM documents,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
      WHERE doc_id < 100
    ), d AS (SELECT DISTINCT doc_id, sub FROM pos),
    dups AS (SELECT sub FROM d GROUP BY sub HAVING COUNT(*) >= 2)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans
    FROM pos JOIN dups USING (sub)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def x_dup_span_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc duplicated-span severity (strip-vs-drop decision input):
    positions whose 20-char window is duplicated cross-doc, counted with
    within-doc repeats included (memorization risk counts every
    occurrence)."""
    from ..operators.dedup import substring_dup_counts

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return substring_dup_counts(d, k=20).orderBy("doc_id")


@declare(
    "x_dup_span_counts_sorted",
    oracle="""
    WITH pos AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 20) AS sub
      FROM documents,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
      WHERE doc_id < 100
    ), d AS (SELECT DISTINCT doc_id, sub FROM pos),
    dups AS (SELECT sub FROM d GROUP BY sub HAVING COUNT(*) >= 2)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans
    FROM pos JOIN dups USING (sub)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def x_dup_span_counts_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc duplicated-span severity via the sorted-gram plan
    (operators/substr_sorted.py): broadcast fingerprint dictionary +
    doc-local hit counting — zero shuffles after detection, same
    full-fidelity counts the verbatim DuckDB rebuild produces."""
    from ..operators.dedup import substring_dup_counts

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return psort(substring_dup_counts(d, k=20, plan="sorted_gram"), "doc_id")


@declare("x_minhash_neardup", oracle=None, bench=True)  # r3 VERDICT #2
def x_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (doc_id < 100) — engine-defined
    hashing, so rows-only driver check; recall vs dq33 is test-asserted."""
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return minhash_candidate_pairs(d, n_hashes=32, n_bands=16).orderBy(
        "d1", "d2"
    )


@declare("x_incremental_neardup", oracle=None)
def x_inc_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup index (operators/neardup_index.py — r9
    VERDICT #1, the daily-ingest shape): even doc_ids < 200 are the
    standing HISTORY, banded once and persisted; odd doc_ids are the
    new batch, probed via a band-keyed equi-join that broadcasts the
    batch and never shuffles history. Engine-defined hashing → rows-only
    driver check; recall vs exact Jaccard and exact parity with the
    batch LSH operator are test-asserted (tests/test_neardup_index.py),
    as are append semantics and the stream-equals-batch leg."""
    import shutil
    import tempfile

    from ..operators.neardup_index import (
        build_neardup_index,
        probe_neardup_index,
    )

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    path = tempfile.mkdtemp(prefix="spark_graft_ndidx_")
    try:
        build_neardup_index(
            d.filter(F.col("doc_id") % 2 == 0), path, kind="minhash"
        )
        out = probe_neardup_index(
            d.filter(F.col("doc_id") % 2 == 1), path, append="none"
        )
        # the probe materializes eagerly (localCheckpoint), so the
        # store can drop before the driver consumes the result
        return out.orderBy("d_new", "d_old")
    finally:
        shutil.rmtree(path, ignore_errors=True)


@declare("x_simhash", oracle=None)
def x_sim(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash64 per document (doc_id < 100) — deterministic engine hash."""
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return simhash64(d).orderBy("doc_id")


# ---------------------------------------------------------------------------
# multimodal plumbing (X5)


@declare("x_multimodal_decode", oracle=None)
def x_mm(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal column plumbing: binary payload + mapInPandas feature
    extraction (operators/multimodal.py). These payloads are text bytes,
    so they take the deterministic stub fallback; real PNG/BMP payloads
    take the pure-stdlib codecs (oracle-checked end-to-end by
    x_png_decode). Rows-only check."""
    from ..operators.multimodal import extract_features, with_binary_payload

    d = t(spark, sf, "documents")
    return psort(extract_features(with_binary_payload(d)), "doc_id")


@declare(
    "x_png_decode",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
           CAST(4 + doc_id % 13 AS BIGINT) AS width,
           CAST(3 + doc_id % 7 AS BIGINT) AS height,
           CAST(list_aggregate(list_transform(
                  range((4 + doc_id % 13) * (3 + doc_id % 7) *
                        (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)),
                  i -> (i + 1) * ((doc_id * 31 + 7 * i) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM documents ORDER BY doc_id
    """,
)
def x_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode on the cluster (r3 VERDICT #3 — X5 partial →
    full): per doc, synthesize a deterministic gray PNG / 24bpp BMP from
    the id, encode with the pure-stdlib codecs (functions/imaging.py),
    decode back through magic dispatch, emit decoded dims + positional
    pixel checksum. Every output is id arithmetic, so DuckDB verifies
    the whole encode→decode pipeline with no image code: any mangled
    byte anywhere in the codecs diverges the checksum. Row-local
    mapInPandas, zero shuffle."""
    from ..operators.multimodal import image_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(image_roundtrip_features(d), "doc_id")


@declare(
    "x_jpeg_decode",
    bench=True,  # r5 VERDICT #4
    oracle="""
    SELECT doc_id,
           'jpeg' AS format,
           CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(8 * (1 + doc_id % 2) AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels,
           CAST(list_aggregate(list_transform(
                  range(8 * (1 + doc_id % 3) * 8 * (1 + doc_id % 2) *
                        (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)),
                  i -> (i + 1) * ((doc_id * 17
                        + (((i // (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END))
                            % (8 * (1 + doc_id % 3))) // 8) * 29
                        + (((i // (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END))
                            // (8 * (1 + doc_id % 3))) // 8) * 41
                        + (i % (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)) * 53
                        ) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM documents ORDER BY doc_id
    """,
)
def x_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL baseline-JPEG decode on the cluster (r4 VERDICT #1 — X5
    partial → full): per doc, synthesize a flat-block gray/YCbCr image
    from the id, encode to real JFIF bytes (functions/jpeg.py: Annex-K
    Huffman, zigzag, quant, bit-stuffing), decode back through magic
    dispatch, emit decoded dims + positional pixel checksum. Flat 8×8
    blocks make the lossy codec exactly lossless (DC-only spectrum), so
    every output is id arithmetic and DuckDB verifies the entire
    encode→decode stack with no image code. Row-local mapInPandas,
    zero shuffle."""
    from ..operators.multimodal import jpeg_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(jpeg_roundtrip_features(d), "doc_id")


@declare(
    "x_jpeg_progressive",
    oracle="""
    SELECT doc_id,
           'jpeg' AS format,
           CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(8 * (1 + doc_id % 2) AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels,
           CAST(list_aggregate(list_transform(
                  range(8 * (1 + doc_id % 3) * 8 * (1 + doc_id % 2) *
                        (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)),
                  i -> (i + 1) * ((doc_id * 17
                        + (((i // (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END))
                            % (8 * (1 + doc_id % 3))) // 8) * 29
                        + (((i // (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END))
                            // (8 * (1 + doc_id % 3))) // 8) * 41
                        + (i % (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)) * 53
                        ) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM documents ORDER BY doc_id
    """,
)
def x_jpeg_progressive(spark: SparkSession, sf: str) -> DataFrame:
    """REAL progressive-JPEG (SOF2) decode on the cluster (r5 VERDICT
    #5 — the last real-world-frequency gap in X5): the same flat-block
    images as x_jpeg_decode, but encoded with the successive-
    approximation scan script (DC Al=1 + refinement, per-component AC
    first + refinement; functions/jpeg.py:encode_jpeg_progressive) and
    decoded through the multi-scan coefficient-accumulating path. The
    worker asserts the SOF2 marker, and ``(d>>1)<<1 | (d&1) == d``
    keeps flat blocks exactly lossless, so the identical id-arithmetic
    oracle verifies the whole Annex-G machinery — one mangled
    refinement bit, EOB run or scan header diverges the checksum.
    Row-local mapInPandas, zero shuffle."""
    from ..operators.multimodal import jpeg_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(jpeg_roundtrip_features(d, progressive=True), "doc_id")


@declare(
    "x_gif_frames",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             5 + doc_id % 9 AS w,
             4 + doc_id % 5 AS h,
             unnest(range(0, 2 + doc_id % 3, 2)) AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS frame_no,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(list_aggregate(list_transform(
                  range(w * h * 3),
                  i -> (i + 1) * ((doc_id * 23
                        + 5 * ((i // 3) % w)
                        + 3 * ((i // 3) // w)
                        + 11 * k) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM base ORDER BY doc_id, frame_no
    """,
)
def x_gif_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL multi-frame GIF decode + deterministic frame sampling (r4
    VERDICT #3): per doc, synthesize an animated gray-ramp GIF from the
    id, encode (real LZW, functions/gif.py), decode every composited
    frame back, keep every 2nd, emit per-frame dims + RGB checksum. GIF
    is lossless and the gray palette maps index→(i,i,i), so DuckDB
    verifies LZW + palette + compositing end-to-end by id arithmetic.
    Row-local mapInPandas flat-map, zero shuffle."""
    from ..operators.multimodal import gif_frame_features

    d = t(spark, sf, "documents")
    return psort(gif_frame_features(d, every_n=2), "doc_id", "frame_no")


@declare(
    "x_resize",
    oracle="""
    SELECT doc_id,
           CAST(4 + doc_id % 13 AS BIGINT) AS src_w,
           CAST(3 + doc_id % 7 AS BIGINT) AS src_h,
           CAST(3 + doc_id % 5 AS BIGINT) AS dst_w,
           CAST(2 + doc_id % 4 AS BIGINT) AS dst_h,
           CAST(list_aggregate(list_transform(
                  range((3 + doc_id % 5) * (2 + doc_id % 4)),
                  j -> (j + 1) * ((doc_id * 31 + 7 * (
                        ((j // (3 + doc_id % 5)) * (3 + doc_id % 7)
                          // (2 + doc_id % 4)) * (4 + doc_id % 13)
                        + ((j % (3 + doc_id % 5)) * (4 + doc_id % 13)
                          // (3 + doc_id % 5))
                        )) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM documents ORDER BY doc_id
    """,
)
def x_resize(spark: SparkSession, sf: str) -> DataFrame:
    """REAL nearest-neighbor resize verified end-to-end (r4 VERDICT #3):
    per doc, synthesize the x_png_decode gray pattern, PNG encode→decode
    it, resample to id-dependent target dims with floor-mapping
    nearest-neighbor (functions/imaging.py:resize_nearest), emit the
    resized checksum. The mapping is integer arithmetic, so DuckDB
    recomputes every resized pixel from the id — verifying the PNG codec
    AND the resampling math together. Row-local mapInPandas, zero
    shuffle."""
    from ..operators.multimodal import resize_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(resize_roundtrip_features(d), "doc_id")


@declare(
    "x_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
    """,
)
def x_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority composite: segment-filtered
    customer broadcast into orders, date predicates pushed to both fact
    scans, exact decimal revenue, rank-limited top-10 with a total
    tie-break. The orderkey group rides the lineitem join key, so AQE
    can keep the aggregation on the join partitioning."""
    c = t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    from ._util import dec2, money

    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            money(
                F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount")))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@declare(
    "x_tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS total_qty
    FROM orders
    JOIN big      ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN lineitem ON lineitem.l_orderkey = o_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
)
def x_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-order query: a HAVING aggregate
    subquery (orders whose line quantities exceed a threshold) semi-
    drives the main join, then re-aggregates per order. The `big` set
    is threshold-small, so it broadcasts into orders; lineitem is
    scanned twice by design (pre-agg + detail) — at 100 TB the first
    pass's partial agg shrinks to the key set before any join."""
    from ._util import dec2, money

    li = t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == big["l_orderkey"])
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li.alias("det"), F.col("det.l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate")
        .agg(money(F.sum(dec2("det.l_quantity"))).alias("total_qty"))
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


@declare(
    "x_tpch_q19_like",
    oracle="""
    SELECT CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 30)
    """,
)
def x_tpch_q19_like(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive join predicate: three OR-ed
    brand/size/quantity conjunctions spanning both join sides. Catalyst
    pushes the single-side residuals (brand∈set, size≤35, quantity
    ranges) below the join while keeping the cross-side disjunction as
    a join filter — the pattern that turns a scan-everything OR into
    pruned scans."""
    from ._util import dec2, money

    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            money(
                F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount")))
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@declare(
    "x_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def x_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier-volume composite: the six-table
    star-plus-snowflake join with the SAME-NATION cross-dimension
    constraint (c_nationkey = s_nationkey) that makes Q5 the canonical
    join-ordering test. Spark-first shape: region→nation collapses into
    a broadcast dimension on the supplier side; supplier (enriched with
    n_name) broadcasts into the fact chain; the only shuffles left are
    the lineitem⋈orders⋈customer fact joins on their keys, with the
    date range pushed to the orders scan — at 100 TB that is one
    partition-pruned fact pipeline plus map-side dimension probes."""
    from ._util import dec2, money

    r = t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = t(spark, sf, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = t(spark, sf, "lineitem")
    c = t(spark, sf, "customer")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            money(
                F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@declare(
    "x_tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def x_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: a correlated EXISTS whose
    inner predicate COMPARES ACROSS RELATIONS (l_shipdate >
    o_orderdate — the fixture's analog of Q4's commit<receipt), declared
    through spark.sql so Catalyst's decorrelation turns it into a
    left-semi join carrying the inequality as a join condition (no
    per-row subquery execution, no cartesian). Priority cardinality is
    tiny, so the final agg is one bounded-key shuffle."""
    from ..sources.tables import register_views

    register_views(spark, sf)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@declare(
    "x_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def x_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item ranking: quarter-filtered orders
    drive the fact chain, the 'R' flag prunes lineitem at the scan,
    nation broadcasts for the display name, top-20 by exact decimal
    revenue with a key tie-break. The group key set (customer attrs)
    rides the customer join key, so AQE keeps the aggregation on the
    join partitioning."""
    from ._util import dec2, money

    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            money(
                F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount")))
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@declare(
    "x_tpch_q12",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
                 AND l_shipdate > o_orderdate
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY ship_class
    """,
)
def x_tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12-shaped shipping-priority audit (the last unrepresented
    Q shape): a year-window fact scan joins orders on the key PLUS a
    cross-table date predicate (Q12's signature ``commitdate <
    receiptdate`` comparison, expressed here as ``shipdate >
    orderdate`` over the columns this schema carries), then one
    conditional CASE-count pair classifies lines by order priority per
    ship class. The date window pushes to the lineitem scan; the extra
    date condition rides the equi-join as a post-join filter — still a
    keyed join, never a nested loop (plan-asserted)."""
    li = t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = t(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@declare(
    "x_tpch_q14",
    oracle="""
    SELECT CAST(CAST(ROUND(
             100.00 * SUM(CASE WHEN p_type = 'PROMO'
                               THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                               ELSE 0 END)
             / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))), 6)
             AS DECIMAL(38,6)) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-06-01'
      AND o_orderdate <  TIMESTAMP '1996-09-01'
    """,
)
def x_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14-shaped promotion-share scalar: conditional revenue over
    total revenue for a date window — the CASE-inside-aggregate /
    ratio-of-sums pattern. Part broadcasts; the decimal sums accumulate
    exactly and only the final ratio rounds (once, to 6dp) so the
    oracle's decimal division convention can't drift."""
    from ._util import dec2

    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-06-01") & (F.col("o_orderdate") < "1996-09-01")
    ).select("o_orderkey")
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.00) * F.sum(promo) / F.sum(rev), 6)
            .cast("decimal(38,6)")
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@declare(
    "x_tpch_q6",
    oracle="""
    SELECT CAST(CAST(ROUND(
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(18,2))), 4)
             AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def x_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) — the canonical pure
    scan-side query: three conjunctive predicates that must ALL reach
    the parquet scan (PushedFilters — plan-asserted: no join, no
    residual filter stage doing the scan's work) feeding one partial
    aggregate. The decimal products accumulate exactly; only the final
    sum rounds. At 100 TB this query is a pruning benchmark: with the
    z-order/date-partition layouts this repo provides, min/max stats
    skip every non-1996 file before a byte is read."""
    from ._util import dec2

    li = t(spark, sf, "lineitem")
    rev = dec2("l_extendedprice") * dec2("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & dec2("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(rev), 4)
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


@declare(
    "x_tpch_q9_like",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(CAST(ROUND(
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 4)
             AS DECIMAL(38,4)) AS DOUBLE) AS profit_like
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%red%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def x_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9-shaped product-type profit (adapted to the reduced
    schema: no partsupp, so 'profit' is the revenue leg) — the classic
    JOIN-ORDER test: the LIKE-filtered part list must semi-reduce the
    fact FIRST (broadcast), supplier→nation is the dim chain, and the
    orders join exists only to extract the year. Plan-asserted: three
    broadcast joins, no cartesian; the grouped sums accumulate exact
    decimals and round once."""
    from ._util import dec2

    li = t(spark, sf, "lineitem")
    p = (
        t(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name")
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(F.sum(rev), 4)
            .cast("decimal(38,4)")
            .cast("double")
            .alias("profit_like")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@declare(
    "x_g711_decode",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             64 + doc_id % 64 AS n,
             doc_id % 2 = 0 AS is_ulaw
      FROM documents
    ),
    expanded AS (
      SELECT doc_id, n, is_ulaw,
             list_transform(range(n), i -> (doc_id * 7 + 13 * i) % 256) AS codes
      FROM base
    ),
    samples AS (
      SELECT doc_id, n, is_ulaw,
             list_transform(codes, c -> CASE WHEN is_ulaw THEN
               CASE WHEN (255 - c) >= 128 THEN
                 -(((((255 - c) & 15) * 8 + 132) << (((255 - c) >> 4) & 7)) - 132)
               ELSE
                  ((((255 - c) & 15) * 8 + 132) << (((255 - c) >> 4) & 7)) - 132
               END
             ELSE
               CASE WHEN xor(c, 85) >= 128 THEN
                 CASE WHEN ((xor(c, 85) >> 4) & 7) = 0
                      THEN (xor(c, 85) & 15) * 16 + 8
                      ELSE ((xor(c, 85) & 15) * 16 + 264)
                           << (((xor(c, 85) >> 4) & 7) - 1) END
               ELSE
                 -(CASE WHEN ((xor(c, 85) >> 4) & 7) = 0
                        THEN (xor(c, 85) & 15) * 16 + 8
                        ELSE ((xor(c, 85) & 15) * 16 + 264)
                             << (((xor(c, 85) >> 4) & 7) - 1) END)
               END
             END) AS s
      FROM expanded
    )
    SELECT doc_id,
           CASE WHEN is_ulaw THEN 'ulaw' ELSE 'alaw' END AS law,
           CAST(n AS BIGINT) AS n_frames,
           CAST(list_aggregate(list_transform(range(n),
                  i -> (i + 1) * (s[i + 1] + 32768)), 'sum')
                % 2147483648 AS BIGINT) AS checksum,
           CAST(list_aggregate(list_transform(s, v -> v * v), 'sum')
                % 2147483648 AS BIGINT) AS energy
    FROM samples ORDER BY doc_id
    """,
)
def x_g711_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL G.711 µ-law/A-law WAV decode on the cluster (the telephony
    codings of speech corpora; operators/multimodal.py:
    g711_roundtrip_features): code bytes synthesized from the id wrap in
    a real RIFF container with format tag 7/6, expand through the ITU-T
    companding formulas (functions/audio.py — byte-exact vs stdlib
    audioop), and the oracle recomputes the same expansion in SQL — a
    wrong table entry, sign convention (A-law's is inverted) or
    container tag diverges the hash. Row-local mapInPandas, zero
    shuffle."""
    from ..operators.multimodal import g711_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(g711_roundtrip_features(d), "doc_id")


@declare(
    "x_temperature_mixture",
    oracle="""
    WITH n AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
    tot AS (SELECT SUM(ns) AS nn FROM n),
    wgt AS (SELECT source, ns,
                   POWER(CAST(ns AS DOUBLE) / nn, 0.5) AS w
            FROM n, tot),
    t AS (SELECT source, ns,
                 LEAST(CAST(FLOOR(200 * (w / SUM(w) OVER ())) AS BIGINT), ns)
                   AS take
          FROM wgt),
    r AS (SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    SELECT r.doc_id, r.source
    FROM r JOIN t USING (source) WHERE r.rn <= t.take
    ORDER BY r.doc_id
    """,
)
def x_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based source mixing (operators/quality.py:
    temperature_mixture — the multilingual-pretraining τ-sampling
    recipe, q_s ∝ p_s^0.5, 200-doc target): per-source take counts from
    bounded driver scalars, md5-order prefix selection so the subset is
    deterministic and partition-invariant. DuckDB recomputes the same
    power/normalize/floor math and the same md5 shuffle."""
    from ..operators.quality import temperature_mixture

    d = t(spark, sf, "documents")
    return temperature_mixture(d, target_total=200, tau=0.5).orderBy("doc_id")


@declare(
    "x_zorder_key",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             MIN(o_custkey)    OVER () AS lo_c, MAX(o_custkey)    OVER () AS hi_c,
             MIN(o_totalprice) OVER () AS lo_p, MAX(o_totalprice) OVER () AS hi_p
      FROM orders
    ),
    b AS (
      SELECT o_orderkey,
             least(greatest(CAST(floor((CAST(o_custkey AS DOUBLE) - lo_c)
                    / (hi_c - lo_c) * 256) AS BIGINT), 0), 255) AS bc,
             least(greatest(CAST(floor((o_totalprice - lo_p)
                    / (hi_p - lo_p) * 256) AS BIGINT), 0), 255) AS bp
      FROM o
    )
    SELECT o_orderkey,
           CAST(list_aggregate(list_transform(range(8),
                  i -> (((bc >> i) & 1) << (2 * i))
                     + (((bp >> i) & 1) << (2 * i + 1))), 'sum')
                AS BIGINT) AS zkey
    FROM b ORDER BY o_orderkey
    """,
)
def x_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over (o_custkey, o_totalprice) —
    the data-layout maintenance primitive (operators/layout.py): each
    column equi-width-bucketed to 8 bits from a one-pass global min/max
    (bounded driver scalars, the model-parameter pattern), then
    bit-interleaved with pure Catalyst shifts/masks. DuckDB rebuilds the
    identical key with window min/max + the same float bucket math, so
    any drift in the scaling, clamping or interleave order diverges the
    hash. ``zorder_by`` range-partitions + sorts on this key so every
    parquet file covers a small rectangle in BOTH columns (bounding-box
    shrinkage is measured in tests/test_layout.py)."""
    from ..operators.layout import zorder_key

    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    key, _ = zorder_key(o, ["o_custkey", "o_totalprice"], bits=8)
    return o.select("o_orderkey", key.alias("zkey")).orderBy("o_orderkey")


@declare(
    "x_expectations",
    oracle="""
    WITH agg AS (
      SELECT COUNT(*) AS total,
        SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 45)
                   OR l_quantity IS NULL THEN 1 ELSE 0 END) AS v_qty,
        SUM(CASE WHEN NOT (l_discount <= 0.08)
                   OR l_discount IS NULL THEN 1 ELSE 0 END) AS v_disc,
        SUM(CASE WHEN NOT (l_tax <= 0.06)
                   OR l_tax IS NULL THEN 1 ELSE 0 END) AS v_tax,
        SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS v_part
      FROM lineitem
    ), u AS (
      SELECT 'discount_le_8pct' AS rule, v_disc AS v, total FROM agg
      UNION ALL SELECT 'partkey_set', v_part, total FROM agg
      UNION ALL SELECT 'qty_in_range', v_qty, total FROM agg
      UNION ALL SELECT 'tax_le_6pct', v_tax, total FROM agg
    )
    SELECT rule, CAST(v AS BIGINT) AS n_violations,
           CAST(CAST(ROUND(v * 1.0 / total, 6) AS DECIMAL(38,6)) AS DOUBLE)
             AS violation_rate
    FROM u ORDER BY rule
    """,
)
def x_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectations (operators/validate.py): four named
    rules over lineitem evaluated in ONE aggregate pass — conditional
    counts, so adding a rule never adds a scan at 100 TB; nulls count as
    violations (unknown does not satisfy a constraint)."""
    from ..operators.validate import expect, validate

    li = t(spark, sf, "lineitem")
    rules = [
        expect("qty_in_range", F.col("l_quantity").between(1, 45)),
        expect("discount_le_8pct", F.col("l_discount") <= 0.08),
        expect("tax_le_6pct", F.col("l_tax") <= 0.06),
        expect("partkey_set", F.col("l_partkey").isNotNull()),
    ]
    return (
        validate(li, rules)
        .select("rule", "n_violations", dbl(F.col("violation_rate"), 6).alias("violation_rate"))
        .orderBy("rule")
    )


@declare(
    "x_merge_upsert",
    bench=True,  # r5 VERDICT #4
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey < 2000
    ), src AS (
      SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000
    )
    SELECT COALESCE(tgt.o_orderkey, src.o_orderkey) AS o_orderkey,
           CASE WHEN src.o_orderkey IS NOT NULL
                THEN src.o_custkey ELSE tgt.o_custkey END AS o_custkey,
           CAST(CAST(ROUND(CASE WHEN src.o_orderkey IS NOT NULL
                                THEN src.o_totalprice
                                ELSE tgt.o_totalprice END, 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS o_totalprice,
           CASE WHEN src.o_orderkey IS NOT NULL
                THEN src.o_orderstatus ELSE tgt.o_orderstatus END
             AS o_orderstatus
    FROM tgt FULL OUTER JOIN src ON tgt.o_orderkey = src.o_orderkey
    ORDER BY o_orderkey
    """,
)
def x_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics without a table format (operators/
    validate.py:merge_upsert): CDC-style upsert of a doubled-price 'U'
    batch into an orders snapshot — matched keys take the source row,
    unmatched target rows persist, unmatched source rows insert. One
    key shuffle; bucket both sides by the key at 100 TB for a
    shuffle-free merge."""
    from ..operators.validate import merge_upsert

    o = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    target = o.filter(F.col("o_orderkey") < 2000)
    source = o.filter(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 3000)
    ).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    merged = merge_upsert(target, source, "o_orderkey")
    from ._util import money

    return merged.select(
        "o_orderkey",
        "o_custkey",
        money(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderstatus",
    ).orderBy("o_orderkey")


@declare(
    "x_bpe_pairs",
    oracle="""
    WITH w AS (
      SELECT UNNEST(string_split(lower(text), ' ')) AS word FROM documents
    ), wc AS (
      SELECT word, COUNT(*) AS n FROM w WHERE word <> '' GROUP BY word
    ), p AS (
      SELECT UNNEST(list_transform(range(1, length(word) + 1),
               i -> substring(word, CAST(i AS INT), 1) || '|' ||
                    CASE WHEN i = length(word) THEN '</w>'
                         ELSE substring(word, CAST(i + 1 AS INT), 1) END)) AS pair,
             n
      FROM wc
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM p GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def x_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """BPE step-0 statistics (operators/bpe.py): weighted adjacent
    character-pair counts (with the Sennrich ``</w>`` end-of-word
    marker) over the word-frequency table — the candidate table the
    first merge is chosen from, and the SQL-checkable slice of the
    iterative trainer. Two bounded-key shuffles (vocab, then pairs);
    the corpus is scanned once."""
    from ..operators.bpe import char_pair_counts

    d = t(spark, sf, "documents")
    return char_pair_counts(d).orderBy(F.desc("cnt"), "pair").limit(20)


@declare("x_bpe_tokenize", oracle=None)
def x_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end BPE: learn 12 merges from the corpus word-frequency
    table (iterative argmax — one collected row per step, the model
    parameter pattern), then tokenize documents with the learned
    subwords. Not SQL-expressible (iterative training loop) → rows-only
    driver check; tests/test_bpe.py proves trainer parity against a
    pure-Python Sennrich reference on a known corpus."""
    from ..operators.bpe import apply_bpe, train_bpe, word_counts

    d = t(spark, sf, "documents")
    merges = train_bpe(word_counts(d.filter(F.col("doc_id") < 300)), 12)
    out = apply_bpe(d.filter(F.col("doc_id") < 100), merges)
    return psort(
        out.select(
            "doc_id",
            F.col("n_bpe_tokens"),
            F.slice("bpe_tokens", 1, 8).alias("head_tokens"),
        ),
        "doc_id",
    )


@declare(
    "x_avi_frames",
    oracle="""
    SELECT doc_id, frame_no,
           CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(list_aggregate(list_transform(
                  range(8 * (1 + doc_id % 3) * 8),
                  i -> (i + 1) * ((doc_id * 19
                        + ((i % (8 * (1 + doc_id % 3))) // 8) * 29
                        + frame_no * 7) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM (
      SELECT doc_id, UNNEST(range(0, 2 + doc_id % 4, 2)) AS frame_no
      FROM documents
    )
    ORDER BY doc_id, frame_no
    """,
)
def x_avi_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video keyframe extraction (closes the video leg of X5): per
    doc, synthesize a Motion-JPEG clip from the id (flat-block gray
    frames → exact-lossless JPEG), wrap in a real AVI container
    (functions/video.py), then parse the container, keep every 2nd frame
    payload, and pixel-decode ONLY the kept frames. Every output is id
    arithmetic, so DuckDB verifies container framing + frame order + the
    whole JPEG stack with no video code. Row-local mapInPandas flat-map,
    zero shuffle."""
    from ..operators.multimodal import video_frame_features

    d = t(spark, sf, "documents")
    return psort(video_frame_features(d, every_n=2), "doc_id", "frame_no")


@declare(
    "x_mp4_frames",
    oracle="""
    SELECT doc_id, frame_no,
           CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(list_aggregate(list_transform(
                  range(8 * (1 + doc_id % 3) * 8),
                  i -> (i + 1) * ((doc_id * 23
                        + ((i % (8 * (1 + doc_id % 3))) // 8) * 31
                        + frame_no * 11) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM (
      SELECT doc_id, UNNEST(range(0, 3 + doc_id % 4, 3)) AS frame_no
      FROM documents
    )
    ORDER BY doc_id, frame_no
    """,
)
def x_mp4_frames(spark: SparkSession, sf: str) -> DataFrame:
    """MP4/ISO-BMFF keyframe extraction, end to end (VERDICT r14 #4):
    per doc, a Motion-JPEG clip (flat-block gray frames → exact-
    lossless JPEG) is muxed into a REAL ISO-BMFF container
    (functions/mp4.py — ftyp/mdat/moov, two samples per chunk so the
    stsc/stco/stsz chunk-run expansion is under test, ``k % 3 == 0``
    samples marked sync in stss), parsed back with the box walk, the
    KEYFRAME indices taken from the sample table, and ONLY those
    samples pixel-decoded — sampling strictly before decode, the order
    that matters at 100 TB. Every output is id arithmetic, so DuckDB
    verifies box framing, chunk-run expansion, stss sync selection and
    the whole JPEG stack with no video code. Row-local mapInPandas
    flat-map, zero shuffle."""
    from ..operators.multimodal import mp4_keyframe_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(mp4_keyframe_roundtrip_features(d), "doc_id", "frame_no")


@declare(
    "x_avi_raw_frames",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             5 + doc_id % 7 AS w,
             4 + doc_id % 5 AS h,
             unnest(range(0, 2 + doc_id % 3, 2)) AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS frame_no,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(list_aggregate(list_transform(
                  range(w * h * 3),
                  i -> (i + 1) * ((doc_id * 13
                        + 5 * ((i // 3) % w)
                        + 3 * ((i // 3) // w)
                        + 7 * (i % 3)
                        + 11 * k) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM base ORDER BY doc_id, frame_no
    """,
)
def x_avi_raw_frames(spark: SparkSession, sf: str) -> DataFrame:
    """UNCOMPRESSED (BI_RGB 'DIB ') AVI keyframe extraction — the
    non-MJPG video leg (r5 VERDICT's remaining-rarity list): per doc,
    synthesize a raw clip from the id, pack frames into the DIB wire
    layout (bottom-up BGR, 4-byte row padding — widths here are NOT
    multiples of 4, so the padding math is load-bearing), wrap in a
    real AVI whose strf declares biCompression=0, sample every 2nd
    payload, then convert only kept frames to RGB pixels
    (functions/video.py:dib_to_pixels). Raw frames are lossless by
    construction, so DuckDB verifies container framing + codec metadata
    + the row/padding/BGR math by pure id arithmetic. Row-local
    mapInPandas flat-map, zero shuffle."""
    from ..operators.multimodal import raw_video_frame_features

    d = t(spark, sf, "documents")
    return psort(raw_video_frame_features(d, every_n=2), "doc_id", "frame_no")


@declare(
    "x_chunk_chars",
    oracle="""
    SELECT doc_id,
           chunk_start // 64 AS chunk_no,
           chunk_start,
           substring(text, CAST(chunk_start + 1 AS INT), 96) AS chunk,
           length(substring(text, CAST(chunk_start + 1 AS INT), 96)) AS chunk_len
    FROM (
      SELECT doc_id, text,
             UNNEST(range(0, greatest(length(text) - 1, 0) + 1, 64))
               AS chunk_start
      FROM documents WHERE doc_id < 200
    )
    ORDER BY doc_id, chunk_no
    """,
)
def x_chunk_chars(spark: SparkSession, sf: str) -> DataFrame:
    """RAG character-window chunking (operators/chunking.py): 96-char
    windows every 64 chars with provenance offsets. Pure Catalyst
    sequence+posexplode+substring — narrow flat-map, zero shuffle; the
    row amplification is the chunk output itself, which is what a
    100 TB chunker must write anyway."""
    from ..operators.chunking import chunk_chars

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return chunk_chars(d, size=96, stride=64).orderBy("doc_id", "chunk_no")


@declare(
    "x_wav_decode",
    oracle="""
    SELECT doc_id,
           'wav' AS format,
           CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(50 + doc_id % 101 AS BIGINT) AS n_frames,
           CAST(list_aggregate(list_transform(
                  range((50 + doc_id % 101) * (1 + doc_id % 2)),
                  i -> (i + 1) * ((doc_id * 131 + 17 * i) % 65536)), 'sum')
                % 2147483648 AS BIGINT) AS checksum,
           CAST(list_aggregate(list_transform(
                  range((50 + doc_id % 101) * (1 + doc_id % 2)),
                  i -> ((doc_id * 131 + 17 * i) % 65536 - 32768)
                       * ((doc_id * 131 + 17 * i) % 65536 - 32768)), 'sum')
                % 2147483648 AS BIGINT) AS energy
    FROM documents ORDER BY doc_id
    """,
)
def x_wav_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL WAV/PCM audio decode on the cluster (closes the audio leg of
    X5 left stubbed by r4): per doc, synthesize a deterministic
    interleaved PCM stream from the id, encode to real RIFF/WAVE bytes
    (functions/audio.py — stdlib struct, stdlib-``wave`` cross-tested),
    decode back through magic dispatch, emit header fields + positional
    sample checksum + exact integer energy. Every output is id
    arithmetic, so DuckDB verifies the whole encode→decode pipeline with
    no audio code: one mangled byte in the RIFF framing or PCM packing
    diverges the checksum. The stored depth rotates 16/24/32-bit by id
    (r6: deep-PCM coverage — decode normalizes to the int16 contract, so
    the oracle is depth-invariant while the executors exercise every
    packing path). Row-local mapInPandas, zero shuffle."""
    from ..operators.multimodal import audio_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(audio_roundtrip_features(d, bits_cycle=(16, 24, 32)), "doc_id")


@declare(
    "x_training_prep",
    oracle="""
    WITH keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      WHERE lang = 'en'
        AND len(string_split(text, ' ')) BETWEEN 5 AND 10000
      GROUP BY md5(text)
    )
    SELECT d.doc_id,
           len(string_split(d.text, ' ')) AS n_tokens,
           CAST(CAST(ROUND(SQRT(list_aggregate(
                 list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x),
                 'sum')), 4) AS DECIMAL(38,4)) AS DOUBLE) AS emb_norm
    FROM keep k
    JOIN documents d ON d.doc_id = k.doc_id
    JOIN embeddings e ON e.vec_id = d.doc_id
    ORDER BY d.doc_id
    """,
    bench=True,  # r3 VERDICT #2: the composite prep pipeline needs a wall-clock row
)
def x_training(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-data prep composite: language filter → token-
    count quality gate → exact content dedup (min-id winner per digest)
    → join embeddings → per-doc stats. One keyed shuffle for the dedup,
    broadcast-size doc side for the joins at this SF; at 100 TB the
    embeddings join co-locates if both sides are written bucketed by
    doc_id (``bucketBy``/``saveAsTable``)."""
    d = t(spark, sf, "documents").filter(
        (F.col("lang") == "en")
        & F.size(F.split("text", " ")).between(5, 10000)
    )
    keep = (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("_digest"))
        .agg(F.min("doc_id").alias("doc_id"))
        .drop("_digest")
    )
    e = t(spark, sf, "embeddings")
    from ..functions.vectors import l2_norm

    # r16 audit: a psort barrier here was tried and REVERTED — the
    # broadcast-join segment re-executes cheaply for the sort's sampling
    # (interleaved A/B: 1.26 vs 1.42 CPU-s); barriers pay off over
    # Python stages, not cheap JVM segments
    return (
        keep.join(t(spark, sf, "documents"), "doc_id")
        .join(e, F.col("vec_id") == F.col("doc_id"))
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            dbl(l2_norm(F.col("embedding"))).alias("emb_norm"),
        )
        .orderBy("doc_id")
    )


@declare(
    "x_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def x_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe two-stage salted aggregation (operators/skew.py) —
    hash-identical to the plain GROUP BY, but each hot key spreads over
    n_salts reducers in shuffle 1."""
    from ..operators.skew import salted_agg, salted_count_distinct

    li = t(spark, sf, "lineitem").withColumn(
        "_qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    base = salted_agg(
        li,
        ["l_returnflag"],
        {"n": ("count", "l_orderkey"), "_qty": ("sum", "_qty_dec")},
        n_salts=16,
    )
    nd = salted_count_distinct(li, ["l_returnflag"], "l_suppkey", n_salts=16)
    return (
        base.join(nd, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            F.col("n_distinct_l_suppkey").alias("n_supp"),
            dbl(F.col("_qty"), 2).alias("qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# UDF/UDAF surface (SURVEY §2.6) + token analytics


@declare(
    "x_udaf_centroid_norm",
    oracle="""
    WITH flat AS (
      SELECT label,
             UNNEST(CAST(embedding AS DOUBLE[])) AS x,
             UNNEST(range(64)) AS dim
      FROM embeddings
    ), cent AS (
      SELECT label, dim, AVG(x) AS m FROM flat GROUP BY label, dim
    )
    SELECT label, CAST(CAST(ROUND(SQRT(SUM(m * m)), 4) AS DECIMAL(38,4)) AS DOUBLE) AS cnorm
    FROM cent GROUP BY label ORDER BY label
    """,
)
def x_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-agg pandas UDAF: per-label centroid L2 norm (the engine's
    UDAF surface; Arrow-batched, one group per call)."""
    from ..functions.udfs import centroid_norm

    e = t(spark, sf, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return (
        e.groupBy("label")
        .agg(centroid_norm("embedding").alias("_n"))
        .select("label", dbl(F.col("_n")).alias("cnorm"))
        .orderBy("label")
    )


@declare(
    "x_tokens_positions",
    oracle="""
    SELECT doc_id,
           UNNEST(range(len(string_split(lower(text), ' ')))) AS pos,
           UNNEST(string_split(lower(text), ' ')) AS token
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id, pos
    """,
)
def x_tokpos(spark: SparkSession, sf: str) -> DataFrame:
    """Positional tokenization: UDTF semantics (one ``(pos, token)`` row
    per token) through the built-in posexplode, no Python worker."""
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "token"),
        )
        .orderBy("doc_id", "pos")
    )


@declare(
    "x_token_count_regex",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_re_tokens
    FROM documents ORDER BY doc_id
    """,
)
def x_tokcount(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex class split
    (both JVM-side; regex kept to a dialect-portable subset)."""
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0))
        .cast("long")
        .alias("n_re_tokens"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# corpus-quality / dataset-management operators (operators/quality.py)


@declare(
    "x_hash_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
)
def x_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split keyed on doc_id
    (operators/quality.py:hash_split) — a pure row-local expression, so
    split assignment is reproducible across runs and cluster sizes and
    never migrates rows when the corpus grows."""
    from ..operators.quality import hash_split

    d = t(spark, sf, "documents")
    return d.select(
        "doc_id", hash_split(F.col("doc_id")).alias("split")
    ).orderBy("doc_id")


@declare(
    "x_ngram_repetition",
    oracle="""
    WITH s AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(range(1, len(toks) - 1),
                                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                      ELSE [] END AS grams
          FROM s)
    SELECT doc_id, len(grams) AS n_grams,
           CAST(CAST(ROUND(CASE WHEN len(grams) = 0 THEN 0
                                ELSE (len(grams) - len(list_distinct(grams))) * 1.0 / len(grams)
                           END, 4) AS DECIMAL(38,4)) AS DOUBLE) AS dup_ngram_ratio
    FROM g ORDER BY doc_id
    """,
)
def x_ngram_rep(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-3-gram ratio per document — the Gopher/C4-style
    repetition quality filter (operators/quality.py:
    with_dup_ngram_ratio). All JVM-side HOFs; no shuffle, no UDF.

    r16: the DataFrame helper projects the token array and gram array
    to attributes so the interpreted gram transform runs once per row —
    the single-Column form re-split the text inside the transform
    lambda (O(words²)) and re-built the gram array per reference
    (40.1 → ~1 CPU-s at sf0.1; rows bit-identical)."""
    from ..operators.quality import with_dup_ngram_ratio

    d = with_dup_ngram_ratio(t(spark, sf, "documents"))
    toks = F.split(F.lower("text"), " ")
    nt = F.size(toks)
    n_grams = F.when(nt >= 3, nt - 2).otherwise(F.lit(0))
    return d.select(
        "doc_id",
        n_grams.cast("long").alias("n_grams"),
        dbl(F.col("dup_ngram_ratio")).alias("dup_ngram_ratio"),
    ).orderBy("doc_id")


@declare(
    "x_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE lang WHEN 'en' THEN '34' ELSE '80' END
    ORDER BY doc_id
    """,
)
def x_strat(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling for data mixing: keep ~20% of
    English docs and ~50% of every other language
    (operators/quality.py:stratified_keep). The predicate evaluates inside
    the scan stage, so each domain is downsampled to its mixing weight
    before any shuffle."""
    from ..operators.quality import stratified_keep

    d = t(spark, sf, "documents")
    keep = stratified_keep(
        F.col("doc_id"), F.col("lang"), {"en": "34"}, default="80"
    )
    return d.filter(keep).select("doc_id", "lang").orderBy("doc_id")


@declare(
    "x_token_topk_per_lang",
    oracle="""
    WITH c AS (
      SELECT lang, tk, COUNT(*) AS n
      FROM (SELECT lang, UNNEST(string_split(lower(text), ' ')) AS tk FROM documents)
      GROUP BY lang, tk
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tk) AS rn FROM c
    )
    SELECT lang, tk AS token, n FROM r WHERE rn <= 5 ORDER BY lang, token
    """,
)
def x_topk_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group heavy hitters: top-5 tokens per language. Two-phase hash
    agg (partial combine before the shuffle) then a per-lang window over
    the already-aggregated — tiny — (lang, token) counts, so the window
    sort never sees raw tokens."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents")
    counts = (
        d.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "n")
        .orderBy("lang", "token")
    )


@declare("x_base58_udf", oracle=None)
def x_b58(spark: SparkSession, sf: str) -> DataFrame:
    """Vectorized base58 pandas UDF over the blocks fixture's script bytes
    (the reference's address derivation surface,
    BitcoinBlockHandler.java:148-153). Rows-only check (no SQL base58);
    known-vector parity is unit-tested."""
    from ..functions.udfs import base58_encode
    from ..schemas import pruned_blocks
    from ..sources.tables import load_blocks

    # ingest_id < 200: a deterministic subset — a bare .limit() on an
    # unordered scan picks rows by partition layout, which changes with
    # split-size configs (ADVICE r1).
    b = load_blocks(
        spark,
        prune=pruned_blocks(
            ["ingest_id", "block_id"], input_fields=["input_script_bytes"]
        ),
    ).filter(F.col("ingest_id") < 200)
    return psort(
        b.select("block_id", F.explode("transactions").alias("t"))
        .select("block_id", F.explode("t.inputs").alias("i"))
        .select(
            "block_id",
            F.lower(F.hex("i.input_script_bytes")).alias("script_hex"),
            base58_encode("i.input_script_bytes").alias("script_b58"),
        ),
        "block_id",
        "script_hex",
    )


@declare(
    "x_clean_stopwords",
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_filter(string_split(lower(text), ' '),
                                       x -> NOT list_contains({_STOP_SQL}, x)),
                           ' ') AS cleaned,
           len(string_split(lower(text), ' '))
             - len(list_filter(string_split(lower(text), ' '),
                               x -> NOT list_contains({_STOP_SQL}, x))) AS n_removed
    FROM documents ORDER BY doc_id
    """,
)
def x_clean(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style text cleaning: strip stopword tokens and re-join — the
    filter/normalize step before tokenizer training. Row-local HOFs
    (split / filter / array_join), zero shuffle; the same shape handles
    URL/PII scrubbing by swapping the token predicate for a regex."""
    d = t(spark, sf, "documents")
    toks = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    kept = F.filter(toks, lambda x: ~F.array_contains(stop, x))
    return d.select(
        "doc_id",
        F.array_join(kept, " ").alias("cleaned"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    ).orderBy("doc_id")


# Single source of truth for the HTML-extraction oracle: the SQL replays
# the ENGINE's pattern chain (functions/html.py), so a heuristic change
# can never drift from what the driver compares against — the same
# discipline as the PII_RULES oracle below. Patterns stay in the
# Java/RE2 shared regex subset (module docstring) so both engines agree.
from ..functions.html import (
    ANY_TAG_RE as _H_ANY,
    BLOCK_TAG_RE as _H_BLOCK,
    HTML_ENTITIES as _H_ENTS,
    STRIP_ELEMENT_RES as _H_STRIPS,
)

_H_PRE = (
    "<html><head><title>Doc ", "</title><style>p {color: red}</style>"
    '<script type="text/javascript">var x = 1 < 2;</script></head><body>'
    "<nav>Home About Contact Login</nav><h1>Doc ",
    "</h1><p>",
    '</p><div class="ad">Buy now limited offer</div><p>Footnote: the '
    "&amp; and &lt;tags&gt; decode correctly in the extractor today.</p>"
    "<footer>Copyright 2024 Example Corp All rights reserved</footer>"
    "</body></html>",
)


def _h_fix_sql() -> str:
    a, b, c, d = (s.replace("'", "''") for s in _H_PRE)
    return (
        f"'{a}' || CAST(doc_id AS VARCHAR) || '{b}' || "
        f"CAST(doc_id AS VARCHAR) || '{c}' || text || '{d}'"
    )


def _h_chain_sql(x: str) -> str:
    for pat in _H_STRIPS:
        x = f"regexp_replace({x}, '{pat}', '', 'g')"
    x = f"regexp_replace({x}, '{_H_BLOCK}', chr(10), 'g')"
    x = f"regexp_replace({x}, '{_H_ANY}', '', 'g')"
    for ent, ch in _H_ENTS:
        ch_sql = "''''" if ch == "'" else f"'{ch}'"
        x = f"replace({x}, '{ent}', {ch_sql})"
    return x


_H_WORDS = "list_filter(string_split(trim(b), ' '), w -> w <> '')"
_H_KEEP = (
    f"len({_H_WORDS}) >= 3 AND ("
    f"100 * len(list_filter({_H_WORDS}, w -> list_contains({_STOP_SQL}, lower(w))))"
    f" >= 5 * len({_H_WORDS})"
    f" OR len({_H_WORDS}) >= 30)"
)


@declare(
    "x_html_extract",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_h_fix_sql()} AS html
      FROM documents WHERE doc_id < 150
    ), s AS (
      SELECT doc_id, string_split({_h_chain_sql("html")}, chr(10)) AS raw
      FROM h
    ), b AS (
      SELECT doc_id,
             list_filter(raw, b -> len({_H_WORDS}) > 0) AS blocks,
             list_filter(raw, b -> {_H_KEEP}) AS kept
      FROM s
    )
    SELECT doc_id,
           array_to_string(list_transform(kept, b -> trim(b)), chr(10)) AS content,
           CAST(len(blocks) AS BIGINT) AS n_blocks,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(COALESCE(list_aggregate(
                 list_transform(kept, b -> len(trim(b))), 'sum'), 0) AS BIGINT)
             AS n_chars_kept
    FROM b ORDER BY doc_id
    """,
)
def x_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Raw-HTML → main-text extraction (functions/html.py — r9 VERDICT
    #4): each document is wrapped in a seeded page (head/style/script,
    nav, headline, ad, entity-bearing footnote, footer), then the
    jusText-style chain runs — element drop, block segmentation,
    tag strip, entity decode, per-block stopword-density keep rule.
    Boilerplate blocks (nav/ad/footer: short, stopword-free) must drop;
    the document body and the entity footnote must survive with decoded
    text. The WHOLE stage is row-local Catalyst regex/HOF expressions —
    zero shuffle, fuses into the curation pipeline's single pass
    (plan-asserted). DuckDB replays the identical pattern chain from
    the shared constants."""
    from ..functions.html import html_block_stats, html_extract_text

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_H_PRE[0]), did, F.lit(_H_PRE[1]), did,
        F.lit(_H_PRE[2]), F.col("text"), F.lit(_H_PRE[3]),
    )
    stats = html_block_stats(html)
    return d.select(
        "doc_id",
        html_extract_text(html).alias("content"),
        stats["n_blocks"].alias("n_blocks"),
        stats["n_kept"].alias("n_kept"),
        stats["n_chars_kept"].alias("n_chars_kept"),
    ).orderBy("doc_id")


# --- multilingual extraction fixture (r10 VERDICT #4) -------------------
# one prose sentence per language, each ~15 words (below the 30-word
# long-block escape) and stopword-dense ONLY in its own language — the
# keep decision must come from the per-language list, not the escape
_ML_SENTS = (
    "the dog and the cat have a game with the ball and they are glad",
    "der Hund und die Katze haben ein Spiel mit dem Ball und sie sind froh",
    "le chat et le chien sont dans la maison et ils ont un jeu avec le ballon",
    "el perro y el gato tienen un juego con la pelota y ellos son muy felices",
    "il cane e il gatto hanno un gioco con la palla e loro sono molto felici",
    "jest nowy dom i ona ma kota i pies jest bardzo wielki i dobry oraz niski",
)
_ML_PAGE = (
    "<html><body><nav>Portfolio Impressum Kontakt Download</nav><h1>Doc ",
    "</h1><p>",
    "</p><footer>Copyright 2024 Example Corp</footer></body></html>",
)


def _ml_lists_sql() -> str:
    from ..functions.stopwords import DEFAULT_LANGS, STOPWORDS

    one = lambda ws: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    return "[" + ", ".join(one(STOPWORDS[l]) for l in DEFAULT_LANGS) + "]"


def _ml_langs_sql() -> str:
    from ..functions.stopwords import DEFAULT_LANGS

    return "[" + ", ".join(f"'{l}'" for l in DEFAULT_LANGS) + "]"


_MLB_WORDS = "list_filter(string_split(trim(b), ' '), w -> w <> '')"
_ML_KEEP = (
    f"len({_MLB_WORDS}) >= 3 AND ("
    f"100 * len(list_filter({_MLB_WORDS}, w -> list_contains(stop, lower(w))))"
    f" >= 5 * len({_MLB_WORDS})"
    f" OR len({_MLB_WORDS}) >= 30)"
)


def _ml_oracle() -> str:
    sents = "[" + ", ".join(f"'{s}'" for s in _ML_SENTS) + "]"
    a, b, c = _ML_PAGE
    html = (
        f"'{a}' || CAST(doc_id AS VARCHAR) || '{b}' || "
        f"({sents})[CAST(doc_id % 6 AS INT) + 1] || '{c}'"
    )
    words = (
        "list_filter(string_split(trim(replace(stripped, chr(10), ' ')), ' ')"
        ", w -> w <> '')"
    )
    return f"""
    WITH h AS (
      SELECT doc_id, {html} AS html
      FROM documents WHERE doc_id < 150
    ), s AS (
      SELECT doc_id, {_h_chain_sql("html")} AS stripped FROM h
    ), d AS (
      SELECT doc_id, stripped,
             list_transform({_ml_lists_sql()}, sw ->
               len(list_filter({words}, w -> list_contains(sw, lower(w)))))
               AS scores
      FROM s
    ), p AS (
      SELECT doc_id, stripped,
             list_position(scores, list_aggregate(scores, 'max')) AS idx
      FROM d
    ), q AS (
      SELECT doc_id,
             ({_ml_langs_sql()})[idx] AS lang,
             ({_ml_lists_sql()})[idx] AS stop,
             string_split(stripped, chr(10)) AS blocks
      FROM p
    )
    SELECT doc_id, lang,
           array_to_string(list_transform(
             list_filter(blocks, b -> {_ML_KEEP}), b -> trim(b)), chr(10))
             AS content
    FROM q ORDER BY doc_id
    """


@declare("x_html_extract_multilang", oracle=_ml_oracle())
def x_html_multilang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language HTML extraction (functions/html.py:
    html_extract_multilang — r10 VERDICT #4): each document is wrapped
    in a page whose prose sentence cycles through six languages; the
    operator detects the page language by stopword-hit argmax over the
    compact per-language function-word lists (functions/stopwords.py)
    and runs the jusText keep rule with THAT list — the non-English
    prose survives via its own language's density, never the long-block
    escape, while nav/footer boilerplate drops in every language. The
    DuckDB oracle replays the identical chain — strip, detection argmax
    (same first-max tie-break), list selection, keep rule — from the
    same stopword constants."""
    from ..functions.html import with_html_extract_multilang

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    sent = F.element_at(
        F.array(*[F.lit(s) for s in _ML_SENTS]),
        (F.col("doc_id") % 6).cast("int") + F.lit(1),
    )
    html = F.concat(
        F.lit(_ML_PAGE[0]), F.col("doc_id").cast("string"),
        F.lit(_ML_PAGE[1]), sent, F.lit(_ML_PAGE[2]),
    )
    # r16: the staged DataFrame form — the Column form's struct was
    # consumed twice AND its keep rule re-ran the strip+detect tree per
    # word (functions/html.py:with_html_extract_multilang); rows are
    # bit-identical
    return with_html_extract_multilang(d, html).select(
        "doc_id", "lang", "content"
    ).orderBy("doc_id")


@declare(
    "x_sequence_pack",
    oracle="""
    WITH s AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ), c AS (
      SELECT lang, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM s
    )
    SELECT lang, doc_id, n_tok,
           CAST(cum_before // 512 AS BIGINT) AS seq_id,
           CAST(cum_before % 512 AS BIGINT) AS seq_offset
    FROM c ORDER BY lang, doc_id
    """,
)
def x_pack(spark: SparkSession, sf: str) -> DataFrame:
    """LLM sequence packing (operators/quality.py:pack_sequences):
    concatenate docs per shard (lang here) in doc_id order and cut into
    512-token training sequences. Per-shard window cumsum — no global
    sort; each shard packs independently, so the op scales with shard
    count, not corpus size."""
    from ..operators.quality import pack_sequences

    d = t(spark, sf, "documents")
    packed = pack_sequences(
        d,
        F.size(F.split("text", " ")),
        budget=512,
        shard="lang",
        order="doc_id",
    )
    return packed.orderBy("lang", "doc_id")


# Single source of truth: the oracle replays the ENGINE's rule list, so a
# pattern change in operators/quality.py:PII_RULES can never drift from the
# SQL the driver compares against (review r2 finding).
from ..operators.quality import PII_RULES as _PII_RULES

_PII_EMAIL_RE = next(p for n, p, _ in _PII_RULES if n == "email")
_PII_IP_RE = next(p for n, p, _ in _PII_RULES if n == "ip")
_PII_PHONE_RE = next(p for n, p, _ in _PII_RULES if n == "phone")


@declare(
    "x_pii_redact",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || CASE doc_id % 3
               WHEN 0 THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com'
               WHEN 1 THEN ' src 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.7'
               ELSE ' tel +44 20 ' || CAST(7000 + doc_id % 1000 AS VARCHAR)
             END AS t0
      FROM documents
    ), s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(t0, '{email}')) AS n_email,
             regexp_replace(t0, '{email}', '<EMAIL>', 'g') AS t1
      FROM aug
    ), s2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t1, '{ip}')) AS n_ip,
             regexp_replace(t1, '{ip}', '<IP>', 'g') AS t2
      FROM s1
    ), s3 AS (
      SELECT doc_id, n_email, n_ip,
             len(regexp_extract_all(t2, '{phone}')) AS n_phone,
             regexp_replace(t2, '{phone}', '<PHONE>', 'g') AS t3
      FROM s2
    )
    SELECT doc_id, n_email, n_ip, n_phone,
           length(t3) AS red_len, md5(t3) AS red_md5
    FROM s3 ORDER BY doc_id
    """.format(email=_PII_EMAIL_RE, ip=_PII_IP_RE, phone=_PII_PHONE_RE),
)
def x_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (operators/quality.py:redact_pii) — count-and-scrub
    email / IPv4 / phone patterns, the standard pre-training privacy
    filter. The fixture text carries no PII, so the query first injects a
    deterministic synthetic marker per doc (varying by doc_id % 3) on BOTH
    engines; the oracle then must reproduce the byte-identical redacted
    text (md5-checked), proving Java-regex/RE2 parity on the rule set.
    Row-local regexp chain, zero shuffle."""
    from ..operators.quality import redact_pii

    d = t(spark, sf, "documents")
    did = F.col("doc_id")
    marker = (
        F.when(did % 3 == 0,
               F.concat(F.lit(" mail u"), did.cast("string"),
                        F.lit("@example.com")))
        .when(did % 3 == 1,
              F.concat(F.lit(" src 10."), (did % 200).cast("string"),
                       F.lit(".0.7")))
        .otherwise(F.concat(F.lit(" tel +44 20 "),
                            (did % 1000 + 7000).cast("string")))
    )
    cols = redact_pii(F.concat(F.col("text"), marker))
    red = cols["redacted"]
    return d.select(
        "doc_id",
        cols["n_email"].alias("n_email"),
        cols["n_ip"].alias("n_ip"),
        cols["n_phone"].alias("n_phone"),
        F.length(red).cast("long").alias("red_len"),
        F.md5(red.cast("binary")).alias("red_md5"),
    ).orderBy("doc_id")


# Per-source token budgets for the mixture-sampling query: three tiers so
# every SF exercises a partial cut (each fixture source holds >=1.1k tokens).
_MIX_BUDGETS = {
    **{f"src{i}": 800 for i in range(5)},
    **{f"src{i}": 400 for i in range(5, 10)},
}
_MIX_DEFAULT = 150


def _mix_budget_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {b}" for s, b in sorted(_MIX_BUDGETS.items())
    )
    return f"CASE source {whens} ELSE {_MIX_DEFAULT} END"


@declare(
    "x_budget_mixture",
    oracle=f"""
    WITH s AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM s
    )
    SELECT source, doc_id, n_tok, CAST(cum_before AS BIGINT) AS cum_before
    FROM c
    WHERE cum_before < {_mix_budget_case_sql()}
    ORDER BY source, doc_id
    """,
)
def x_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget data mixing (operators/quality.py:budget_mixture):
    deterministically fill per-source token budgets (800/400/150 tiers) in
    md5 order — the "N tokens of domain D" recipe step of a pretraining
    data pipeline. One window shuffle keyed on (source, md5-prefix
    bucket) with broadcast below-bucket offsets (r7: the largest window
    task holds ~1/4096 of a source, not all of it); md5 ordering makes
    the pick reproducible on any cluster size and oracle-replayable."""
    from ..operators.quality import budget_mixture

    d = t(spark, sf, "documents")
    return budget_mixture(
        d,
        F.size(F.split("text", " ")),
        budgets=_MIX_BUDGETS,
        default_budget=_MIX_DEFAULT,
    ).orderBy("source", "doc_id")


@declare(
    "x_semantic_cluster",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), seeds AS (
      SELECT vec_id AS seed_id, e AS se FROM v WHERE vec_id < 8
    ), sims AS (
      SELECT v.vec_id, s.seed_id,
             CAST(ROUND(list_cosine_similarity(v.e, s.se), 4)
                  AS DECIMAL(38,4)) AS sim4
      FROM v CROSS JOIN seeds s
    ), assign AS (
      SELECT vec_id, seed_id AS cluster, sim4,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim4 DESC, seed_id) AS rn
      FROM sims
    ), a AS (
      SELECT vec_id, cluster, sim4 FROM assign WHERE rn = 1
    )
    SELECT vec_id, cluster, CAST(sim4 AS DOUBLE) AS sim,
           ROW_NUMBER() OVER (PARTITION BY cluster
                              ORDER BY sim4 DESC, vec_id) AS rank_in_cluster
    FROM a ORDER BY vec_id
    """,
)
def x_semcluster(spark: SparkSession, sf: str) -> DataFrame:
    """SemDedup-style semantic clustering: assign every embedding to its
    nearest of K=8 broadcast seed vectors (cosine argmax), then rank
    members within each cluster by closeness — downstream keeps the top-R
    per cluster to deduplicate semantically redundant data.

    Scale shape = IVF assignment: seeds broadcast (K rows), the K-way
    per-row similarity fans out map-side only, and the argmax is
    ``max_by`` — an algebraic aggregate that partial-aggregates BEFORE the
    vec_id shuffle, so the exchange carries one row per vector, not K.
    Both the argmax and the ranking compare 4-dp-ROUNDed decimals with
    explicit id tie-breaks, so cluster membership can never flip on a
    last-ulp cosine difference between engines (ADVICE r1 pattern)."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_similarity

    emb = t(spark, sf, "embeddings")
    seeds = F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("seed_emb"),
        )
    )
    sim4 = F.round(
        cosine_similarity(F.col("embedding"), F.col("seed_emb")), 4
    ).cast("decimal(38,4)")
    assigned = (
        emb.crossJoin(seeds)
        .select("vec_id", F.col("seed_id"), sim4.alias("sim4"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "seed_id", F.struct(F.col("sim4"), -F.col("seed_id"))
            ).alias("cluster"),
            F.max("sim4").alias("sim4"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("sim4").desc(), F.col("vec_id")
    )
    return assigned.select(
        "vec_id",
        "cluster",
        F.col("sim4").cast("double").alias("sim"),
        F.row_number().over(w).alias("rank_in_cluster"),
    ).orderBy("vec_id")


@declare(
    "x_boilerplate_ngrams",
    oracle="""
    WITH g AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents),
           UNNEST(range(1, len(toks)-3+2)) AS t(i)
    ), dg AS (
      SELECT DISTINCT doc_id, g FROM g
    )
    SELECT g AS gram, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM dg GROUP BY g HAVING COUNT(*) >= 5
    ORDER BY n_docs DESC, gram
    """,
)
def x_boiler(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-doc boilerplate n-grams (operators/dedup.py:
    boilerplate_ngrams): word 3-grams shared by >= 5 documents — the
    template-removal candidate list. Per-doc distinct grams explode into
    one partial-aggregated COUNT per gram: a single gram-keyed shuffle,
    and a hot gram is one counter, never a row blowup."""
    from ..operators.dedup import boilerplate_ngrams

    d = t(spark, sf, "documents")
    return boilerplate_ngrams(d, n=3, min_docs=5).orderBy(
        F.col("n_docs").desc(), "gram"
    )


@declare(
    "x_boilerplate_ratio",
    oracle="""
    WITH g AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents),
           UNNEST(range(1, len(toks)-3+2)) AS t(i)
    ), dg AS (
      SELECT DISTINCT doc_id, g FROM g
    ), bp AS (
      SELECT g FROM dg GROUP BY g HAVING COUNT(*) >= 5
    ), per AS (
      SELECT doc_id, COUNT(*) AS total_grams,
             SUM(CASE WHEN g IN (SELECT g FROM bp) THEN 1 ELSE 0 END) AS bp_grams
      FROM dg GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.total_grams, 0) AS BIGINT) AS total_grams,
           CAST(COALESCE(p.bp_grams, 0) AS BIGINT) AS bp_grams,
           CAST(CAST(ROUND(COALESCE(p.bp_grams / p.total_grams, 0.0), 4)
                AS DECIMAL(38,4)) AS DOUBLE) AS bp_ratio
    FROM documents d LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def x_boiler_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc boilerplate contamination (operators/dedup.py:
    boilerplate_ratio): fraction of a doc's distinct 3-grams found in the
    cross-doc template list — the scoring half of template removal. The
    tiny gram list broadcasts; the hit count partial-aggregates before
    its one doc-keyed shuffle."""
    from ..operators.dedup import boilerplate_ngrams, boilerplate_ratio

    d = t(spark, sf, "documents")
    grams = boilerplate_ngrams(d, n=3, min_docs=5)
    r = boilerplate_ratio(d, grams, n=3)
    return r.select(
        "doc_id", "total_grams", "bp_grams",
        dbl(F.col("bp_ratio")).alias("bp_ratio"),
    ).orderBy("doc_id")


@declare(
    "x_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
      FROM documents
    ), cnt AS (
      SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(CAST(ROUND(AVG(-log2(CAST(c.c AS DOUBLE) / CAST(tot.n AS DOUBLE))), 4)
                AS DECIMAL(38,4)) AS DOUBLE) AS bits_per_token
    FROM tok t JOIN cnt c USING (tk) CROSS JOIN tot
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def x_unigram_lp(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style unigram-LM fluency score (operators/quality.py:
    unigram_logprob): per-doc cross-entropy in bits/token under the
    corpus unigram LM. The LM collapses to one row per distinct token
    and broadcasts; the per-doc average partial-aggregates before its
    one doc-keyed shuffle."""
    from ..operators.quality import unigram_logprob

    d = t(spark, sf, "documents")
    r = unigram_logprob(d)
    return r.select(
        "doc_id", "n_tokens",
        dbl(F.col("bits_per_token")).alias("bits_per_token"),
    ).orderBy("doc_id")


@declare(
    "x_ppl_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
      FROM documents
    ), cnt AS (
      SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt
    ), sc AS (
      SELECT t.doc_id,
             CAST(CAST(ROUND(AVG(-log2(CAST(c.c AS DOUBLE) / CAST(tot.n AS DOUBLE))), 4)
                  AS DECIMAL(38,4)) AS DOUBLE) AS bits4
      FROM tok t JOIN cnt c USING (tk) CROSS JOIN tot
      GROUP BY t.doc_id
    )
    SELECT doc_id, bits4,
           CASE NTILE(3) OVER (ORDER BY bits4, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM sc ORDER BY doc_id
    """,
)
def x_ppl_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (operators/quality.py:
    score_buckets): rank-tile the per-doc unigram-LM score — rank-based
    tiling is boundary-exact across engines (a total (score, id) order,
    no float-threshold flips). The global ntile is the declared oracle
    form; at 100 TB the production path is threshold_buckets with
    approx_percentile / held-out cutoffs (row-local, shuffle-free)."""
    from ..operators.quality import score_buckets, unigram_logprob

    d = t(spark, sf, "documents")
    s = unigram_logprob(d).select(
        "doc_id", dbl(F.col("bits_per_token")).alias("bits4")
    )
    return score_buckets(s, "bits4").orderBy("doc_id")


@declare(
    "x_threshold_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
      FROM documents
    ), cnt AS (
      SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt
    ), sc AS (
      SELECT t.doc_id,
             CAST(CAST(ROUND(AVG(-log2(CAST(c.c AS DOUBLE) / CAST(tot.n AS DOUBLE))), 4)
                  AS DECIMAL(38,4)) AS DOUBLE) AS bits4
      FROM tok t JOIN cnt c USING (tk) CROSS JOIN tot
      GROUP BY t.doc_id
    )
    SELECT doc_id, bits4,
           CASE WHEN bits4 <= 4.905 THEN 'head'
                WHEN bits4 <= 4.911 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc ORDER BY doc_id
    """,
)
def x_threshold_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet PRODUCTION bucketing shape (operators/quality.py:
    threshold_buckets): fixed perplexity cutoffs, row-local CASE — zero
    added shuffle, pipelines in the scoring stage at any scale. The
    oracle-checked twin of x_ppl_buckets' rank-tile form (r3 VERDICT #4:
    the scale path must be hash-checked, not just the global-sort cliff
    form). Cutoffs compare the 4-dp-rounded score on BOTH engines, so
    bucket membership cannot flip on a last-ulp difference."""
    from ..operators.quality import threshold_buckets, unigram_logprob

    d = t(spark, sf, "documents")
    s = unigram_logprob(d).select(
        "doc_id", dbl(F.col("bits_per_token")).alias("bits4")
    )
    return threshold_buckets(s, "bits4", cutoffs=(4.905, 4.911)).orderBy(
        "doc_id"
    )


@declare(
    "x_incremental_dedup",
    oracle="""
    WITH hs AS (
      SELECT doc_id, source,
             sha256(array_to_string(string_split(lower(text), ' '), ' ')) AS h
      FROM documents
    ), old AS (
      SELECT DISTINCT h FROM hs WHERE source = 'src0'
    ), batch_win AS (
      SELECT h, MIN(doc_id) AS doc_id
      FROM hs WHERE source <> 'src0' GROUP BY h
    )
    SELECT w.doc_id, hs.source
    FROM batch_win w JOIN hs USING (doc_id)
    WHERE w.h NOT IN (SELECT h FROM old)
    ORDER BY w.doc_id
    """,
)
def x_incr_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingestion dedup (operators/dedup.py:
    incremental_dedup): the src0 partition is the standing corpus, the
    rest is the new batch — keep batch docs whose content hash is new,
    min-id winner within the batch. All shuffles are keyed on the
    content hash and carry one row per distinct content; no text is
    ever compared pairwise."""
    from ..operators.dedup import incremental_dedup

    d = t(spark, sf, "documents")
    seen = d.filter(F.col("source") == "src0")
    batch = d.filter(F.col("source") != "src0")
    return incremental_dedup(batch, seen).select("doc_id", "source").orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# round 3: Gopher quality rules, RAG chunking, Bloom decontamination


@declare(
    "x_gopher_rules",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), m AS (
      SELECT doc_id, toks, len(toks) AS n_words,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_aggregate(list_transform(toks, x -> len(x)), 'sum')
                       * 1.0 / len(toks) END AS mean_word_len,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(generate_series(1, len(toks) - 2),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS g3,
             len(list_filter(toks, x -> list_contains(
                 ['the','a','of','to','and','in'], x))) AS n_stop_hits
      FROM s
    ), r AS (
      SELECT doc_id, n_words, mean_word_len, n_stop_hits,
             CASE WHEN len(g3) = 0 THEN 0.0
                  ELSE (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3)
             END AS dup3_ratio
      FROM m
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(CAST(ROUND(mean_word_len, 4) AS DECIMAL(38,4)) AS DOUBLE) AS mean_word_len,
           CAST(CAST(ROUND(dup3_ratio, 4) AS DECIMAL(38,4)) AS DOUBLE) AS dup3_ratio,
           CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
           CAST(n_words BETWEEN 15 AND 10000 AND mean_word_len >= 2.0
                AND mean_word_len <= 10.0 AND dup3_ratio <= 0.25
                AND n_stop_hits >= 2 AS BIGINT) AS keep
    FROM r ORDER BY doc_id
    """,
)
def x_gopher(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style heuristic quality rules (operators/quality.py:
    with_gopher_metrics/gopher_pass — word-count, mean-word-length,
    duplicate-trigram, stopword-presence bounds). Row-local HOFs, zero
    shuffle; the keep flag is rendered as BIGINT so boolean formatting
    can never hash-diverge between engines.

    r16: metrics come from the DataFrame helper (each heavy HOF
    evaluated once per row) and the keep flag references the metric
    ATTRIBUTES instead of re-deriving every metric expression — the
    Column-API form re-ran the interpreted gram/aggregate trees ~8×
    per row (64.9 → 1.6 CPU-s, wall 62 → 1.0 s at sf0.1, measured
    interleaved; rows bit-identical)."""
    from ..operators.quality import gopher_pass, with_gopher_metrics

    d = with_gopher_metrics(t(spark, sf, "documents"))
    keep = gopher_pass(
        {
            k: F.col(k)
            for k in ("n_words", "mean_word_len", "dup3_ratio", "n_stop_hits")
        }
    )
    return d.select(
        "doc_id",
        "n_words",
        dbl(F.col("mean_word_len")).alias("mean_word_len"),
        dbl(F.col("dup3_ratio")).alias("dup3_ratio"),
        "n_stop_hits",
        keep.cast("long").alias("keep"),
    ).orderBy("doc_id")


@declare(
    "x_doc_chunks",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents WHERE doc_id < 100
    ), c AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(0, len(toks) - 1, 24)) AS start
      FROM s
    )
    SELECT doc_id,
           CAST(start / 24 AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, start + 1, start + 32)) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_id
    """,
)
def x_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding token-window RAG chunking (operators/chunking.py:
    chunk_tokens, 32-token windows every 24): sequence + slice +
    posexplode — a Generate over row-local arrays, shuffle-free and
    append-stable at any corpus size."""
    from ..operators.chunking import chunk_tokens

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return chunk_tokens(d, size=32, stride=24).orderBy("doc_id", "chunk_id")


@declare("x_bloom_decontaminate", oracle=None)
def x_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-bitset decontamination scale path (operators/dedup.py:
    contamination_hits_bloom): contaminant 13-grams → broadcast bitset
    (xxhash64 positions, built and probed with the SAME JVM expression),
    doc side probes with a vectorized Arrow-batch bit test — no join, no
    contaminant-side shuffle. Engine-defined hashing → rows-only driver
    check; the no-false-negative / bounded-false-positive contract vs the
    exact contamination_hits is test-asserted (tests/test_operators.py).
    Contaminants here: documents doc_id < 20 replayed against the corpus
    (same fixture convention as x_decontaminate)."""
    from ..operators.dedup import contamination_hits_bloom

    d = t(spark, sf, "documents")
    cont = d.filter(F.col("doc_id") < 20)
    return contamination_hits_bloom(d, cont, n=13).orderBy("doc_id")


@declare(
    "x_epoch_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5('7' || '|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
             AS position
    FROM h ORDER BY position
    """,
)
def x_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-epoch training-order permutation
    (operators/quality.py:epoch_shuffle, epoch=7): position = rank of
    md5(epoch|doc_id) — reproducible across re-runs and partitionings,
    unlike orderBy(rand(seed)). The one legitimate global sort in the
    pipeline; range-partitioned, no single-reducer funnel."""
    from ..operators.quality import epoch_shuffle

    d = t(spark, sf, "documents")
    return epoch_shuffle(d, epoch=7).orderBy("position")


@declare(
    "x_length_batches",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), b AS (
      SELECT doc_id, n_tok, CAST(n_tok // 25 AS BIGINT) AS bucket,
             CAST((ROW_NUMBER() OVER (PARTITION BY n_tok // 25
                                      ORDER BY doc_id) - 1) // 8 AS BIGINT)
               AS batch_id
      FROM s
    )
    SELECT bucket, batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MAX(n_tok) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(CAST(ROUND((MAX(n_tok) * COUNT(*) - SUM(n_tok)) * 1.0
                           / (MAX(n_tok) * COUNT(*)), 4)
                     AS DECIMAL(38,4)) AS DOUBLE) AS padding_frac
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def x_length_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Length-bucketed batch assembly (operators/quality.py:
    length_batches, 25-token buckets, batches of 8) with per-batch
    padding-waste accounting — per-bucket bounded sorts, never a global
    order."""
    from ..operators.quality import length_batches

    d = t(spark, sf, "documents")
    toks = F.size(F.split(F.lower("text"), " "))
    out = length_batches(d, toks, batch_size=8, bucket_width=25)
    return out.select(
        "bucket",
        "batch_id",
        "n_docs",
        "max_len",
        F.col("sum_tokens").cast("long").alias("sum_tokens"),
        dbl(F.col("padding_frac")).alias("padding_frac"),
    ).orderBy("bucket", "batch_id")


@declare(
    "x_range_join_binned",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
    FROM (SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_d
          FROM lineitem) l
    JOIN (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
                 CAST(o_orderdate AS DATE) + 7 AS e
          FROM orders WHERE o_orderkey < 100) o
      ON l.ship_d >= o.s AND l.ship_d <= o.e
    ORDER BY 1, 2, 3
    """,
)
def x_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Pure interval containment join (NO equi key — the shape Catalyst
    can only nested-loop): every lineitem shipped within 7 days of an
    order's date, via operators/interval.py:bin_range_join — intervals
    exploded onto 7-day bins, points mapped to one bin, plain equi-join
    on the bin + exact refine. Plan-asserted: hash join, never a
    nested loop."""
    from ..operators.interval import bin_range_join

    li = t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_d"),
    )
    o = (
        t(spark, sf, "orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            F.col("o_orderkey"),
            F.col("o_orderdate").cast("date").alias("s"),
            F.date_add(F.col("o_orderdate").cast("date"), 7).alias("e"),
        )
    )
    out = bin_range_join(
        li,
        o,
        F.unix_date(F.col("ship_d")),
        F.unix_date(F.col("s")),
        F.unix_date(F.col("e")),
        bin_width=7,
    )
    return out.select("l_orderkey", "l_linenumber", "o_orderkey").orderBy(
        "l_orderkey", "l_linenumber", "o_orderkey"
    )


@declare(
    "x_profile_stats",
    oracle="""
    SELECT 'l_orderkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_str,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_linenumber', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_linenumber) AS BIGINT),
           CAST(COUNT(DISTINCT l_linenumber) AS BIGINT),
           CAST(MIN(l_linenumber) AS VARCHAR),
           CAST(MAX(l_linenumber) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           CAST(MIN(l_returnflag) AS VARCHAR),
           CAST(MAX(l_returnflag) AS VARCHAR)
    FROM lineitem
    ORDER BY 1
    """,
)
def x_profile(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style dataset profile (operators/quality.py:
    profile_columns) over three lineitem columns — one scan, one
    two-phase aggregate, unpivoted to a row per column. exact_ndv here
    for oracle parity; the operator defaults to HLL
    approx_count_distinct (no Expand row replication) for the 100 TB
    path."""
    from ..operators.quality import profile_columns

    li = t(spark, sf, "lineitem")
    return profile_columns(
        li, ["l_orderkey", "l_linenumber", "l_returnflag"], exact_ndv=True
    ).orderBy("column")


@declare(
    "x_c4_line_filter",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), ml AS (
      SELECT doc_id,
             array_to_string(
               list_transform(generate_series(0, len(toks) - 1, 12),
                              st -> array_to_string(
                                  list_slice(toks, st + 1, st + 12), ' ')),
               chr(10)) AS mtext
      FROM s
    ), f AS (
      SELECT doc_id, string_split(mtext, chr(10)) AS lines FROM ml
    ), k AS (
      SELECT doc_id, lines,
             list_filter(lines, l -> len(string_split(l, ' ')) >= 12
                                     AND NOT list_contains(
                                         string_split(l, ' '), 'slow')) AS kept
      FROM f
    )
    SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           -- DuckDB renders an EMPTY list as NULL here; Spark's
           -- array_join gives '' — canonicalize to ''
           COALESCE(array_to_string(kept, chr(10)), '') AS cleaned
    FROM k ORDER BY doc_id
    """,
)
def x_c4(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line cleaning (operators/quality.py:c4_line_filter).
    The single-line fixture docs are first re-lined at 12 tokens (both
    engines identically), then lines shorter than 12 words or containing
    the blocklisted word are dropped — exercising the line-granular
    cleaning path on real data. Row-local, shuffle-free."""
    from ..operators.quality import c4_line_filter

    d = t(spark, sf, "documents")
    toks = F.split(F.lower("text"), " ")
    mtext = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(12)),
            lambda s: F.array_join(F.slice(toks, s + 1, 12), " "),
        ),
        "\n",
    )
    m = c4_line_filter(mtext, min_words=12, blocklist=("slow",))
    return d.select(
        "doc_id",
        m["n_lines"].alias("n_lines"),
        m["n_kept"].alias("n_kept"),
        m["cleaned"].alias("cleaned"),
    ).orderBy("doc_id")


@declare(
    "x_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(CAST(ROUND(SUM(volume), 2) AS DECIMAL(38,2)) AS DOUBLE)
             AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                           AND TIMESTAMP '1998-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def x_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7-shaped volume shipping: revenue flowing between a PAIR
    of nations in either direction, per year. The classic double-dip
    into the same dimension (nation joined twice under different
    roles): both nation sides broadcast, the disjunctive pair predicate
    applies across them after the fact joins, and l_shipdate's range
    pushes to the lineitem scan. Exact-decimal volume sums, year from
    the shipdate — one fact pipeline plus two map-side probes at
    100 TB."""
    from ._util import dec2, money

    n1 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") <= "1998-12-31")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(t(spark, sf, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t(spark, sf, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(t(spark, sf, "supplier")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            money(
                F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount")))
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@declare(
    "x_tpch_q8",
    oracle="""
    SELECT o_year,
           CAST(ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                                    ELSE CAST(0 AS DECIMAL(18,2)) END)
                           AS DOUBLE)
                      / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE)
             AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'MEDIUM'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def x_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8-shaped national market share: within one region's
    customers and one product type, the fraction of yearly revenue
    supplied by one nation — an 8-relation join feeding a CONDITIONAL
    aggregation ratio. part filters to its type BEFORE broadcasting
    (semi-reduction of the fact scan), region→nation collapses onto the
    customer side, and the share divides two exact-decimal sums as
    doubles at the output boundary. Everything dimensional broadcasts;
    the fact pipeline shuffles only on its join keys."""
    from ._util import dec2

    p = t(spark, sf, "part").filter(F.col("p_type") == "MEDIUM")
    r = t(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    n1 = (
        t(spark, sf, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    n2 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    vol = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    joined = (
        t(spark, sf, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(t(spark, sf, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t(spark, sf, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t(spark, sf, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(zero)).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@declare(
    "x_tpch_q22",
    oracle="""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    ),
    lapsed AS (
      SELECT n_name AS cntry, c_acctbal
      FROM customer JOIN nation ON c_nationkey = n_nationkey, avg_bal
      WHERE c_acctbal > ab
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2001-01-01'
        )
    )
    SELECT cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS totacctbal
    FROM lapsed GROUP BY cntry ORDER BY cntry
    """,
)
def x_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22-shaped global sales opportunity: above-average-balance
    customers with NO recent orders, grouped by country — the scalar
    aggregate subquery + NOT EXISTS anti-join double. Spark-first: the
    average is a one-row aggregate CROSS-BROADCAST into the filter (an
    in-plan scalar, no driver round-trip), the recency anti-join is a
    LeftAnti against the date-pruned orders scan, and nation broadcasts
    for the country name. At 100 TB: one customer scan, one pruned
    orders scan, zero per-row subqueries."""
    from ._util import dec2, money

    c = t(spark, sf, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    recent = t(spark, sf, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    ).select("o_custkey")
    n = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("cntry")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("nk"))
        .groupBy("cntry")
        .agg(
            F.count("*").alias("numcust"),
            money(F.sum(dec2("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


@declare(
    "x_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                       AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def x_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: a LEFT OUTER
    join whose extra predicate lives in the JOIN CONDITION (so
    non-matching customers still survive with count 0 — pushing it to a
    WHERE would silently drop them), then TWO aggregation levels:
    per-customer counts, then the histogram of counts. The second agg's
    key space is tiny (distinct order counts), so its shuffle is
    bounded regardless of corpus size; the first agg rides the join's
    customer-key partitioning."""
    c = t(spark, sf, "customer").select("c_custkey")
    o = t(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@declare(
    "x_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                  AS DECIMAL(38,2)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def x_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: an aggregated revenue view
    consumed TWICE — once for its global max (a one-row broadcast
    aggregate in-plan, the scalar-subquery pattern) and once joined
    back against the equality — with exact-decimal revenue so the
    max-equality cannot drift between engines. The view is computed
    once per branch on a date-pruned lineitem scan; supplier
    broadcasts."""
    from ._util import dec2

    rev = (
        t(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount"))), 2
            )
            .cast("decimal(38,2)")
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@declare(
    "x_tpch_q17",
    oracle="""
    WITH pstats AS (
      SELECT l_partkey, COUNT(*) AS cnt, SUM(l_quantity) AS sq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                     AS DECIMAL(38,2)) AS DOUBLE) AS small_qty_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pstats ON pstats.l_partkey = lineitem.l_partkey
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND 5 * l_quantity * cnt < sq
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def x_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity-order revenue: a CORRELATED
    scalar AVG subquery per part (``l_quantity < 0.2·avg(l_quantity)
    over the same part``) decorrelated into one partial aggregate over
    the probe side joined back on the part key — the
    aggregate-then-rejoin decorrelation Catalyst cannot do for us when
    the query arrives as DataFrame ops. The threshold compares
    ``5·qty·cnt < sum`` in exact integral-double arithmetic (every
    l_quantity is integral), so no float boundary can flip a row
    between engines. The brand dimension broadcasts; the per-part
    stats aggregate shrinks lineitem to its key set BEFORE the join,
    which is what survives a 100 TB fact table."""
    from ._util import dec2, money

    li = t(spark, sf, "lineitem")
    pstats = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.count("*").alias("cnt"), F.sum("l_quantity").alias("sq")
    )
    p = t(spark, sf, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(pstats, F.col("_pk") == F.col("l_partkey"))
        .filter(5 * F.col("l_quantity") * F.col("cnt") < F.col("sq"))
        .groupBy("p_brand")
        .agg(
            money(F.sum(dec2("l_extendedprice"))).alias("small_qty_revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


@declare(
    "x_tpch_q21",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def x_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21-shaped waiting-supplier query (late = shipped >90 days
    after the order date, the schema's proxy for receipt>commit): for
    finalized multi-supplier orders, count per supplier the late lines
    where NO OTHER supplier in the order was late — a correlated
    EXISTS + NOT EXISTS pair over the SAME fact table, decorrelated to
    one LeftSemi and one LeftAnti self-join on the order key with a
    non-equi supplier-inequality condition. Both probe sides are the
    order-keyed lineitem projection, so all three legs co-partition on
    l_orderkey at scale; nation+supplier broadcast. The NOT EXISTS leg
    needs o_orderdate (correlate through the order), carried on the
    probe row — the same double-role decorrelation evidence as
    x_tpch_q7/q22, extended to self-join EXISTS pairs."""
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = t(spark, sf, "supplier")
    n = t(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    late1 = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    others = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk"),
        F.col("l_shipdate").alias("_sd"),
    )
    waiting = (
        late1.join(
            others,
            (F.col("l_orderkey") == F.col("_ok"))
            & (F.col("l_suppkey") != F.col("_sk")),
            "left_semi",
        )
        .join(
            others,
            (F.col("l_orderkey") == F.col("_ok"))
            & (F.col("l_suppkey") != F.col("_sk"))
            & (F.col("_sd") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_anti",
        )
    )
    return (
        waiting.join(
            F.broadcast(s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@declare(
    "x_tpch_q2",
    oracle="""
    WITH eligible AS (
      SELECT s_suppkey, s_name FROM supplier
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    ),
    offer AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      FROM lineitem JOIN eligible ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    )
    SELECT p_partkey, s_name,
           CAST(CAST(ROUND(cost, 2) AS DECIMAL(38,2)) AS DOUBLE) AS cost
    FROM offer
    JOIN part ON p_partkey = l_partkey
    JOIN eligible ON s_suppkey = l_suppkey
    WHERE p_size < 10
      AND cost = (SELECT MIN(o2.cost) FROM offer o2
                  WHERE o2.l_partkey = offer.l_partkey)
    ORDER BY p_partkey, s_name
    """,
)
def x_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier (partsupp reshaped onto
    lineitem: a (part, supplier) pair's offer cost is its cheapest
    shipped line): for small parts, the EUROPE suppliers achieving the
    per-part minimum — a correlated scalar MIN subquery in WHERE,
    decorrelated into a per-part min aggregate joined back on the part
    key (the oracle keeps the subquery correlated to prove the
    semantics). Exact DECIMAL min/compare so a tie at the minimum can't
    split across engines. The region→nation→supplier chain collapses to
    one broadcast BEFORE the fact aggregate, and the per-part best
    table is the ALREADY-AGGREGATED offer re-aggregated — both joins
    downstream of the only fact-sized shuffle. Q2's classic plan trap
    (re-scanning the fact for the subquery) never appears."""
    from ._util import dec2, money

    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eligible = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    offer = (
        li.join(F.broadcast(eligible), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(dec2("l_extendedprice")).alias("cost"))
    )
    best = offer.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("cost").alias("mincost")
    )
    p = t(spark, sf, "part").filter(F.col("p_size") < 10)
    return (
        offer.join(best, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("cost") == F.col("mincost"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(eligible), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select("p_partkey", "s_name", money(F.col("cost")).alias("cost"))
        .orderBy("p_partkey", "s_name")
    )


@declare(
    "x_tpch_q11",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2')
      GROUP BY 1
    )
    SELECT l_partkey,
           CAST(CAST(ROUND(value, 2) AS DECIMAL(38,2)) AS DOUBLE)
             AS part_value
    FROM val
    WHERE value * 650 > (SELECT SUM(value) FROM val)
    ORDER BY l_partkey
    """,
)
def x_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11-shaped important-stock query: per-part value held by
    two nations' suppliers, keeping parts worth more than a fixed
    FRACTION of the total — an uncorrelated scalar aggregate subquery
    in WHERE, attached as a broadcast ONE-ROW cross join (never a
    per-row subquery or driver round-trip). The scalar branch re-plans
    the same column-pruned three-column scan (Spark's exchange reuse
    skips it here because the dimension chain nests a broadcast inside
    the broadcast build — with a single-table dim it fires; a 100 TB
    run persists the per-part frame or accepts one extra pruned scan,
    exactly Q15's documented trade). The fraction compare is
    cross-multiplied into exact decimal space (``value·650 > total``
    for 1/650), never a float division at the boundary."""
    from ._util import dec2, money

    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    n = t(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    val = (
        li.join(
            F.broadcast(
                s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(dec2("l_extendedprice")).alias("value"))
    )
    total = val.agg(F.sum("value").alias("_total"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value") * 650 > F.col("_total"))
        .select("l_partkey", money(F.col("value")).alias("part_value"))
        .orderBy("l_partkey")
    )


@declare(
    "x_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'ECONOMY'
      AND p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def x_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity count: distinct suppliers
    per (brand, type, size) for small non-ECONOMY parts, EXCLUDING a
    complained-about supplier list — NOT IN over a non-null key,
    planned as a broadcast LeftAnti (null-safe NOT IN would need the
    null-aware variant; s_suppkey is the PK, so anti-join semantics are
    exactly equal and the oracle keeps the NOT IN spelling to prove
    it). The distinct-count shuffles the slim (attrs, suppkey)
    projection once; both dimension filters broadcast and prune the
    fact rows BEFORE that Exchange."""
    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").filter(
        (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(list(range(1, 9)))
    )
    bad = t(spark, sf, "supplier").filter(F.col("s_name").like("%7"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@declare(
    "x_tpch_q20",
    oracle="""
    SELECT s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem l1
      WHERE l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
      )
      GROUP BY l_suppkey, l_partkey
      HAVING 8 * SUM(l_quantity) > (
        SELECT SUM(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l1.l_partkey
      )
    )
    ORDER BY s_name
    """,
)
def x_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20-shaped dominant-supplier query (partsupp availqty
    reshaped to shipped quantity): suppliers who shipped more than an
    eighth of some 'small%' part's total volume — a DOUBLY nested
    subquery (IN over a grouped HAVING whose threshold is a correlated
    scalar SUM), the deepest decorrelation shape in the TPC-H suite.
    The Spark plan restricts the fact to the LIKE-matched parts ONCE
    (broadcast), derives both the per-(part,supplier) and per-part
    totals from that SAME filtered frame (partial aggregate reuse — the
    correlated subquery never re-scans lineitem), and reaches supplier
    as a final LeftSemi. Quantities are integral doubles, so ``8·sq >
    total`` is exact in both engines."""
    li = t(spark, sf, "lineitem")
    plike = t(spark, sf, "part").filter(F.col("p_name").like("small%"))
    filtered = li.join(
        F.broadcast(plike), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_suppkey", "l_quantity")
    sp = filtered.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("sq")
    )
    pt = filtered.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("l_quantity").alias("tq")
    )
    qualified = (
        sp.join(pt, F.col("l_partkey") == F.col("_pk"))
        .filter(8 * F.col("sq") > F.col("tq"))
        .select("l_suppkey")
    )
    return (
        t(spark, sf, "supplier")
        .join(
            qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name")
        .orderBy("s_name")
    )


@declare(
    "x_collapse_repeats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_segments,
           CAST(len(t) - len([t[i] FOR i IN range(1, len(t)+1)
                              IF i = 1 OR t[i] != t[i-1]])
                AS BIGINT) AS n_collapsed,
           array_to_string([t[i] FOR i IN range(1, len(t)+1)
                            IF i = 1 OR t[i] != t[i-1]], ' ') AS cleaned
    FROM t ORDER BY doc_id
    """,
)
def x_collapse_repeats(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document consecutive-repeat collapse (operators/quality.py
    :collapse_repeats) — the self-repetition cleanup (generation-loop
    stutter, scraper echoes): runs of identical segments collapse to
    their first occurrence, non-adjacent repeats untouched. Word-level
    here ('the the' artifacts); pure row-local array filter — zero
    shuffle, pipelines in the scan stage (plan-asserted). DuckDB twin
    is the identical index-aware list comprehension."""
    from ..operators.quality import collapse_repeats

    d = t(spark, sf, "documents")
    return collapse_repeats(d, delimiter=" ").orderBy("doc_id")


@declare(
    "x_curation_pipeline",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    c AS (
      SELECT doc_id,
             [t[i] FOR i IN range(1, len(t)+1)
              IF i = 1 OR t[i] != t[i-1]] AS toks
      FROM t
    ),
    lt AS (
      SELECT doc_id, list_transform(toks, x -> lower(x)) AS lt FROM c
    ),
    cls AS (
      SELECT doc_id, CAST(len(lt) AS BIGINT) AS n_tokens,
             CAST(list_aggregate(list_transform(lt, tk ->
               (CAST(('0x' || substr(md5(tk), 1, 8))::UBIGINT % 4096
                     AS BIGINT) * 2654435761 + 12345) % 2001 - 1000),
               'sum') AS BIGINT) AS score_milli,
             lt
      FROM lt
    ),
    kept AS (SELECT * FROM cls WHERE score_milli > 0),
    grams AS (
      SELECT doc_id, n_tokens, score_milli,
             list_concat(lt, [lt[i] || ' ' || lt[i+1]
                              FOR i IN range(1, len(lt))]) AS g
      FROM kept
    ),
    w AS (
      SELECT doc_id, n_tokens, score_milli,
             CAST(list_aggregate(list_transform(g, x ->
               (CAST(('0x' || substr(md5(x), 1, 8))::UBIGINT % 4096
                     AS BIGINT) * 2654435761 + 999331) % 2001 - 1000),
               'sum') AS BIGINT) AS logw_milli
      FROM grams
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY logw_milli DESC, doc_id) AS rn
      FROM w
    )
    SELECT doc_id, n_tokens, score_milli, logw_milli
    FROM r WHERE rn <= 100 ORDER BY doc_id
    """,
)
def x_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The r9 curation ops COMPOSED as one pipeline — repeat collapse →
    model-based quality filter → DSIR importance ranking → top-100 —
    the per-document leg of a training-data curation run. Because every
    stage is a row-local projection (keep_cols threads columns through
    the scorers, no joins), the whole chain is ONE zero-shuffle
    whole-stage-codegen pass over the corpus feeding a
    TakeOrderedAndProject (plan-asserted) — the 100 TB shape: score
    everything in the scan stage, ship only the winners. Integer
    arithmetic end to end; DuckDB rebuilds the identical chain."""
    from ..operators.dsir import dsir_logweights
    from ..operators.quality import collapse_repeats, hashed_linear_score

    d = t(spark, sf, "documents")
    c = collapse_repeats(d, delimiter=" ")
    s = hashed_linear_score(c, text_col="cleaned", keep_cols=("cleaned",))
    kept = s.filter(F.col("keep") == 1)
    w = dsir_logweights(
        kept, text_col="cleaned", keep_cols=("n_tokens", "score_milli")
    )
    return (
        w.select("doc_id", "n_tokens", "score_milli", "logw_milli")
        .orderBy(F.desc("logw_milli"), "doc_id")
        .limit(100)
        .orderBy("doc_id")
    )


@declare(
    "x_bigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(range(len(string_split(lower(text), ' ')))) AS pos,
             UNNEST(string_split(lower(text), ' ')) AS w,
             string_split(lower(text), ' ') AS t
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, pos, w,
             CASE WHEN pos > 0 THEN t[pos] ELSE NULL END AS prev
      FROM tok
    ),
    uni AS (SELECT w AS uw, COUNT(*) AS cu FROM pairs GROUP BY 1),
    nt AS (SELECT SUM(cu) AS n FROM uni),
    bi AS (
      SELECT prev AS bp, w AS bw, COUNT(*) AS cb
      FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    ctx AS (SELECT bp AS cp, SUM(cb) AS cc FROM bi GROUP BY 1),
    scored AS (
      SELECT p.doc_id,
             CASE
               WHEN p.prev IS NULL THEN CAST(u.cu AS DOUBLE) / n
               WHEN b.cb IS NOT NULL THEN CAST(b.cb AS DOUBLE) / cc
               ELSE 0.4 * CAST(u.cu AS DOUBLE) / n
             END AS prob
      FROM pairs p
      LEFT JOIN uni u ON u.uw = p.w
      LEFT JOIN bi b ON b.bp = p.prev AND b.bw = p.w
      LEFT JOIN ctx c ON c.cp = p.prev
      CROSS JOIN nt
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(CAST(ROUND(AVG(-log2(prob)), 4) AS DECIMAL(38,4))
                AS DOUBLE) AS bits_per_token
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def x_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Stupid-Backoff bigram LM self-scoring (operators/quality.py:
    bigram_logprob, Brants et al. 2007) — the word-ORDER-sensitive
    fluency signal the unigram CCNet scorer can't see: seen bigrams
    score their in-context MLE, unseen ones back off to 0.4·unigram.
    Count tables collapse to distinct grams before the postings-shaped
    probes; the per-doc average partial-aggregates map-side. DuckDB
    rebuilds the identical model from plain counts."""
    from ..operators.quality import bigram_logprob

    d = t(spark, sf, "documents")
    return bigram_logprob(d).select(
        "doc_id", "n_tokens", dbl(F.col("bits_per_token")).alias("bits_per_token")
    ).orderBy("doc_id")


@declare(
    "x_line_dedup",
    oracle="""
    WITH lines AS (
      SELECT doc_id,
             UNNEST(range(len(string_split(text, ' a ')))) AS pos,
             UNNEST(string_split(text, ' a ')) AS line
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY line
                                ORDER BY doc_id, pos) AS rn
      FROM lines
    ),
    rebuilt AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(line, ' a ' ORDER BY pos) AS cleaned
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' a ')) AS BIGINT) AS n_lines,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.cleaned, '') AS cleaned
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def x_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level exact line dedup (operators/dedup.py:
    corpus_dedup_lines) — the RefinedWeb/Dolma stage: every segment is
    kept only at its first corpus occurrence (by doc_id, pos), later
    occurrences cut, survivors rejoined in order; all-duplicate docs
    survive empty. The fixture carries no newlines, so the query
    delimits on the frequent ``' a '`` token to exercise real
    multi-segment cross-doc duplication. The winner per distinct line
    is a map-side-combined min(struct) aggregate on the line's md5 —
    the hot-boilerplate key collapses per task — and only KEPT lines
    reach the rebuild shuffle."""
    from ..operators.dedup import corpus_dedup_lines

    d = t(spark, sf, "documents")
    return corpus_dedup_lines(d, delimiter=" a ").orderBy("doc_id")


# ---------------------------------------------------------------------------
# perceptual image near-dup (r8 VERDICT #1 — pHash + Hamming-banded join)

_PHASH_CODES_SQL = """
    WITH px AS (
      SELECT doc_id, list_transform(range(1024), i ->
        CAST(((doc_id // 5)*31 + 17*i + (i*i)%251 +
              CASE WHEN i = doc_id % 5 THEN doc_id % 5 ELSE 0 END)
             % 256 AS DOUBLE)) AS p
      FROM documents
    ),
    coef AS (
      SELECT doc_id, list_transform(range(64), c ->
        CASE WHEN abs(list_aggregate(list_transform(range(1024), i ->
          p[i+1] * cos(pi()*(2*(i%32)+1)*(c%8)/64.0)
                 * cos(pi()*(2*(i//32)+1)*(c//8)/64.0)), 'sum')) < 1e-6
             THEN 0.0
             ELSE list_aggregate(list_transform(range(1024), i ->
          p[i+1] * cos(pi()*(2*(i%32)+1)*(c%8)/64.0)
                 * cos(pi()*(2*(i//32)+1)*(c//8)/64.0)), 'sum') END) AS f
      FROM px
    ),
    med AS (SELECT doc_id, f, list_aggregate(f[2:], 'median') AS m FROM coef),
    codes AS (
      SELECT doc_id, CAST(list_aggregate(list_transform(range(1,64), j ->
          CASE WHEN f[j+1] > m THEN (CAST(1 AS BIGINT) << (j-1)) ELSE 0 END),
          'sum') AS BIGINT) AS phash
      FROM med
    )
"""


@declare(
    "x_phash_codes",
    oracle=_PHASH_CODES_SQL + "SELECT doc_id, phash FROM codes ORDER BY doc_id",
)
def x_phash_codes(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual 63-bit pHash per synthesized image, END-TO-END through
    the real pipeline (operators/phash.py): id-arithmetic 64×64 gray
    image → real PNG encode → magic-dispatch decode → luma → box-resize
    to 32×32 → 2-D DCT-II → median threshold → packed code. The 2×2
    superpixel construction makes the box-resize exact, so DuckDB
    recomputes the identical code from pure cos/median/bit arithmetic —
    any mangled byte anywhere in codec, resize, DCT or packing diverges
    the hash. Embarrassingly parallel Arrow-batched map; zero shuffle."""
    from ..operators.phash import phash_fixture_codes

    d = t(spark, sf, "documents")
    return psort(phash_fixture_codes(d), "doc_id")


@declare(
    "x_phash_neardup",
    oracle=_PHASH_CODES_SQL + """
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM codes a JOIN codes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    ORDER BY d1, d2
    """,
)
def x_phash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-dup pairs at Hamming radius 3 over the pHash codes —
    EXACT results from a banded plan (operators/phash.py): each 63-bit
    code splits into four disjoint 16-bit bands; within radius 3 the
    pigeonhole guarantees a shared band, so the banded equi-join's
    candidate set has recall 1.0 and the bit_count(xor) verify makes
    precision 1.0. The oracle cross-joins codes (fine at sf0.01); the
    Spark plan never does — it is an equi-join on (band_id, band_val),
    linear in bucket collisions, the same shape that holds MinHash at
    100 TB."""
    from ..operators.phash import phash_fixture_codes, phash_neardup_pairs

    d = t(spark, sf, "documents")
    codes = phash_fixture_codes(d)
    pairs = phash_neardup_pairs(codes, max_hamming=3)
    return pairs.select(
        "d1", "d2", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("d1", "d2")


@declare(
    "x_quality_classifier",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tk), 1, 8))::UBIGINT % 4096
                  AS BIGINT) AS bucket
      FROM tok
    ),
    s AS (
      SELECT doc_id,
             CAST(SUM((bucket * 2654435761 + 12345) % 2001 - 1000)
                  AS BIGINT) AS score_milli,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM b GROUP BY doc_id
    )
    SELECT d.doc_id, s.n_tokens, s.score_milli,
           CAST(CASE WHEN s.score_milli > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS keep
    FROM documents d JOIN s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def x_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based document filtering (operators/quality.py:
    hashed_linear_score) — fastText-style hashed bag-of-words linear
    classifier inference, the DCLM/FineWeb-Edu pipeline step: per
    token, an engine-portable md5-prefix bucket hash indexes an integer
    milli-weight vector; the doc keeps iff its summed score beats the
    threshold, all in exact integer space so no float boundary can
    flip a row. One zero-shuffle whole-stage-codegen projection over
    the corpus (the model is KBs; the corpus never moves) — DuckDB
    recomputes hash, weights and verdict from plain arithmetic."""
    from ..operators.quality import hashed_linear_score

    d = t(spark, sf, "documents")
    return hashed_linear_score(d).orderBy("doc_id")


_DSIR_WEIGHTS_CTE = """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(t) AS g FROM tok
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM tok
    ),
    b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096
                  AS BIGINT) AS bucket
      FROM grams
    ),
    w AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM((bucket * 2654435761 + 999331) % 2001 - 1000)
                  AS BIGINT) AS logw_milli
      FROM b GROUP BY doc_id
    )
"""


@declare(
    "x_dsir_weights",
    oracle=_DSIR_WEIGHTS_CTE
    + """
    SELECT doc_id, n_grams, logw_milli FROM w ORDER BY doc_id
    """,
)
def x_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance log-weights (operators/dsir.py:dsir_logweights) —
    per-document ``log p_target/p_source`` over hashed unigram+bigram
    buckets (Xie et al. 2023), integer milli-nats end to end. One
    zero-shuffle whole-stage projection: the grams array is scored in
    place by an aggregate HOF against the (here pseudo-) log-ratio
    model; DuckDB recomputes hash, model and sum from plain
    arithmetic."""
    from ..operators.dsir import dsir_logweights

    d = t(spark, sf, "documents")
    return dsir_logweights(d).orderBy("doc_id")


@declare(
    "x_dsir_sample",
    oracle=_DSIR_WEIGHTS_CTE
    + """
    , keyed AS (
      SELECT doc_id, n_grams, logw_milli,
             CAST(CAST(ROUND(
               logw_milli / 1000.0
               - ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                         1, 8))::UBIGINT + 0.5)
                        / 4294967296.0)), 4)
             AS DECIMAL(38,4)) AS DOUBLE) AS gkey
      FROM w
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY gkey DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, n_grams, logw_milli, gkey
    FROM r WHERE rn <= 100 ORDER BY doc_id
    """,
)
def x_dsir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR Gumbel top-k resampling (operators/dsir.py:dsir_sample) —
    k=100 documents drawn without replacement with probability ∝
    exp(importance weight), via key = logweight + deterministic
    per-document Gumbel noise (md5-derived uniform, so both engines
    compute identical draws). Spark plans TakeOrderedAndProject
    (per-partition partial top-k, no global sort Exchange); the rounded
    key is the ordering in BOTH engines so the boundary row can't flip
    on a last-ulp ln() difference."""
    from ..operators.dsir import dsir_sample

    d = t(spark, sf, "documents")
    return dsir_sample(d, k=100).orderBy("doc_id")


# ---------------------------------------------------------------------------
# perceptual video near-dup (per-frame pHash + any-frame-match pairs;
# operators/phash.py video leg)

_VIDEO_PHASH_SQL = """
    WITH fr AS (
      SELECT doc_id, unnest(range(3)) AS k
      FROM documents WHERE doc_id < 120
    ),
    px AS (
      SELECT doc_id, k, list_transform(range(1024), i ->
        CAST(((doc_id//5)*31 + 17*i + (i*i)%251 + 37*k +
              CASE WHEN k = (doc_id%5)%3 AND i = doc_id%5
                   THEN doc_id%5 ELSE 0 END)
             % 256 AS DOUBLE)) AS p
      FROM fr
    ),
    coef AS (
      SELECT doc_id, k, list_transform(range(64), c ->
        CASE WHEN abs(list_aggregate(list_transform(range(1024), i ->
          p[i+1] * cos(pi()*(2*(i%32)+1)*(c%8)/64.0)
                 * cos(pi()*(2*(i//32)+1)*(c//8)/64.0)), 'sum')) < 1e-6
             THEN 0.0
             ELSE list_aggregate(list_transform(range(1024), i ->
          p[i+1] * cos(pi()*(2*(i%32)+1)*(c%8)/64.0)
                 * cos(pi()*(2*(i//32)+1)*(c//8)/64.0)), 'sum') END) AS f
      FROM px
    ),
    med AS (SELECT doc_id, k, f, list_aggregate(f[2:], 'median') AS m FROM coef),
    codes AS (
      SELECT doc_id, k AS frame_no,
             CAST(list_aggregate(list_transform(range(1,64), j ->
               CASE WHEN f[j+1] > m THEN (CAST(1 AS BIGINT) << (j-1))
                    ELSE 0 END), 'sum') AS BIGINT) AS phash
      FROM med
    )
"""


@declare(
    "x_video_phash",
    oracle=_VIDEO_PHASH_SQL
    + "SELECT doc_id, frame_no, phash FROM codes ORDER BY doc_id, frame_no",
)
def x_video_phash(spark: SparkSession, sf: str) -> DataFrame:
    """Per-frame perceptual hash of synthesized videos, END-TO-END
    through the real pipeline (operators/phash.py video leg): 3-frame
    64×64 gray raw ``DIB `` AVI from id arithmetic → real container
    encode → AVI chunk-walk decode → DIB bottom-up/BGR unpack → luma →
    box-resize → DCT → median threshold, one code per frame. Gray
    frames (B=G=R) make integer luma the pixel value and 2×2
    superpixels make the resize exact, so DuckDB recomputes every
    frame code with no video code — container framing, DIB row order
    and the whole still-image hash path all sit under the hash.
    Embarrassingly parallel Arrow map; zero shuffle."""
    from ..operators.phash import video_phash_fixture_codes

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 120)
    return psort(video_phash_fixture_codes(d), "doc_id", "frame_no")


@declare(
    "x_video_neardup",
    oracle=_VIDEO_PHASH_SQL + """
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(COUNT(DISTINCT a.frame_no) AS BIGINT) AS n_matched_frames
    FROM codes a JOIN codes b
      ON a.doc_id < b.doc_id
     AND bit_count(xor(a.phash, b.phash)) <= 3
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(DISTINCT a.frame_no) >= 2
    ORDER BY d1, d2
    """,
)
def x_video_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Video near-dup pairs: videos sharing ≥2 frames within Hamming 3
    of each other's per-frame pHash codes (operators/phash.py:
    video_neardup_pairs). The Spark plan bands each frame code into
    four disjoint 16-bit bands — pigeonhole-exact frame matching via a
    banded equi-join + bit_count(xor) verify, then one count-distinct
    per video pair; never all-pairs. The fixture's group-dependent
    frames give same-group videos 3 matched frames and cross-group
    videos 0, so the output is linear in corpus size. The oracle
    cross-joins the (gated) code set — fine at sf0.01; the Spark plan
    never does."""
    from ..operators.phash import (
        video_neardup_pairs,
        video_phash_fixture_codes,
    )

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 120)
    codes = video_phash_fixture_codes(d)
    pairs = video_neardup_pairs(codes, max_hamming=3, min_matched_frames=2)
    return pairs.select(
        "d1", "d2", F.col("n_matched_frames").cast("long").alias("n_matched_frames")
    ).orderBy("d1", "d2")


@declare(
    "x_video_clip_match",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 20),
    corpus AS (
      SELECT doc_id AS vid, f AS pos, doc_id*1000003 + f*7919 AS c
      FROM ids, range(40) t(f)
    ),
    clips AS (
      SELECT doc_id + 1000 AS cid, i AS pos,
             ((doc_id*3) % 20)*1000003 + (((doc_id*7) % 30) + i)*7919 AS c
      FROM ids, range(10) t(i)
    ),
    vs AS (
      SELECT vid, pos, c AS c0,
             lead(c,1) OVER w AS c1, lead(c,2) OVER w AS c2,
             lead(c,3) OVER w AS c3, lead(c,4) OVER w AS c4,
             lead(pos,4) OVER w AS lastpos
      FROM corpus WINDOW w AS (PARTITION BY vid ORDER BY pos)
    ),
    cs AS (
      SELECT cid, pos, c AS c0,
             lead(c,1) OVER w AS c1, lead(c,2) OVER w AS c2,
             lead(c,3) OVER w AS c3, lead(c,4) OVER w AS c4,
             lead(pos,4) OVER w AS lastpos
      FROM clips WINDOW w AS (PARTITION BY cid ORDER BY pos)
    ),
    cand AS (
      SELECT cs.cid AS clip_id, vs.vid AS video_id,
             vs.pos - cs.pos AS off
      FROM vs JOIN cs
        ON vs.c0 = cs.c0 AND vs.c1 = cs.c1 AND vs.c2 = cs.c2
       AND vs.c3 = cs.c3 AND vs.c4 = cs.c4
      WHERE vs.lastpos = vs.pos + 4 AND cs.lastpos = cs.pos + 4
    )
    SELECT clip_id, video_id, CAST(off AS BIGINT) AS "offset",
           CAST(COUNT(*) AS BIGINT) AS n_votes
    FROM cand GROUP BY clip_id, video_id, off
    HAVING COUNT(*) >= 2
    ORDER BY clip_id, video_id, "offset"
    """,
)
def x_video_clip(spark: SparkSession, sf: str) -> DataFrame:
    """Clip-in-clip temporal alignment (operators/phash.py:
    video_clip_matches — r9 VERDICT #3): 20 synthetic 40-frame code
    sequences; each clip is a 10-frame excerpt of video ``(id·3)%20``
    starting at frame ``(id·7)%30``. The operator shingles k=5
    consecutive frame codes per video (one lead window keyed on the
    video id), equi-joins clip shingles against corpus shingles, and
    offset-votes — each clip must surface exactly its source video at
    exactly its cut offset with 10−k+1 = 6 votes. Declared with
    ``hashed=False`` (struct shingle keys) so DuckDB replays the chain
    verbatim; hashed≡struct parity and brute-force exactness are
    test-pinned (tests/test_phash.py), and the production default
    stays the 8-byte xxhash64 key."""
    from ..operators.phash import video_clip_matches

    ids = t(spark, sf, "documents").filter(F.col("doc_id") < 20).select(
        "doc_id"
    )
    code = lambda d, f: (d * F.lit(1_000_003) + f * F.lit(7_919))
    corpus = ids.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(39))).alias("frame_no")
    ).select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        code(F.col("doc_id"), F.col("frame_no")).alias("phash"),
    )
    clips = ids.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i")
    ).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.col("i").cast("long").alias("frame_no"),
        code(
            (F.col("doc_id") * 3) % 20,
            ((F.col("doc_id") * 7) % 30) + F.col("i"),
        ).alias("phash"),
    )
    m = video_clip_matches(clips, corpus, k=5, min_votes=2, hashed=False)
    return m.select(
        "clip_id",
        "video_id",
        F.col("offset").cast("long").alias("offset"),
        F.col("n_votes").cast("long").alias("n_votes"),
    ).orderBy("clip_id", "video_id", "offset")


@declare(
    "x_video_clip_match_robust",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 20),
    corpus AS (
      SELECT doc_id AS vid, f AS pos, doc_id*1000003 + f*7919 AS c
      FROM ids, range(40) t(f)
    ),
    clips AS (
      SELECT doc_id + 1000 AS cid, i AS pos,
             xor(xor(((doc_id*3) % 20)*1000003
                       + (((doc_id*7) % 30) + i)*7919,
                     CAST(1 AS BIGINT) << CAST(i % 17 AS INT)),
                 CAST(1 AS BIGINT) << CAST(20 + (i*i) % 23 AS INT)) AS c
      FROM ids, range(10) t(i)
    ),
    cand AS (
      SELECT cl.cid AS clip_id, co.vid AS video_id, co.pos - cl.pos AS off
      FROM clips cl JOIN corpus co ON bit_count(xor(cl.c, co.c)) <= 2
    )
    SELECT clip_id, video_id, CAST(off AS BIGINT) AS "offset",
           CAST(COUNT(*) AS BIGINT) AS n_votes
    FROM cand GROUP BY clip_id, video_id, off
    HAVING COUNT(*) >= 4
    ORDER BY clip_id, video_id, "offset"
    """,
)
def x_video_clip_robust(spark: SparkSession, sf: str) -> DataFrame:
    """ROBUST clip-in-clip alignment (operators/phash.py:
    video_clip_matches_robust — r10 VERDICT #2): the same 20-video /
    10-frame-excerpt construction as x_video_clip_match, but every clip
    frame code is corrupted by exactly TWO bit flips (a deterministic
    stand-in for re-encode noise, which breaks every exact k=5 shingle)
    before matching. Candidates are per-frame banded Hamming matches —
    exact at radius 2 < n_bands=4 by pigeonhole, so the banded plan
    equals the oracle's brute-force all-pairs histogram — and alignment
    is offset voting over matched frame pairs: each clip surfaces its
    source video at its cut offset with all 10 frames voting. The
    oracle replays code construction, corruption (xor of two shifted
    bits), radius filter and vote gate verbatim in SQL."""
    from ..operators.phash import video_clip_matches_robust

    ids = t(spark, sf, "documents").filter(F.col("doc_id") < 20).select(
        "doc_id"
    )
    code = lambda d, f: (d * F.lit(1_000_003) + f * F.lit(7_919))
    corpus = ids.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(39))).alias("frame_no")
    ).select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        code(F.col("doc_id"), F.col("frame_no")).alias("phash"),
    )
    bit1 = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(i % 17 AS INT))")
    bit2 = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(20 + (i*i) % 23 AS INT))")
    clips = ids.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i")
    ).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.col("i").cast("long").alias("frame_no"),
        code(
            (F.col("doc_id") * 3) % 20,
            ((F.col("doc_id") * 7) % 30) + F.col("i"),
        ).bitwiseXOR(bit1).bitwiseXOR(bit2).alias("phash"),
    )
    m = video_clip_matches_robust(clips, corpus, max_hamming=2, min_votes=4)
    return m.select(
        "clip_id",
        "video_id",
        F.col("offset").cast("long").alias("offset"),
        F.col("n_votes").cast("long").alias("n_votes"),
    ).orderBy("clip_id", "video_id", "offset")


# ---------------------------------------------------------------------------
# perceptual audio near-dup (completes the multimodal dedup family:
# text MinHash → image pHash → audio AFP; operators/afp.py)

_AFP_CODES_SQL = """
    WITH s AS (
      SELECT doc_id, list_transform(range(1152), i ->
        CAST(((doc_id//5)*131 + 17*i
              + (i*i) % (101 + ((doc_id//5)*53) % 151)) % 32768 - 16384
             + CASE WHEN i = (doc_id%5)*7+1 THEN (doc_id%5)*64 ELSE 0 END
             AS BIGINT)) AS pcm
      FROM documents
    ),
    cells AS (
      SELECT doc_id, list_transform(range(576), m ->
        pcm[2*m+1] + pcm[2*m+2]) AS cell
      FROM s
    ),
    wht AS (
      SELECT doc_id, list_transform(range(576), tc ->
        list_aggregate(list_transform(range(64), j ->
          cell[(tc//64)*64 + j + 1]
          * (1 - 2*(bit_count(CAST((tc%64) AS BIGINT) & j) % 2))),
          'sum')) AS w
      FROM cells
    ),
    en AS (
      SELECT doc_id, list_transform(range(81), tb ->
        list_aggregate(list_transform(range(7), k ->
          w[(tb//9)*64 + 1 + 7*(tb%9) + k + 1]
          * w[(tb//9)*64 + 1 + 7*(tb%9) + k + 1]), 'sum')) AS e
      FROM wht
    ),
    codes AS (
      SELECT doc_id, CAST(list_aggregate(list_transform(range(63), bit ->
        CASE WHEN (e[(bit//8+1)*9 + (bit%8) + 1]
                   - e[(bit//8+1)*9 + (bit%8) + 2])
                - (e[(bit//8)*9 + (bit%8) + 1]
                   - e[(bit//8)*9 + (bit%8) + 2]) > 0
             THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END),
        'sum') AS BIGINT) AS afp
      FROM en
    )
"""


@declare(
    "x_afp_codes",
    oracle=_AFP_CODES_SQL + "SELECT doc_id, afp FROM codes ORDER BY doc_id",
)
def x_afp_codes(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual 63-bit AUDIO fingerprint per synthesized clip,
    END-TO-END through the real pipeline (operators/afp.py, after
    Haitsma & Kalker 2002): id-arithmetic 1152-sample PCM → real
    RIFF/WAVE encode → magic-dispatch decode → sum-pool into a 9×64
    time/cell grid → 64-point Walsh-Hadamard per block → 9 band
    energies → sign of time-delta of band-energy-deltas → packed code.
    Integer end-to-end (sum pooling, integer WHT, exact energies), so
    DuckDB recomputes the identical code from plain arithmetic — one
    mangled byte anywhere in codec, pooling, transform or packing
    diverges the hash. Embarrassingly parallel Arrow-batched map; zero
    shuffle."""
    from ..operators.afp import afp_fixture_codes

    d = t(spark, sf, "documents")
    return psort(afp_fixture_codes(d), "doc_id")


@declare(
    "x_afp_neardup",
    oracle=_AFP_CODES_SQL + """
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
    FROM codes a JOIN codes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.afp, b.afp)) <= 3
    ORDER BY d1, d2
    """,
)
def x_afp_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-dup pairs at Hamming radius 3 over the fingerprints —
    EXACT results from the same banded plan as the image pHash
    (operators/phash.py:phash_neardup_pairs, reused verbatim on the
    ``afp`` column): four disjoint 16-bit bands pigeonhole radius ≤ 3
    into a shared-band equi-join, bit_count(xor) verifies. The fixture's
    group-dependent spectral modulus keeps across-group Hamming ≥ 18,
    so the pair output is LINEAR in corpus size — the oracle
    cross-joins (fine at sf0.01); the Spark plan never does."""
    from ..operators.afp import afp_fixture_codes, afp_neardup_pairs

    d = t(spark, sf, "documents")
    codes = afp_fixture_codes(d)
    pairs = afp_neardup_pairs(codes, max_hamming=3)
    return pairs.select(
        "d1", "d2", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("d1", "d2")


@declare("x_audio_clip_match", oracle=None)
def x_audio_clip(spark: SparkSession, sf: str) -> DataFrame:
    """Audio clip-in-clip search (operators/afp.py:audio_clip_matches):
    eight synthesized 60-window recordings (id-dependent spectral
    modulus, REAL RIFF/WAVE encode→decode), one hop-grid excerpt per
    recording cut at window ``(id·5) % 40``; windowed AFP codes on both
    sides feed the video shingle + offset-voting matcher verbatim, so
    each clip must surface exactly its source recording at exactly its
    cut offset with 12−k+1 = 8 votes. Engine-defined (xxhash64 shingle
    keys + WHT fingerprints per window) → rows-only; exactness and the
    off-grid contract are test-pinned (tests/test_afp.py)."""
    import numpy as np

    from ..functions.audio import encode_wav
    from ..operators.afp import audio_clip_matches

    win, hop = 512, 256
    base = t(spark, sf, "documents").filter(F.col("doc_id") < 8).select(
        "doc_id"
    )

    def sample(did: int, lo: int, n: int) -> "np.ndarray":
        i = np.arange(lo, lo + n, dtype=np.int64)
        m = 997 + (did * 53) % 151
        return ((131 + did) * i + (i * i) % m) % 32768 - 16384

    def gen_corpus(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                s = sample(did, 0, hop * 60 + win)
                ids.append(did)
                payloads.append(encode_wav(8000, 1, [int(v) for v in s], 16))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def gen_clips(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                start = (did * 5) % 40
                s = sample(did, start * hop, hop * 11 + win)
                ids.append(did + 500)
                payloads.append(encode_wav(8000, 1, [int(v) for v in s], 16))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    schema = "doc_id long, payload binary"
    corpus = base.mapInPandas(gen_corpus, schema=schema)
    clips = base.mapInPandas(gen_clips, schema=schema)
    m = audio_clip_matches(
        clips, corpus, k=5, min_votes=2,
        window_samples=win, hop_samples=hop,
    )
    return m.select(
        "clip_id",
        "video_id",
        F.col("offset").cast("long").alias("offset"),
        F.col("n_votes").cast("long").alias("n_votes"),
    ).orderBy("clip_id", "video_id", "offset")


@declare("x_audio_clip_match_robust", oracle=None)
def x_audio_clip_robust(spark: SparkSession, sf: str) -> DataFrame:
    """RE-ENCODE-robust audio alignment (operators/afp.py:
    audio_clip_matches_robust — r10 VERDICT #2 audio leg): the same
    eight-recording construction as x_audio_clip_match, but every
    excerpt's samples carry a deterministic perturbation (the
    transcode-noise stand-in, flipping a few AFP bits per window) that
    blinds the exact shingled matcher (test-pinned in
    tests/test_afp.py); per-window banded Hamming candidates + offset
    voting still align each clip to its source recording at its cut
    offset. Engine-defined fingerprints → rows-only."""
    import numpy as np

    from ..functions.audio import encode_wav
    from ..operators.afp import audio_clip_matches_robust

    win, hop = 512, 256
    base = t(spark, sf, "documents").filter(F.col("doc_id") < 8).select(
        "doc_id"
    )

    def sample(did: int, lo: int, n: int) -> "np.ndarray":
        i = np.arange(lo, lo + n, dtype=np.int64)
        m = 997 + (did * 53) % 151
        return ((131 + did) * i + (i * i) % m) % 32768 - 16384

    def gen_corpus(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                s = sample(did, 0, hop * 60 + win)
                ids.append(did)
                payloads.append(encode_wav(8000, 1, [int(v) for v in s], 16))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def gen_clips(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                start = (did * 5) % 40
                s = sample(did, start * hop, hop * 11 + win)
                j = np.arange(s.size, dtype=np.int64)
                s = np.clip(s + (j * j) % 97 - 48, -16384, 16383)
                ids.append(did + 500)
                payloads.append(encode_wav(8000, 1, [int(v) for v in s], 16))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    schema = "doc_id long, payload binary"
    corpus = base.mapInPandas(gen_corpus, schema=schema)
    clips = base.mapInPandas(gen_clips, schema=schema)
    m = audio_clip_matches_robust(
        clips, corpus, max_hamming=3, min_votes=4,
        window_samples=win, hop_samples=hop,
    )
    return m.select(
        "clip_id",
        "video_id",
        F.col("offset").cast("long").alias("offset"),
        F.col("n_votes").cast("long").alias("n_votes"),
    ).orderBy("clip_id", "video_id", "offset")


@declare(
    "x_dup_spans_maximal",
    oracle="""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
    pos AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             substring(text, CAST(i AS INT), 20) AS sub
      FROM docs,
           UNNEST(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS t(i)
    ),
    dd AS (SELECT DISTINCT doc_id, sub FROM pos),
    dup AS (SELECT sub FROM dd GROUP BY sub HAVING COUNT(*) >= 2),
    spans AS (SELECT doc_id, p AS s, p + 19 AS e FROM pos JOIN dup USING (sub)),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM spans
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
)
def x_dup_spans_maximal(spark: SparkSession, sf: str) -> DataFrame:
    """MAXIMAL duplicated spans (r8 VERDICT #2 — Lee et al.'s
    suffix-array output shape, operators/substr_sorted.py): per doc,
    every merged island of ≥2-doc-duplicated 20-char windows as
    ``(doc_id, span_start, span_len)`` — the human-auditable artifact
    (span merging previously happened only inside the strip). Sorted-
    gram detection through the packed Exchange, broadcast dictionary,
    doc-local island merge — zero shuffles after detection. The DuckDB
    twin rebuilds the identical intervals from verbatim substrings via
    gaps-and-islands windows."""
    from ..operators.substr_sorted import duplicated_spans_sorted

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 80)
    return psort(duplicated_spans_sorted(d, k=20), "doc_id", "span_start")


@declare(
    "x_avro_zstd_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS content_sum
    FROM documents WHERE doc_id < 400
    GROUP BY lang ORDER BY lang
    """,
)
def x_avro_zstd(spark: SparkSession, sf: str) -> DataFrame:
    """Avro OCF ``zstandard`` codec round-trip (r11 VERDICT #6 —
    the ``zstandard`` entry of sources/avro_io.py's codec table): 400
    documents write to Avro container files under the spec's zstandard
    block codec (one zstd frame per block, RFC 8878, through pyarrow's
    bundled zstd, which every executor already imports) and re-read
    through the engine's distributed OCF scanner; per-lang doc counts,
    token totals and a 32-bit-md5 content checksum of the ROUNDTRIPPED
    text must hash-match DuckDB computing the same aggregates straight
    from the source table. JVM interop both directions (including
    avro-java's unknown-content-size streaming frames) is pinned in
    tests/test_avro.py."""
    import shutil
    import tempfile

    from ..sources.avro_io import read_ocf_dataset, write_ocf_dataset

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 400).select(
        "doc_id", "lang", "text"
    )
    path = tempfile.mkdtemp(prefix="spark_graft_zstd_")
    try:
        write_ocf_dataset(d.repartition(4), path, codec="zstandard")
        back = read_ocf_dataset(spark, path)
        out = (
            back.groupBy("lang")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum(F.size(F.split("text", " ")))
                .cast("long")
                .alias("n_tokens"),
                F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
                      .cast("long"))
                .cast("long")
                .alias("content_sum"),
            )
            .orderBy("lang")
        )
        return out.localCheckpoint()  # eager: tmp dir drops below
    finally:
        shutil.rmtree(path, ignore_errors=True)


@declare(
    "x_embedding_decontaminate_lsh",
    oracle="""
    WITH bench AS (
      SELECT vec_id + 1000 AS bench_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5) AS e
      FROM embeddings WHERE vec_id >= 25 AND vec_id < 36
    ), corp AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id >= 20 AND vec_id < 400
    ), hits AS (
      SELECT c.vec_id, b.bench_id,
             CAST(ROUND(list_cosine_similarity(c.e, b.e), 4)
                  AS DECIMAL(38,4)) AS sim4
      FROM corp c JOIN bench b ON TRUE
    )
    SELECT vec_id, bench_id, CAST(sim4 AS DOUBLE) AS sim
    FROM hits WHERE sim4 >= 0.95 ORDER BY vec_id, bench_id
    """,
)
def x_emb_decon_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """The SCALE path of paraphrase decontamination (r11 VERDICT #3 —
    similarity.py:embedding_contamination_hits above its broadcast
    gate): the gate is forced to 1 row so the plan takes the
    multi-table LSH candidate join + exact rounded-threshold filter
    instead of broadcasting the benchmark. The benchmark here is 11
    corpus vectors re-scaled by 1.5 (cosine exactly 1.0 to their
    originals — a sign-identical copy collides in EVERY hash table, so
    the candidate step is deterministic-exact for true hits at this
    threshold; a natural 0.95 near-hit would be missed with probability
    (1-(1-theta/pi)^4)^24 ~ 1e-11). DuckDB computes the exhaustive
    exact hits; both sides must agree pair-for-pair — the done
    criterion that the gated path returns the SAME hits."""
    from ..operators.similarity import embedding_contamination_hits

    emb = t(spark, sf, "embeddings")
    bench = emb.filter(
        (F.col("vec_id") >= 25) & (F.col("vec_id") < 36)
    ).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x * F.lit(1.5),
        ).alias("embedding"),
    )
    corp = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 400))
    return embedding_contamination_hits(
        corp, bench, 0.95, broadcast_max_rows=1
    ).orderBy("vec_id", "bench_id")


@declare(
    "x_exactly_once_scrub",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT))
    ) AS t(step, out_docs, index_docs)
    ORDER BY step
    """,
)
def x_eo_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-once scrubber ledger (r11 VERDICT #1 —
    neardup_index.py:NearDupScrubber.__call__): batch A (3 docs with
    unique md5-derived token streams) is applied as micro-batch 0, then
    REPLAYED with the same batch id (the checkpoint-redelivery case),
    then batch B (one new doc + one verbatim copy of an indexed doc)
    lands as batch 1. The ledger of (output docs, indexed docs) after
    each step must be exactly (3,3),(3,3),(4,4): the replay is fenced
    to a no-op (no duplicate output rows, no duplicate bands — the
    pre-r12 applier re-appended on replay) and the copy in batch B is
    dropped as a near-dup of history. Both stores are manifest
    commits; the oracle pins the ledger constants. Crash-in-every-
    window variants are kill-tested in tests/test_exactly_once.py."""
    import shutil
    import tempfile

    from ..operators.neardup_index import (
        NearDupScrubber,
        build_neardup_index,
        read_neardup_bands,
        read_scrubbed,
    )

    ids = t(spark, sf, "documents").select("doc_id")
    # unique 20-token pseudo-text per doc id (sf-independent semantics:
    # only EXACT copies near-dup, planted below)
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda j: F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit("-"), j.cast("string"))), 1, 8
            ),
        ),
    )
    docs = ids.filter(F.col("doc_id") < 4).select("doc_id", text.alias("text"))
    batch_a = docs.filter(F.col("doc_id") < 3)
    # batch B: doc 3 (new) + doc 1's text under a fresh id (the dup)
    batch_b = docs.filter(F.col("doc_id") == 3).unionByName(
        docs.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
    )
    root = tempfile.mkdtemp(prefix="spark_graft_eoscrub_")
    try:
        idx, out = f"{root}/idx", f"{root}/out"
        build_neardup_index(batch_a.limit(0), idx, kind="minhash")
        applier = NearDupScrubber(idx, out)
        ledger = []
        for step, (b, bid) in enumerate(
            ((batch_a, 0), (batch_a, 0), (batch_b, 1))
        ):
            applier(b, bid)
            n_out = read_scrubbed(spark, out).count()
            n_idx = (
                read_neardup_bands(spark, idx)
                .select("_nd_id").distinct().count()
            )
            ledger.append((step, n_out, n_idx))
        return tiny_df(
            spark, ledger, "step long, out_docs long, index_docs long"
        ).orderBy("step")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@declare(
    "x_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ), n AS (SELECT COUNT(*) AS total FROM toks)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS item_count
    FROM toks, n
    GROUP BY item, n.total
    HAVING COUNT(*) * 100 >= n.total * 1
    ORDER BY item_count DESC, item
    """,
)
def x_heavy(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT heavy hitters with bounded state (operators/
    heavyhitters.py — Misra-Gries 1982 candidates + exact recount, the
    mergeable-summaries two-pass): every token at ≥ 1% frequency
    across the documents corpus, with its exact count. The Spark side
    runs the SCALE plan — per-partition k-counter MG summaries in one
    Arrow map (state k-bounded regardless of vocabulary), candidate
    broadcast semi-join, groupBy only over the candidate slice — and
    must hash-match DuckDB's full groupBy: the guarantee (no true
    heavy hitter below k+1 counters is lost; recount removes false
    positives) makes the bounded-state answer EXACT, not approximate.
    Twin/property/bounded-state tests in tests/test_heavyhitters.py."""
    from ..operators.heavyhitters import heavy_hitters

    toks = t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return heavy_hitters(toks, "tok", 1, 100)


# ---------------------------------------------------------------------------
# deterministic splitting / sampling (operators/split.py — r13)


@declare(
    "x_salted_split",
    oracle="""
    SELECT lang,
           CASE WHEN doc_id IS NULL THEN NULL
                WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'r13'), 1, 8)
                     < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'r13'), 1, 8)
                     < 'e6666666' THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, split
    """,
)
def x_salted_split_q(spark: SparkSession, sf: str) -> DataFrame:
    """SALTED weighted train/val/test split (operators/split.py
    hash_split — the DataFrame-level generalization of
    quality.hash_split's fixed hex-pair expression, which x_hash_split
    declares): the label is a pure function of md5(doc_id||salt), so a
    fresh salt re-deals the whole assignment for a new experiment
    without touching the data, arbitrary float weights render to
    8-hex-char thresholds, and the assignment stays stable under
    repartitioning/re-ingest and portable across engines (the oracle
    reproduces it BIT-FOR-BIT via DuckDB's md5 — not a tolerance
    check). Zero shuffle before the count: one whole-stage-codegen
    projection (plan-asserted in tests/test_split.py). The literal
    thresholds in the oracle are split_thresholds([.8,.1,.1]) =
    cccccccc/e6666666 — pinned so engine and oracle can't drift."""
    from ..operators.split import hash_split, split_thresholds

    assert split_thresholds([0.8, 0.1, 0.1]) == ["cccccccc", "e6666666"]
    docs = t(spark, sf, "documents")
    return (
        hash_split(docs, "doc_id", salt="r13")
        .groupBy("lang", "split")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("lang", "split")
    )


@declare(
    "x_group_split_cotravel",
    oracle="""
    WITH g AS (
      SELECT doc_id, doc_id % 50 AS grp,
             CASE WHEN substr(md5(CAST(doc_id % 50 AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id % 50 AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT grp, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT split) OVER (PARTITION BY grp) AS BIGINT)
             AS splits_per_group
    FROM g GROUP BY grp, split
    ORDER BY grp, split
    """,
)
def x_group_split_q(spark: SparkSession, sf: str) -> DataFrame:
    """LEAKAGE-SAFE group split: keying hash_split on the GROUP id
    (here a synthetic 50-way cluster id; in production the dedup
    cluster / domain) sends every member to the same split WITHOUT a
    join or shuffle — the label depends only on the key bytes. The
    splits_per_group column is the leakage audit: it must be 1 for
    every group (hash-checked by the oracle, which computes the same
    split in DuckDB)."""
    from pyspark.sql import Window

    from ..operators.split import hash_split

    docs = t(spark, sf, "documents").withColumn(
        "grp", F.col("doc_id") % 50
    )
    per = (
        hash_split(docs, "grp")
        .groupBy("grp", "split")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("grp")
    return per.withColumn(
        "splits_per_group",
        # COUNT(DISTINCT) over a window is unsupported in Spark;
        # size(collect_set) is the standard equivalent
        F.size(F.collect_set("split").over(w)).cast("long"),
    ).orderBy("grp", "split")


@declare(
    "x_stratified_exact_n",
    oracle="""
    SELECT doc_id, lang FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
    ) <= 5
    ORDER BY lang, doc_id
    """,
)
def x_stratified_exact_n_q(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT-count stratified draw (operators/split.py
    stratified_sample_exact): exactly 5 docs per language, drawn by
    hash order with the doc id as tie break — deterministic and
    engine-portable, so the oracle reproduces the EXACT member set (no
    tolerance). Complements x_stratified_sample (quality.stratified_keep
    — the zero-shuffle FRACTION predicate): that form downsamples to a
    mixing weight inside the scan; this form guarantees a fixed-size
    per-stratum draw (eval sets, calibration), paying one exchange on
    the stratum for it."""
    from ..operators.split import stratified_sample_exact

    docs = t(spark, sf, "documents")
    return (
        stratified_sample_exact(docs, "lang", 5, "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


@declare(
    "x_pruned_range_read",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS segments_scanned,
           CAST(3 AS BIGINT) AS segments_total
    FROM documents WHERE doc_id BETWEEN 5 AND 9
    ORDER BY doc_id
    """,
)
def x_pruned_range_read_q(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest-level DATA SKIPPING end to end (r13 —
    operators/manifest.py segment_column_stats / prune_manifest): three
    micro-batches with disjoint doc_id ranges (0-3, 4-7, 8-11, unique
    md5-derived texts so nothing near-dups) each commit their survivors
    segment WITH its id range in one atomic rename; a [5, 9] range
    probe must then scan exactly 2 of the 3 segments (the pruned count
    is returned as a column and pinned by the oracle) and return the
    identical rows a full scan + filter would. At 100 TB this is the
    probe-cost-tracks-the-query-range property: pruning happens on the
    manifest JSON, before any file listing or footer read."""
    import shutil
    import tempfile

    from ..operators import manifest as mf
    from ..operators.neardup_index import NearDupScrubber, build_neardup_index

    ids = t(spark, sf, "documents").select("doc_id")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda j: F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit("#"), j.cast("string"))), 1, 8
            ),
        ),
    )
    docs = ids.filter(F.col("doc_id") < 12).select(
        "doc_id", text.alias("text")
    )
    root = tempfile.mkdtemp(prefix="spark_graft_prune_")
    try:
        idx, out = f"{root}/idx", f"{root}/out"
        build_neardup_index(docs.limit(0), idx, kind="minhash")
        applier = NearDupScrubber(idx, out)
        for bid in range(3):
            applier(
                docs.filter(
                    (F.col("doc_id") >= bid * 4)
                    & (F.col("doc_id") < (bid + 1) * 4)
                ),
                bid,
            )
        gen, man = mf.latest_manifest(spark, out)
        pruned = mf.prune_manifest(man, "doc_id", 5, 9)
        rows = (
            mf.read_segments(spark, out, pruned)
            .filter(F.col("doc_id").between(5, 9))
            .select(
                "doc_id",
                F.lit(len(pruned["segments"]))
                .cast("long")
                .alias("segments_scanned"),
                F.lit(len(man["segments"]))
                .cast("long")
                .alias("segments_total"),
            )
            .orderBy("doc_id")
        )
        # materialize before the store is deleted
        out_rows = rows.collect()
        return tiny_df(
            spark, out_rows,
            "doc_id long, segments_scanned long, segments_total long",
        ).orderBy("doc_id")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@declare("x_streaming_heavy_hitters", oracle=None)
def x_streaming_hh_q(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming frequent-items candidates with bounded state
    (streaming/stateful.py:streaming_heavy_hitter_candidates — sharded
    Misra-Gries applyInPandasWithState, r13): the documents corpus is
    replayed as a stream and the final per-shard candidate sets are
    returned. Rows-only by design (candidate membership beyond the
    guaranteed superset depends on fold order); the superset guarantee
    (every token above n/(k+1) survives), per-shard state bound, and
    mg_lower <= true count are pinned in tests/test_heavyhitters.py;
    the exact twin is the hash-checked x_heavy_hitters."""
    import shutil
    import tempfile

    from ..streaming.stateful import streaming_heavy_hitter_candidates

    toks = t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    root = tempfile.mkdtemp(prefix="spark_graft_shh_")
    try:
        src = f"{root}/toks"
        toks.write.parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        out = streaming_heavy_hitter_candidates(stream, "tok", k=50, shards=8)
        # update-mode re-emits a shard's FULL current candidate set
        # every batch that touches it — keep only each shard's last
        # emission (the one authoritative implementation lives next to
        # the operator)
        from ..streaming.stateful import (
            last_emission_collector,
            state_partitions,
        )

        sink, final_rows = last_emission_collector()
        # r16: state partitions sized to 2x the 8 shard keys (fresh
        # checkpoint) — session-width partitions run mostly-empty
        # state-store tasks every micro-batch, while exactly-shards
        # partitions straggle when two shard keys hash together (A/B:
        # 8 parts doubled wall, 16 beat both) — stateful.state_partitions
        with state_partitions(spark, 2 * 8):
            q = (
                out.writeStream.foreachBatch(sink)
                .outputMode("update")
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{root}/ckpt")
                .start()
            )
            done = q.awaitTermination(180)
        if not done:
            # partial state is NOT an answer — and the finally-rmtree
            # must not pull the source out from under a live query
            q.stop()
            raise TimeoutError(
                "x_streaming_heavy_hitters: availableNow replay did "
                "not drain within 180 s"
            )
        return tiny_df(
            spark,
            [
                (r["shard"], r["item"], r["mg_lower"])
                for r in final_rows()
                # a shard whose counters decremented away emits a
                # NULL-item marker (carrying shard_rows); it is not a
                # candidate
                if r["item"] is not None
            ],
            "shard long, item string, mg_lower long",
        ).orderBy("shard", "item")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@declare(
    "x_streaming_hh_exact",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ), n AS (SELECT COUNT(*) AS total FROM toks)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS item_count
    FROM toks, n
    GROUP BY item, n.total
    HAVING COUNT(*) * 100 >= n.total * 1
    ORDER BY item_count DESC, item
    """,
)
def x_streaming_hh_exact_q(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming candidates → EXACT heavy hitters, end to end: the
    corpus is replayed as a multi-batch stream through the sharded
    Misra-Gries state (streaming/stateful.py — bounded shards × k
    counters, checkpointed), the final per-shard candidate sets are
    UNIONED (a guaranteed superset of every ≥1% token for k+1 > 100,
    since each item lives in exactly one shard), the threshold
    denominator comes from the summed final ``shard_rows`` the state
    itself carried (no extra counting scan), and ONE broadcast-semi-
    join recount over the stored corpus
    (operators/heavyhitters.py:recount_candidates) produces exact
    counts. Hash-checked against the SAME full-groupBy oracle as
    x_heavy_hitters — proving the bounded-state streaming path reaches
    the exact batch answer."""
    import shutil
    import tempfile

    from ..operators.heavyhitters import recount_candidates
    from ..streaming.stateful import streaming_heavy_hitter_candidates

    toks = t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    root = tempfile.mkdtemp(prefix="spark_graft_shhx_")
    try:
        src = f"{root}/toks"
        # several files -> several micro-batches: the composition must
        # hold across genuine incremental state updates
        toks.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_heavy_hitter_candidates(
            stream, "tok", k=100, shards=8
        )
        from ..streaming.stateful import (
            last_emission_collector,
            state_partitions,
        )

        sink, final_rows = last_emission_collector()
        # r16: state partitions = 2x the 8 shard keys (fresh checkpoint
        # each run; collision headroom — see x_streaming_heavy_hitters)
        with state_partitions(spark, 2 * 8):
            q = (
                out.writeStream.foreachBatch(sink)
                .outputMode("update")
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{root}/ckpt")
                .start()
            )
            done = q.awaitTermination(180)
        if not done:
            q.stop()
            raise TimeoutError(
                "x_streaming_hh_exact: availableNow replay did not "
                "drain within 180 s — partial candidates would fail "
                "the exactness claim"
            )
        rows = final_rows()
        cand = {
            r["item"]
            for r in rows
            if r["item"] is not None  # NULL-item = empty-shard marker
        }
        # every row of a shard's final emission carries the same
        # shard_rows; sum one per shard for the exact denominator
        n = sum({r["shard"]: r["shard_rows"] for r in rows}.values())
        return recount_candidates(toks, "tok", cand, n, 1, 100)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@declare(
    "x_flac_decode",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + doc_id % 2 AS ch,
             48 + doc_id % 48 AS nf
      FROM documents
    ),
    s AS (
      SELECT doc_id, ch, nf,
             list_transform(
               range(nf * ch),
               i -> ((doc_id * 31 + i * 17) % 4096) - 2048) AS v
      FROM base
    )
    SELECT doc_id,
           CAST(ch AS BIGINT) AS ch,
           CAST(nf AS BIGINT) AS nf,
           CAST(list_aggregate(list_transform(range(nf * ch),
                  i -> (i + 1) * (v[i + 1] + 32768)), 'sum')
                % 2147483648 AS BIGINT) AS checksum,
           CAST(list_aggregate(list_transform(v, x -> x * x), 'sum')
                % 2147483648 AS BIGINT) AS energy
    FROM s ORDER BY doc_id
    """,
)
def x_flac_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL FLAC decode on the cluster (VERDICT r15 #3; operators/
    multimodal.py:flac_roundtrip_features): id-derived samples are
    encoded to genuine FLAC streams (functions/flac.py — multi-frame,
    mid/side + left/side decorrelation, fixed AND LPC predictors, Rice
    residuals, real STREAMINFO MD5) and decoded back through the magic
    dispatch AFP uses. FLAC is lossless, so the oracle recomputes
    checksum + energy from pure id arithmetic — a single mangled bit
    anywhere in the codec (CRC, Rice, predictor, decorrelation)
    diverges the hash. Row-local mapInPandas, zero shuffle."""
    from ..operators.multimodal import flac_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(flac_roundtrip_features(d), "doc_id")


@declare(
    "x_fmp4_frames",
    oracle="""
    SELECT doc_id, frame_no,
           CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(list_aggregate(list_transform(
                  range(8 * (1 + doc_id % 3) * 8),
                  i -> (i + 1) * ((doc_id * 23
                        + ((i % (8 * (1 + doc_id % 3))) // 8) * 31
                        + frame_no * 11) % 256)), 'sum')
                % 2147483648 AS BIGINT) AS checksum
    FROM (
      SELECT doc_id, UNNEST(range(0, 3 + doc_id % 4, 3)) AS frame_no
      FROM documents
    )
    ORDER BY doc_id, frame_no
    """,
)
def x_fmp4_frames(spark: SparkSession, sf: str) -> DataFrame:
    """FRAGMENTED MP4 keyframe extraction end to end (r16 — the
    DASH/CMAF shape real crawls contain): the x_mp4_frames clip muxed
    as init moov + moof/mdat fragments, sync samples declared via trun
    per-sample flags (no stss), parsed back with the fragment walk
    (mvex/trex defaults, tfhd default-base-is-moof, tfdt anchoring),
    and ONLY sync samples pixel-decoded. Identical id arithmetic to
    x_mp4_frames, so the oracle pins the two container shapes against
    each other. Row-local mapInPandas flat-map, zero shuffle."""
    from ..operators.multimodal import fmp4_keyframe_roundtrip_features

    d = t(spark, sf, "documents")
    return psort(fmp4_keyframe_roundtrip_features(d), "doc_id", "frame_no")
