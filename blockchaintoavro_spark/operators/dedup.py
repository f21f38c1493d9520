"""Deduplication family (SURVEY §2.7 X1/X2) — exact and near-dup detection
for LLM-data pipelines, each designed to avoid O(n²) work at 100 TB.

- exact_dedup / content_hash_dedup: hash-groupBy — one shuffle on the hash;
  keep min-id winner deterministically.
- exact_jaccard_pairs: token-postings self-join — shuffles (token, doc)
  postings, never full documents; the frequent-token cap bounds the worst
  posting list (a stopword appearing in every doc would otherwise create a
  quadratic bucket).
- minhash_signature / minhash_candidate_pairs: MinHash + LSH banding —
  signatures are fixed-size (k hashes) regardless of doc length; candidates
  come from band-bucket equi-joins (linear-ish), then optional exact-Jaccard
  rerank. Hash = xxhash64 with per-permutation salts (deterministic, seeded).
- simhash64: 64-bit SimHash over token hashes; near-dups differ in few bits.
"""

from __future__ import annotations

import os as _os

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at module scope
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import release_local_checkpoint

# Mersenne prime 2^31-1: universal-hash modulus. Kept at 31 bits so
# (a*h + b) stays within a signed 64-bit long — Spark 4 runs ANSI mode by
# default and a 61-bit modulus would overflow-error in the multiply.
_P = (1 << 31) - 1


def content_hash(text_col: str = "text") -> F.Column:
    """Canonical content hash: sha256 of whitespace-normalized lowercase."""
    return F.sha2(F.concat_ws(" ", tokens(F.col(text_col))), 256)


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id row per identical (normalized) content.

    One shuffle on the content hash; min_by avoids a second pass."""
    h = content_hash(text_col).alias("_h")
    winners = (
        df.select(F.col(id_col), h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .drop("_h")
    )
    return df.join(winners, id_col, "left_semi")


def token_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id, token) distinct postings; optionally drop tokens appearing in
    more than ``max_doc_freq`` docs (stopword-bucket skew guard)."""
    p = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tk")
    )
    if max_doc_freq is not None:
        freq = p.groupBy("tk").agg(F.count("*").alias("_df"))
        keep = freq.filter(F.col("_df") <= max_doc_freq).select("tk")
        p = p.join(F.broadcast(keep), "tk", "left_semi")
    return p


def exact_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All (d1 < d2) pairs with token-set Jaccard >= threshold — exact.

    Postings self-join on token → pair intersection counts → sizes join.
    Shuffle volume = postings + pair-partials; no document replication.

    r16 audit: a REBALANCE barrier on the postings table (which feeds
    both self-join sides and the sizes aggregate) was tried and REVERTED
    — interleaved A/B at the x_dedup_clusters shape showed it neutral to
    slightly negative (2.49 vs 3.00 CPU-s with the barrier): tokenizing
    this corpus again is cheaper than materializing and re-reading the
    postings exchange, and in the sort-merge regime ReuseExchange
    already shares the join-side exchange. Revisit only if tokenization
    becomes the dominant cost (very long documents).
    """
    p = token_postings(df, id_col, text_col)
    sizes = p.groupBy(id_col).agg(F.count("*").alias("_n"))
    a = p.select(F.col(id_col).alias("d1"), "tk")
    b = p.select(F.col(id_col).alias("d2"), "tk")
    inter = (
        a.join(b, "tk")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("_c"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("_n").alias("_n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("_n").alias("_n2"))
    jac = F.col("_c") / (F.col("_n1") + F.col("_n2") - F.col("_c"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Fixed-size MinHash signature per document (array<long>, length
    ``n_hashes``): sig[i] = min over tokens of universal-hash_i(xxhash64(tk)).

    Pure JVM expressions: token base hash once, then affine permutations
    (a_i·h + b_i mod p) folded with array_min — no Python, no shuffle.
    The base hash array is materialized in its own projection so the 32
    permutation expressions share ONE tokenization+hash evaluation
    (codegen subexpression elimination doesn't reach across big
    expression trees reliably — without the barrier each sig element
    re-tokenizes the document).
    """
    import random

    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(n_hashes)
    ]
    toks = F.array_distinct(tokens(F.col(text_col)))
    base = F.transform(toks, lambda tk: F.abs(F.xxhash64(tk)) % F.lit(_P))
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("_base"),
                    lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_P),
                )
            )
            for (a, b) in coeffs
        ]
    )
    return df.select(F.col(id_col), base.alias("_base")).select(
        F.col(id_col), sig.alias("minhash")
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """The LSH band table ``(id, band_id int, band_hash long)`` —
    ``n_bands`` rows per document, each hashing an ``r = n_hashes /
    n_bands``-element slice of the MinHash signature. This is BOTH the
    join key of :func:`minhash_candidate_pairs` and the standing state
    an incremental index persists between ingests
    (operators/neardup_index.py): band rows are the entire dedup state,
    ~``n_bands × 8`` bytes per document."""
    r = n_hashes // n_bands
    sig = minhash_signature(df, id_col, text_col, n_hashes, seed)
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    # xxhash64 over the band's signature slice: only
                    # bucket-grouping quality is needed (banding is
                    # probabilistic by construction) and it stays in
                    # whole-stage codegen, unlike a SHA round per band
                    F.xxhash64(
                        *[F.col("minhash")[i] for i in range(b * r, (b + 1) * r)],
                        F.lit(b),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature are candidates.

    bands of r = n_hashes/n_bands rows; candidate iff some band identical.
    Default 16 bands × 2 rows: P(candidate | jaccard s) = 1-(1-s^2)^16,
    ≈0.94 at s=0.4 — 8×4 banding tested out at ~0.82 recall, too low.
    Returns distinct (d1 < d2) candidate pairs. Scale: equi-join on
    (band_id, band_hash) buckets — linear in collisions, never O(n²).

    r16: the banded-signature table is consumed by BOTH self-join sides;
    in the broadcast regime the build side re-runs the whole
    tokenize+32-permutation pipeline (plan-verified: 4 source scans with
    no barrier → 3 with it). The AQE ``REBALANCE`` barrier materializes
    bands once — fixed-width (id, band_id, band_hash) rows, ~n_bands·24
    bytes per doc, far smaller than one re-tokenization — so both sides
    read shuffle files (guide §2.4/§8; interleaved A/B at the
    x_minhash_neardup shape: 1.90 → 1.71 CPU-s, wall 1.06 → 0.96). In
    the sort-merge regime ReuseExchange already shared the join-side
    exchange, so the barrier costs nothing extra there.
    """
    bands = minhash_bands(df, id_col, text_col, n_hashes, n_bands, seed).hint(
        "rebalance"
    )
    a = bands.select(F.col(id_col).alias("d1"), "band_id", "band_hash")
    b = bands.select(F.col(id_col).alias("d2"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def ngram_array(text_col: F.Column | str, n: int) -> F.Column:
    """Distinct word ``n``-grams of a text column as ``array<string>``
    (space-joined, oracle-exact tokenization) — pure JVM HOFs, no shuffle.

    The sequence step is explicit (``1``) so a non-positive upper bound
    fails loudly instead of silently iterating backwards; the ``when``
    guard (texts shorter than ``n`` tokens → ``[]``) is evaluated lazily
    per row, which a short-doc unit test asserts.
    """
    toks = tokens(F.col(text_col) if isinstance(text_col, str) else text_col)
    count = F.size(toks) - F.lit(n) + 1
    grams = F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count, F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def contamination_hits(
    docs: DataFrame,
    contaminants: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_contaminants: bool = True,
) -> DataFrame:
    """Benchmark decontamination (the standard n-gram-overlap hygiene step
    for training corpora — 13-gram collision by convention): one row per
    document sharing ≥1 distinct word ``n``-gram with the contaminant
    corpus, with ``n_hits`` = number of distinct shared n-grams.

    Scale: the contaminant side (benchmark/eval sets — small by nature)
    collapses to a distinct n-gram set and is broadcast, so the 100 TB doc
    side needs NO shuffle to probe membership; the only shuffle is the
    per-doc hit count on ``id_col``, bounded by the number of collisions.
    Set ``broadcast_contaminants=False`` for a contaminant set too big for
    one executor — the probe becomes a plain shuffled equi-join on the
    gram, still linear.
    """
    cont = contaminants.select(
        F.explode(ngram_array(text_col, n)).alias("_g")
    ).distinct()
    if broadcast_contaminants:
        cont = F.broadcast(cont)
    probe = docs.select(
        F.col(id_col), F.explode(ngram_array(text_col, n)).alias("_g")
    )
    return (
        probe.join(cont, "_g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def dedup_clusters(
    pairs: DataFrame,
    src_col: str = "d1",
    dst_col: str = "d2",
    id_out: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate pairs into connected components:
    ``(id_out, cluster_id)`` with ``cluster_id`` = the minimum doc id
    reachable through the pair graph. This is the "keep one per cluster"
    step every MinHash/Jaccard dedup pipeline needs after pair generation
    (keep = rows where id == cluster_id).

    Algorithm: min-label propagation (the DataFrame form of Pregel CC)
    PLUS a pointer-jumping shortcut from the third round on (r9): after
    the neighbor-min step, every node also adopts ``label(label(node))``
    — the path-doubling trick of the large-star/small-star CC family
    (Kiveris et al. 2014), so the minimum label travels exponentially
    many hops per round instead of one. A 40-hop near-dup CHAIN
    (drifting boilerplate A~B~C~…, a real shape in web corpora)
    previously blew the 25-round budget and raised; it now converges in
    ~2+log₂(L) rounds (regression-tested on a 200-node path). The jump
    is skipped for the first two rounds so clique-shaped graphs — the
    common near-dup case, converged by round 2 — never pay its extra
    join. Each round is at most two equi-joins + a min-aggregation —
    shuffle volume O(edges + nodes), never all-pairs. The edge list is
    ``localCheckpoint``-ed once and labels are re-checkpointed per
    round to truncate lineage, keeping every round's plan
    constant-size.

    r16: the per-round checkpoints are LAZY (``eager=False``) — the
    checksum action that immediately follows materializes them, so every
    round runs ONE Spark job instead of two (checkpoint job + collect
    job). Lineage truncation is identical (the collect computes through
    the checkpoint RDD, pinning it before the next round builds on it).
    Interleaved A/B at sf0.1 is within noise locally (2.57 vs 2.49
    CPU-s) — the win is one fewer cluster-wide scheduling barrier per
    round, which matters when rounds are long-tailed at real scale, and
    it can never cost compute (the eager job's work moves into the
    collect, nothing re-executes).

    Convergence detection without a join: labels only ever decrease
    (``least``), so the label sum is strictly monotone — equal consecutive
    sums ⇔ a fixed point. (Correctness of the fixed point: both steps
    only replace a label by a smaller REACHABLE one, and at a fixed
    point every node's label is ≤ all its neighbors' labels, which on a
    connected component forces the global minimum.) One scalar action
    per round; nothing row-sized ever reaches the driver. Raises after
    ``max_iterations`` (now a genuinely pathological 2^25-hop chain)
    rather than returning wrong labels.
    """
    edges = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_nbr")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    # decimal sum: immune to long overflow under ANSI mode at any scale
    checksum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("label").cast("decimal(38,0)"))
    ).collect()[0][0]
    prev = checksum(labels)
    for round_idx in range(max_iterations):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy("src")
            .agg(F.min("label").alias("_nl"))
        )
        superseded = labels
        stepped = labels.join(
            nbr_min.select(F.col("src").alias("node"), "_nl"),
            "node",
            "left",
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: adopt label(label(node)) — doubles the hop
        # distance covered per round (O(log diameter) total on chains).
        # Skipped for the first two rounds: clique-shaped near-dup
        # graphs converge there already, and for them the extra join
        # would be pure overhead — only graphs still moving at round 3
        # (i.e. actual chains) pay for, and benefit from, the doubling.
        if round_idx >= 2:
            stepped = stepped.join(
                stepped.select(
                    F.col("node").alias("_ln"), F.col("label").alias("_ll")
                ),
                stepped["label"] == F.col("_ln"),
                "left",
            ).select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("label"),
            )
        labels = stepped.localCheckpoint(eager=False)
        cur = checksum(labels)
        # Free the SUPERSEDED round's blocks only AFTER the checksum
        # action has materialized the new lazy checkpoint: `stepped`
        # reads the prior round's checkpointed blocks, and with
        # eager=False the release's async unpersistRDD can otherwise
        # land before the scan (reproduced: Spark 4.1.2 raises
        # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; local runs only pass
        # because the removal races slower than job startup — r16
        # review finding). Still freed every round, so storage memory
        # holds at most two node-sets instead of one per round (the r6
        # bench-drift suspect).
        release_local_checkpoint(superseded)
        if cur == prev:
            release_local_checkpoint(sym)
            return labels.select(
                F.col("node").alias(id_out),
                F.col("label").alias("cluster_id"),
            )
        prev = cur
    release_local_checkpoint(sym)
    release_local_checkpoint(labels)
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iterations} rounds"
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash: per-bit majority vote over xxhash64 token hashes.

    Near-duplicate docs land within a small Hamming distance; banding on
    bit-slices gives the candidate join at scale. Narrow expressions only.
    """
    toks = F.array_distinct(tokens(F.col(text_col)))
    hashes = F.transform(toks, lambda tk: F.xxhash64(tk))
    # one fold: per-bit vote counter array (+1 if bit set, -1 otherwise)
    votes = F.aggregate(
        hashes,
        F.array(*[F.lit(0) for _ in range(64)]),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int")
                    for i in range(64)
                ]
            ),
            lambda a, b: a + 2 * b - 1,  # bit→{+1,-1} vote
        ),
    )
    # r16: project the vote array to an ATTRIBUTE before the 64-term
    # assembly — the assembly references the vote column 64 times, and a
    # multi-referenced interpreted HOF expression re-runs the whole
    # per-token fold per reference (CollapseProject keeps a non-cheap
    # alias with >1 consumer in its own Project, so the fold runs once;
    # same mechanism as operators/quality.with_dup_ngram_ratio)
    voted = df.select(F.col(id_col), votes.alias("_sh_votes"))
    va = F.col("_sh_votes")
    # assemble: bit i set iff vote > 0 (bit 63 = sign bit as negative literal)
    sim = F.lit(0).cast("long")
    for i in range(64):
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        sim = sim + F.when(va[i] > 0, F.lit(bit_val).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return voted.select(F.col(id_col), sim.alias("simhash"))


def boilerplate_ratio(
    docs: DataFrame,
    grams: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate contamination: the fraction of a doc's
    *distinct* word ``n``-grams that appear in ``grams`` (the output of
    :func:`boilerplate_ngrams`, column ``gram``) — the scoring half of
    template removal: rank/drop docs that are mostly repeated chrome.

    Scale: the gram list is broadcast (it is small by construction —
    min_docs thresholding keeps only cross-doc templates); the per-doc
    counts partial-aggregate map-side over the exploded grams (a doc's
    grams stay in its scan partition, so the doc-keyed shuffle carries
    ~one row per doc, not per gram). Docs too short to have any
    ``n``-gram get ratio 0.0 via the left join back to ``docs``.

    r16: ONE gram build instead of two — the old plan built the
    ``ngram_array`` once for the hits branch (explode → semi-join) and
    again for the totals branch (``size``); since ``grams`` is unique
    per gram (a groupBy output), marking via a broadcast LEFT join and
    counting (total = all rows, hits = non-null marks) in one doc-keyed
    aggregate yields identical counts from a single corpus pass
    (isolated warm medians at x_boilerplate_ratio: wall 8.1 → 4.5 s,
    CPU 10.4 → 6.6).
    """
    per_doc = docs.select(
        F.col(id_col), F.explode(ngram_array(text_col, n)).alias("gram")
    )
    counts = (
        per_doc.join(
            # dropDuplicates keeps the mark join duplicate-TOLERANT the
            # way the old semi-join was: a caller-supplied gram list
            # with repeats (e.g. a union of two boilerplate lists) must
            # not fan out the left side and inflate both counts. The
            # build side is tiny by construction, so the extra
            # aggregate is free; boilerplate_ngrams output is already
            # unique and unaffected.
            F.broadcast(
                grams.select("gram")
                .dropDuplicates()
                .withColumn("_bp_hit", F.lit(1))
            ),
            "gram",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("total_grams"),
            F.count("_bp_hit").alias("bp_grams"),
        )
    )
    tot = F.coalesce(F.col("total_grams"), F.lit(0)).cast("long")
    bp = F.coalesce(F.col("bp_grams"), F.lit(0)).cast("long")
    return docs.select(F.col(id_col)).join(counts, id_col, "left").select(
        F.col(id_col),
        tot.alias("total_grams"),
        bp.alias("bp_grams"),
        F.when(tot > 0, bp / tot).otherwise(F.lit(0.0)).alias("bp_ratio"),
    )


def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seen_is_hashes: bool = False,
) -> DataFrame:
    """Incremental-ingestion dedup: drop ``batch`` rows whose normalized
    content already exists in ``seen`` (the standing corpus), keeping the
    min-id winner for content duplicated *within* the batch itself.

    ``seen`` is either full documents or, with ``seen_is_hashes=True``, a
    precomputed one-column ``_h`` hash table — the form a real pipeline
    persists between ingests so each increment rehashes only the new
    batch, never the accumulated corpus.

    Scale: both sides reduce to (hash, min-id) / distinct-hash tables
    before the anti-join, so every shuffle is keyed on the 256-bit
    content hash and carries one row per distinct content — no text ever
    shuffles, nothing is ever compared pairwise. Returns the surviving
    ``batch`` rows with their original columns.
    """
    bh = batch.select(F.col(id_col), content_hash(text_col).alias("_h"))
    winners = bh.groupBy("_h").agg(F.min(id_col).alias(id_col))
    if seen_is_hashes:
        seen_h = seen.select("_h").distinct()
    else:
        seen_h = seen.select(content_hash(text_col).alias("_h")).distinct()
    fresh = winners.join(seen_h, "_h", "left_anti").drop("_h")
    return batch.join(fresh, id_col, "left_semi")


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate detection: word ``n``-grams appearing in
    at least ``min_docs`` distinct documents — headers, footers, license
    blurbs, templated spans that repeat across a crawl and should be
    stripped (CCNet/C4-style template removal) or fed to a line-dedup
    pass as candidate spans.

    Postings shape: per-doc *distinct* grams (array_distinct before the
    explode, so a gram counts once per doc and COUNT(*) == distinct-doc
    count with no count-distinct expansion), then one partial-aggregated
    COUNT per gram. A single shuffle keyed on the gram; hot boilerplate
    grams cost one counter, never a row blowup — safe at any corpus size.
    """
    return (
        docs.select(F.explode(ngram_array(text_col, n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (the broadcast-bitset scale path)


def build_ngram_bloom(
    contaminants: DataFrame,
    n: int = 13,
    text_col: str = "text",
    n_hashes: int = 14,
    bits_per_item: int = 20,
):
    """Build a Bloom bitset over the contaminant corpus's distinct word
    ``n``-grams. Returns ``(bits, m, n_hashes)`` where ``bits`` is a numpy
    uint64 array of ``m/64`` words.

    Hash positions are computed JVM-side with ``xxhash64(gram, seed_i)``
    — the SAME expression the probe side uses, so build and probe can
    never drift (no Python re-implementation of the hash). Only the
    distinct (hash % m) positions come back to the driver — bounded by
    ``n_hashes * n_grams`` ints — and collapse into an ``m``-bit bitset:
    model parameters, like IVF centroids, not data rows. At 20 bits/item
    with k=14 (~ln2 * bits/item, the optimum) the per-gram false-positive
    rate is ~6e-5 — sized so even a doc probing hundreds of grams stays
    under a 1% doc-level FP rate.
    """
    import numpy as np

    grams = (
        contaminants.select(F.explode(ngram_array(text_col, n)).alias("_g"))
        .distinct()
        .persist()  # count + positions jobs both read it; built once
    )
    n_grams = max(grams.count(), 1)
    m = int(n_grams * bits_per_item)
    pos_cols = [
        F.pmod(F.xxhash64("_g", F.lit(i)), F.lit(m)).alias(f"p{i}")
        for i in range(n_hashes)
    ]
    pos = (
        grams.select(F.explode(F.array(*pos_cols)).alias("p"))
        .distinct()
        .toPandas()["p"]
        .to_numpy()
    )
    grams.unpersist()
    bits = np.zeros((m + 63) // 64, dtype=np.uint64)
    np.bitwise_or.at(
        bits, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64)
    )
    return bits, m, n_hashes


def contamination_hits_bloom(
    docs: DataFrame,
    contaminants: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 14,
    bits_per_item: int = 20,
) -> DataFrame:
    """Bloom-probe twin of :func:`contamination_hits`: one row per document
    whose text shares ≥1 word ``n``-gram with the contaminant corpus
    (``n_hits`` = candidate gram count; superset of the exact result with
    per-gram false-positive rate ~2^-k at optimal sizing — no false negatives).

    Scale story vs the broadcast-join form: the doc side still explodes to
    grams, but membership is answered by a broadcast *bitset* (~2.5 bytes
    per contaminant gram instead of the gram strings — 10-50× smaller),
    and there is NO join: the only shuffle is the per-doc count of
    surviving candidates, which at a sane contamination rate is ~zero
    rows. Gram hashing stays JVM-side (``xxhash64``); Python only tests
    bits over Arrow batches (vectorized numpy, no per-row loop).
    """
    bits, m, k = build_ngram_bloom(
        contaminants, n, text_col, n_hashes, bits_per_item
    )
    sc = docs.sparkSession.sparkContext
    bbits = sc.broadcast(bits)

    pos_cols = [
        F.pmod(F.xxhash64("_g", F.lit(i)), F.lit(m)).alias(f"p{i}")
        for i in range(k)
    ]
    probe = docs.select(
        F.col(id_col), F.explode(ngram_array(text_col, n)).alias("_g")
    ).select(id_col, F.array(*pos_cols).alias("_pos"))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _might_contain(pos: pd.Series) -> pd.Series:
        import numpy as np

        b = bbits.value
        flat = np.concatenate(pos.to_numpy()) if len(pos) else np.array([], dtype=np.int64)
        kk = len(pos.iloc[0]) if len(pos) else 0
        if kk == 0:
            return pd.Series([], dtype=bool)
        hit = (
            (b[flat // 64] >> (flat % 64).astype(np.uint64))
            & np.uint64(1)
        ).astype(bool)
        return pd.Series(hit.reshape(-1, kk).all(axis=1))

    return (
        probe.filter(_might_contain("_pos"))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Exact substring deduplication (character k-grams across documents) —
# the detection half of "Deduplicating Training Data Makes Language
# Models Better" (Lee et al. 2022, public paper): memorization risk
# concentrates in long character spans repeated VERBATIM across
# documents, which token-level MinHash misses.


def substring_positions(
    df: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_only: bool = False,
    with_pos: bool = False,
) -> DataFrame:
    """One row per sliding ``k``-char window: ``(id, sub)`` — or
    ``(id, pos, sub)`` with 1-based start positions when
    ``with_pos=True`` (what span stripping needs).

    ``hash_only=True`` emits ``xxhash64(window)`` instead of the window
    text — the scale path: the shuffle carries 8-byte keys instead of
    ``k``-char strings (Lee et al. use a suffix array; a 64-bit
    fingerprint join finds the same ≥k-char verbatim repeats up to hash
    collisions, which a verbatim recheck on the candidate set removes).
    Docs shorter than ``k`` contribute nothing. Narrow flat-map.
    """
    win = F.transform(
        F.sequence(F.lit(1), F.length(text_col) - k + 1),
        lambda i: F.substring(F.col(text_col), i, k),
    )
    subs = F.when(F.length(text_col) >= k, win).otherwise(
        F.array().cast("array<string>")
    )
    if with_pos:
        out = df.select(
            F.col(id_col), F.posexplode(subs).alias("pos0", "sub")
        ).select(id_col, (F.col("pos0") + 1).alias("pos"), "sub")  # 1-based
    else:
        out = df.select(F.col(id_col), F.explode(subs).alias("sub"))
    if hash_only:
        out = out.withColumn("sub", F.xxhash64("sub"))
    return out


# Substring dedup materializes ~one fingerprint per character position —
# orders of magnitude more shuffle rows than the input has rows — so a
# session-level spark.sql.shuffle.partitions sized for ordinary queries
# under-partitions it badly (r5 SCALE.md measured 43 s at 32 partitions
# vs 30 s at 128 for 500 k docs). The operator now derives its own
# partition count from the estimated fingerprint volume (VERDICT r5 #3)
# instead of leaving the lever to the caller.
_SUBSTRING_ROWS_PER_PARTITION = 1_000_000
_SUBSTRING_MAX_PARTITIONS = 32_768


# (semanticHash(plan), data fingerprint, text_col, k) → summed window
# count. The sizing estimate is one shuffle-free pass over text
# lengths; memoizing it means composite operators (substring_dup_
# counts, strip_duplicated_spans) that size several stages over the
# SAME input pay for it once, and repeated interactive calls don't
# re-scan. Bounded: estimates are 8-byte ints and sessions see few
# distinct inputs. semanticHash alone is NOT a safe key for file
# sources — the same path's data can grow within a session while the
# plan hash stays constant, silently under-sizing the gram shuffle
# (r6 ADVICE) — so the key also folds in the input file listing plus
# each file's (size, mtime) where statable.
_SUBSTRING_EST_CACHE: dict[tuple, int] = {}


def _input_fingerprint(df: DataFrame) -> int:
    """Cheap content fingerprint of a DataFrame's file inputs: hash of
    the sorted file listing plus per-file (size, mtime) for locally
    statable paths (remote URIs contribute name-only — new/removed
    files still invalidate). Metadata-only, no Spark job. In-memory
    DataFrames return 0: their data cannot drift under an unchanged
    semanticHash, so the plan hash alone remains sound for them."""
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    parts = []
    for f in sorted(files):
        local = f[7:] if f.startswith("file://") else f
        try:
            st = _os.stat(local)
            parts.append((f, st.st_size, st.st_mtime_ns))
        except OSError:
            parts.append((f, -1, -1))
    return hash(tuple(parts))


def _estimate_windows(df: DataFrame, k: int, text_col: str) -> int | None:
    """Estimated total k-char window count: one shuffle-free column
    aggregate over text lengths — an eager job at plan-build time,
    deliberate and documented (it is the only way to size the gram
    Exchange / gate the dictionary broadcast before running them, and
    it reads one string column's lengths, a fraction of what it sizes).
    Memoized per (plan, data fingerprint). ``None`` for streaming
    inputs (no eager job on an unbounded source)."""
    if df.isStreaming:
        return None
    try:
        cache_key = (df.semanticHash(), _input_fingerprint(df), text_col, k)
    except Exception:
        cache_key = None
    if cache_key is not None and cache_key in _SUBSTRING_EST_CACHE:
        return _SUBSTRING_EST_CACHE[cache_key]
    est = (
        df.select(
            F.sum(F.greatest(F.length(text_col) - (k - 1), F.lit(0))).alias("w")
        ).first()["w"]
        or 0
    )
    if cache_key is not None:
        _SUBSTRING_EST_CACHE[cache_key] = est
    return est


def _substring_shuffle_partitions(
    df: DataFrame, k: int, text_col: str, target_rows: int | None = None
) -> int:
    """Gram-shuffle partition count ≈ estimated window count /
    ``target_rows`` (floor: the session default; streaming falls back
    to the session sizing — micro-batch volumes are bounded anyway).
    Callers that know their volume can skip the estimate entirely via
    the operators' ``n_partitions`` argument."""
    target = target_rows or _SUBSTRING_ROWS_PER_PARTITION
    try:
        default = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        default = 200
    est = _estimate_windows(df, k, text_col)
    if est is None:
        return default
    n = max(default, -(-est // target))
    return int(min(n, _SUBSTRING_MAX_PARTITIONS))


def duplicated_substrings(
    df: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_only: bool = False,
    target_rows_per_partition: int | None = None,
    plan: str = "single_shuffle",
    n_partitions: int | None = None,
) -> DataFrame:
    """``k``-char windows appearing verbatim in ≥ ``min_docs`` distinct
    documents: ``(sub, n_docs)``.

    Semantics for both plans: per-doc distinct BEFORE the count (the
    boilerplate_ngrams pattern — a window repeated 1000× inside one doc
    is one vote). At corpus scale run ``hash_only=True`` and recheck
    the candidate grams verbatim (collision scrub).

    ``plan`` picks the physical shape (both sized by
    :func:`_substring_shuffle_partitions` from the estimated
    fingerprint volume — r5 VERDICT #3):

    - ``"single_shuffle"`` (default): ONE Exchange — ``repartition(n,
      sub)`` of the raw exploded rows, then the two-level
      ``count_distinct`` aggregation runs entirely within partitions
      (HashPartitioning(sub) satisfies clustering on both (sub, id) and
      (sub) by the subset rule, so Catalyst inserts no further
      Exchange; plan-asserted). This is the sorted-gram-merge idea
      expressed Spark-first: co-locate equal grams once, then reduce
      locally. Unlike the r5-measured-slower rewrite (SCALE.md), there
      is no map-side dedup hash table before the shuffle — raw rows
      stream straight into the Exchange and every hash table is
      per-reducer, bounded by the derived partition sizing.
    - ``"two_shuffle"``: the r5 shape — distinct on (id, sub), then a
      second Exchange on sub for the count. Moves the gram volume
      TWICE; kept for comparison and for corpora with heavy within-doc
      repetition (where the intermediate dedup shrinks Exchange 2).
    """
    if plan == "sorted_gram":
        # the suffix-array-flavored scale plan (operators/substr_sorted
        # .py): packed sorted fingerprint runs through ONE small
        # Exchange instead of a row per character position. Fingerprints
        # only — it cannot return verbatim gram text.
        if not hash_only:
            raise ValueError(
                "plan='sorted_gram' emits 64-bit fingerprints; call with "
                "hash_only=True (recheck candidates verbatim downstream, "
                "as with the hashed Catalyst plan)"
            )
        from blockchaintoavro_spark.operators.substr_sorted import (
            duplicated_substrings_sorted,
        )

        return duplicated_substrings_sorted(
            df, k, min_docs, id_col, text_col,
            target_rows_per_partition, n_partitions,
        )
    pos = substring_positions(df, k, id_col, text_col, hash_only)
    n_parts = n_partitions or _substring_shuffle_partitions(
        df, k, text_col, target_rows_per_partition
    )
    if plan == "single_shuffle":
        return (
            pos.repartition(n_parts, "sub")
            .groupBy("sub")
            .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
        )
    if plan != "two_shuffle":
        raise ValueError(f"unknown substring-dedup plan {plan!r}")
    return (
        pos.repartition(n_parts, id_col, "sub")
        .distinct()
        .repartition(n_parts, "sub")
        .groupBy("sub")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def substring_dup_counts(
    df: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_rows_per_partition: int | None = None,
    n_partitions: int | None = None,
    plan: str = "catalyst",
) -> DataFrame:
    """Per-document count of window positions whose ``k``-char content
    is duplicated cross-doc — the per-doc severity score used to decide
    strip-vs-drop. Docs with no duplicated span produce no row.

    The duplicated-gram set joins back against ALL positions (not the
    per-doc-distinct ones): a doc repeating a shared span 50 times
    scores 50, which is the memorization-risk signal wanted here.

    ``plan="sorted_gram"``: 64-bit-fingerprint detection through the
    packed-run Exchange, broadcast dictionary, and each doc counts its
    own hits doc-locally — zero shuffles after detection (the default
    Catalyst plan moves the gram volume through a second Exchange for
    the join-back). Counts are identical up to 64-bit collisions
    (~positions²/2⁶⁴); keep the verbatim default when that bound
    matters.
    """
    if plan == "sorted_gram":
        from blockchaintoavro_spark.operators.substr_sorted import (
            substring_dup_counts_sorted,
        )

        return substring_dup_counts_sorted(
            df, k, min_docs, id_col, text_col,
            target_rows_per_partition, n_partitions,
        )
    if plan != "catalyst":
        raise ValueError(f"unknown dup-count plan {plan!r}")
    pos = substring_positions(df, k, id_col, text_col)
    dups = duplicated_substrings(
        df, k, min_docs, id_col, text_col,
        target_rows_per_partition=target_rows_per_partition,
        n_partitions=n_partitions,
    ).select("sub")
    # dups carries HashPartitioning(sub, n) from the volume-derived
    # repartition; EnsureRequirements co-partitions the pos side to the
    # same n, so the join-back inherits the auto-scaled count too.
    return (
        pos.join(dups, "sub")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_spans"))
    )


def strip_duplicated_spans(
    df: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_rows_per_partition: int | None = None,
    n_partitions: int | None = None,
    hash_only: bool = False,
    plan: str = "auto",
    broadcast_dups: bool | None = None,
) -> DataFrame:
    """REMOVE cross-doc verbatim spans from the corpus — the remediation
    step Lee et al. 2022 apply after detection (``substring_dup_counts``
    scores strip-vs-drop; this is the strip): every maximal run of
    ``k``-char windows duplicated in ≥ ``min_docs`` docs is cut from
    the text. Output: ``(id, clean_text, n_stripped)``; docs without
    duplicated spans pass through unchanged.

    Plan, all Catalyst: duplicated-gram set (single gram Exchange, see
    :func:`duplicated_substrings`) joins back against positioned
    windows; per-doc interval merge is one gaps-and-islands window
    (running-max + island cumsum — ONE doc-keyed Exchange; the island
    and per-doc aggregations reuse its partitioning by the subset
    rule); the kept text is rebuilt by a single ``aggregate`` HOF over
    the doc's sorted spans (cursor + substr concat) — no Python, no
    per-segment text duplication.

    ``hash_only=True`` is the corpus-scale path: detection AND the
    join-back carry 8-byte xxhash64 fingerprints instead of ``k``-char
    strings (same trade as duplicated_substrings). A fingerprint
    collision would strip a span that is not actually duplicated —
    probability ~positions²/2^64, negligible against the corpus sizes
    this targets, and twin-tested equal to the verbatim path on real
    fixtures.

    ``plan`` selects the physical shape:

    - ``"auto"`` (default): ``sorted_gram`` when ``hash_only=True`` on
      a batch input (measured 1.5× faster end-to-end at the 500 k-doc
      scale point and the shape that survives 100 TB);
      ``sorted_confirm`` for verbatim batch input (r8 VERDICT #4 —
      sorted-detect on fingerprints + verbatim confirm of the
      candidate sliver, byte-identical output to ``catalyst`` with the
      per-position gram Exchange gone); ``catalyst`` for streaming.
    - ``"sorted_gram"`` (requires ``hash_only=True``): the
      suffix-array-flavored pipeline (operators/substr_sorted.py):
      packed sorted fingerprint runs through one small Exchange, then
      a size-gated BROADCAST dictionary + doc-local strip pass — no
      per-position shuffle rows at all (r6 VERDICT #2+#3). Twin-tested
      equal to the catalyst plan.
    - ``"catalyst"``: the all-DataFrame plan described above.
      ``broadcast_dups`` (default auto via the memoized window-volume
      estimate) broadcasts the dictionary into the join-back so the
      positions side skips its gram Exchange — pass ``True`` for a
      standing dictionary known to be small.
    """
    if plan == "auto":
        if df.isStreaming:
            plan = "catalyst"
        else:
            plan = "sorted_gram" if hash_only else "sorted_confirm"
    if plan == "sorted_confirm":
        if hash_only:
            raise ValueError(
                "plan='sorted_confirm' exists to keep VERBATIM semantics "
                "cheap; with hash_only=True use plan='sorted_gram'"
            )
        from blockchaintoavro_spark.operators.substr_sorted import (
            strip_duplicated_spans_verbatim_sorted,
        )

        return strip_duplicated_spans_verbatim_sorted(
            df, k, min_docs, id_col, text_col,
            target_rows_per_partition, n_partitions,
        )
    if plan == "sorted_gram":
        if not hash_only:
            raise ValueError(
                "plan='sorted_gram' strips on 64-bit fingerprints; call "
                "with hash_only=True"
            )
        from blockchaintoavro_spark.operators.substr_sorted import (
            strip_duplicated_spans_sorted,
        )

        return strip_duplicated_spans_sorted(
            df, k, min_docs, id_col, text_col,
            target_rows_per_partition, n_partitions,
        )
    if plan != "catalyst":
        raise ValueError(f"unknown span-strip plan {plan!r}")
    dups = duplicated_substrings(
        df, k, min_docs, id_col, text_col, hash_only=hash_only,
        target_rows_per_partition=target_rows_per_partition,
        n_partitions=n_partitions,
    ).select("sub")
    if broadcast_dups is None:
        # the dictionary is bounded above by the window count, so a
        # small estimated volume makes the broadcast trivially safe;
        # larger corpora keep the co-partitioned join unless the caller
        # asserts their dictionary is small (standing-dictionary case)
        est = _estimate_windows(df, k, text_col)
        limit = 8_000_000 if hash_only else 2_000_000
        broadcast_dups = est is not None and est <= limit
    return strip_spans_against(
        df, dups, k, id_col, text_col, hash_only,
        broadcast_dups=bool(broadcast_dups),
    )


def strip_spans_against(
    df: DataFrame,
    dups: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_only: bool = False,
    broadcast_dups: bool = False,
) -> DataFrame:
    """Strip every maximal run of ``k``-char windows whose content
    appears in ``dups`` (a one-column ``sub`` DataFrame of gram text, or
    of xxhash64 fingerprints with ``hash_only=True``) — the decomposed
    half of :func:`strip_duplicated_spans` for STANDING dictionaries:
    detect once on a corpus snapshot, then scrub incoming batches (or a
    ``foreachBatch`` stream — stripping is per-doc-local given the gram
    set, so stream equals batch exactly; proven in
    tests/test_streaming.py)."""
    pos = substring_positions(df, k, id_col, text_col, hash_only, with_pos=True)
    if broadcast_dups:
        # small standing dictionary: ship it to every executor once and
        # the positions side never rides a gram Exchange — the only
        # remaining shuffle is the doc-keyed interval-merge window
        dups = F.broadcast(dups)
    spans = pos.join(dups, "sub").select(
        id_col,
        F.col("pos").alias("s"),
        (F.col("pos") + k - 1).alias("e"),
    )
    w = Window.partitionBy(id_col).orderBy("s")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = spans.withColumn(
        "ni",
        F.when(prev_max.isNull() | (F.col("s") > prev_max + 1), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "island", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    merged = islands.groupBy(id_col, "island").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    per_doc = merged.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans")
    )
    text = F.col(text_col)
    rebuilt = F.aggregate(
        F.col("spans"),
        F.struct(
            F.lit(1).cast("int").alias("cursor"), F.lit("").alias("kept")
        ),
        lambda acc, sp: F.struct(
            (sp["e"] + 1).cast("int").alias("cursor"),
            F.concat(
                acc["kept"],
                text.substr(acc["cursor"], (sp["s"] - acc["cursor"]).cast("int")),
            ).alias("kept"),
        ),
        lambda acc: F.concat(
            acc["kept"],
            text.substr(
                acc["cursor"], (F.length(text) - acc["cursor"] + 1).cast("int")
            ),
        ),
    )
    out = df.join(per_doc, id_col, "left")
    clean = F.when(F.col("spans").isNull(), text).otherwise(rebuilt)
    return out.select(
        F.col(id_col),
        clean.alias("clean_text"),
        (F.length(text) - F.length(clean)).cast("long").alias("n_stripped"),
    )


def corpus_dedup_lines(
    docs: DataFrame,
    delimiter: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-LEVEL exact line deduplication — the RefinedWeb / Dolma
    pipeline stage between document-level exact dedup and substring
    dedup: every line (``delimiter``-separated segment) is kept only at
    its FIRST occurrence in the corpus (ordered by ``(doc_id, pos)``);
    later occurrences — boilerplate headers, navigation chrome, license
    blocks — are cut and the surviving lines are rejoined in order.

    Returns ``(id, n_lines, n_kept, cleaned)`` for EVERY input document
    (a doc whose lines are all duplicates survives with ``cleaned =
    ''``), so the output is a drop-in replacement corpus.

    Plan: lines are ``posexplode``d once; the first-occurrence winner
    per distinct line is ONE ``min(struct(doc_id, pos))`` aggregate
    keyed on the line's md5 (map-side partials collapse each task's
    occurrences of a line to a single candidate, so the Exchange
    carries ~one 16-byte-hash row per distinct-line-per-task — the
    super-common boilerplate line every document carries becomes ONE
    row per task, not one per occurrence). Occurrences then join back
    on the hash to learn whether they ARE the winner; a hot line's
    probe partition is bounded by AQE skew-split since the build side
    is one row per hash. The rebuild is a doc-keyed aggregate of only
    the KEPT lines. ``delimiter`` is treated literally in the split
    (regex-escaped) to match the SQL ``string_split`` semantics.
    """
    import re as _re

    text = F.col(text_col)
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(text, _re.escape(delimiter))).alias(
            "_pos", "_line"
        ),
    ).select(
        id_col, "_pos", "_line", F.md5(F.col("_line")).alias("_h")
    )
    winners = lines.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("_wid"), F.col("_pos").alias("_wpos"))).alias("_w")
    )
    kept = (
        lines.join(winners, "_h")
        .filter(
            (F.col(id_col) == F.col("_w._wid"))
            & (F.col("_pos") == F.col("_w._wpos"))
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
                delimiter,
            ).alias("cleaned"),
        )
    )
    n_lines = F.size(F.split(text, _re.escape(delimiter))).cast("long")
    return (
        docs.select(F.col(id_col), n_lines.alias("n_lines"))
        .join(kept, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias(
                "n_kept"
            ),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        )
    )
