#!/usr/bin/env python3
"""Scale-stress bench (VERDICT r4 #2): measure the LLM-pipeline
operators' wall-clock SCALING CURVES well beyond the sf0.1 correctness
corpus, plus the OCF split-read speedup, and write SCALE_BENCH.json.

Every scale claim in SCALE.md is plan-asserted (tests/test_plans.py);
this records the measurements. Corpora are synthesized from the sf0.1
documents table by cross-joining a replica index (1x / 10x / 100x =
5k / 50k / 500k docs), re-identifying (doc_id' = doc_id·mult + r) and
perturbing the text per replica (suffix token) so near-dup cluster
structure stays comparable across scales instead of every replica being
an exact dup of replica 0 (which would grow candidate pairs
quadratically by construction, not by plan).

Operators measured unbounded (the declared x_* queries cap doc_id for
the oracle; here the full corpus runs):
- minhash_candidate_pairs (32 hashes, 16x2 banding) + count
- dedup_clusters over those pairs (+ rounds via the operator's
  convergence behavior) + count
- epoch_shuffle (deterministic hash-bin permutation) + count
- OCF: one multi-block Avro file of 2M rows read as a single split vs
  sync-marker byte-range splits (split_size), local[N] parallel.

Usage: python tools/scale_bench.py  (env SPARK_GRAFT_SF_DIR to change
the seed corpus, SPARK_GRAFT_SCALES to change the multiplier list).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from blockchaintoavro_spark.operators.dedup import (
    dedup_clusters,
    minhash_candidate_pairs,
)
from blockchaintoavro_spark.operators.quality import epoch_shuffle
from blockchaintoavro_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = [int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "1,10,100").split(",")]
OCF_ROWS = int(os.environ.get("SPARK_GRAFT_OCF_ROWS", "2000000"))


def scaled_documents(spark, mult: int):
    """Synthetic corpus of ``5000 × mult`` documents with REALISTIC token
    diversity and planted near-dups.

    The sf* ``documents`` fixture draws words from a ~40-word vocabulary,
    which makes nearly every pair of documents a MinHash candidate BY
    CONSTRUCTION (unigram shingle sets of ~25 from a 40-token universe →
    J ≈ 0.4 between random docs → 16×2 banding passes almost all of the
    n² pairs; bucket sizes ~n). That measures the corpus, not the plan.
    Real pretraining corpora have near-zero Jaccard between unrelated
    docs, so here each doc gets 30 unique md5-derived tokens (cross-doc
    overlap ~0) and 5% of docs are planted as consecutive near-dup pairs
    (ids ≡ 0,1 mod 40 share a base text, one token differs → J ≈ 0.94):
    candidate-pair count grows LINEARLY with corpus size, as in
    production, and the measured cost is the signature computation +
    bucket join the plan actually executes at 100 TB.
    """
    n = 5000 * mult
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    base_key = F.when(
        F.col("doc_id") % 40 < 2, F.col("doc_id") - F.col("doc_id") % 2
    ).otherwise(F.col("doc_id"))
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(30)),
            lambda i: F.substring(
                F.md5(F.concat_ws("-", base_key.cast("string"), i.cast("string"))),
                1,
                8,
            ),
        ),
    )
    # the planted near-dup twin differs by one DOC-UNIQUE trailing token
    # (J ≈ 30/32); a globally-shared perturbation token would let MinHash
    # occasionally pick it as a band min and reintroduce O(n²) spurious
    # bucket collisions across the whole corpus
    text = F.concat(body, F.lit(" t"), F.col("doc_id").cast("string"))
    return docs.select("doc_id", text.alias("text"))


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3)


def bench_operators(spark) -> dict:
    results: dict[str, dict] = {"minhash_pairs": {}, "dedup_clusters": {}, "epoch_shuffle": {}}
    for mult in SCALES:
        docs = scaled_documents(spark, mult)
        n_docs = docs.count()  # materializes the corpus read path, untimed cache-warm
        key = str(n_docs)

        pairs = minhash_candidate_pairs(docs, n_hashes=32, n_bands=16)
        n_pairs, sec = timed(pairs.count)
        results["minhash_pairs"][key] = {"rows_in": n_docs, "pairs": n_pairs, "sec": sec}
        print(f"minhash {n_docs} docs -> {n_pairs} pairs in {sec}s", flush=True)

        # cluster the pair graph (localCheckpoint inside truncates lineage)
        pairs_mat = pairs.localCheckpoint()
        clusters, sec = timed(
            lambda: dedup_clusters(pairs_mat).count()
        )
        results["dedup_clusters"][key] = {"edges": n_pairs, "labeled": clusters, "sec": sec}
        print(f"clusters over {n_pairs} edges -> {clusters} labeled in {sec}s", flush=True)

        shuffled, sec = timed(lambda: epoch_shuffle(docs, epoch=7).count())
        results["epoch_shuffle"][key] = {"rows": shuffled, "sec": sec}
        print(f"epoch_shuffle {n_docs} -> {shuffled} in {sec}s", flush=True)
    return results


def bench_round5_operators(spark) -> dict:
    """Round-5 additions, measured unbounded at the same scales:

    - chunk_chars: pure flat-map — should scale linearly with corpus
      bytes and parallelize with the scan (zero shuffle).
    - duplicated_substrings(hash_only=True): the Lee-et-al scale path —
      sliding-window fingerprints through a distinct + count. On this
      corpus the duplicated set is the planted near-dup pairs only, so
      output grows linearly and the measurement is the shuffle plan.
    - char_pair_counts: BPE step-0 — two bounded-key shuffles; the pair
      key space is ~alphabet², so cost is the explode, not the agg.
    - validate: 4-rule one-pass summary — must track the plain scan.
    """
    from blockchaintoavro_spark.operators.chunking import chunk_chars
    from blockchaintoavro_spark.operators.bpe import char_pair_counts
    from blockchaintoavro_spark.operators.dedup import duplicated_substrings
    from blockchaintoavro_spark.operators.validate import expect, validate

    results: dict[str, dict] = {
        "chunk_chars": {}, "dup_substrings_hash": {},
        "dup_substrings_hash_two_shuffle": {},
        "strip_dup_spans": {}, "strip_dup_spans_hash": {}, "zorder_by": {},
        "bpe_pair_counts": {}, "validate_rules": {},
    }
    for mult in SCALES:
        docs = scaled_documents(spark, mult)
        n_docs = docs.count()
        key = str(n_docs)

        n, sec = timed(chunk_chars(docs, size=96, stride=64).count)
        results["chunk_chars"][key] = {"rows_in": n_docs, "chunks": n, "sec": sec}
        print(f"chunk_chars {n_docs} -> {n} chunks in {sec}s", flush=True)

        n, sec = timed(
            duplicated_substrings(docs, k=20, hash_only=True).count
        )
        results["dup_substrings_hash"][key] = {"rows_in": n_docs, "dups": n, "sec": sec}
        print(f"dup_substrings {n_docs} -> {n} dup grams in {sec}s", flush=True)

        # the r5 two-Exchange shape, same auto-scaled partition count —
        # records the single-vs-two-shuffle comparison per scale
        n2, sec2 = timed(
            duplicated_substrings(
                docs, k=20, hash_only=True, plan="two_shuffle"
            ).count
        )
        results["dup_substrings_hash_two_shuffle"][key] = {
            "rows_in": n_docs, "dups": n2, "sec": sec2,
        }
        print(f"dup_substrings[two_shuffle] {n_docs} -> {n2} in {sec2}s", flush=True)

        # r6: span stripping. KEY-NAME NOTE (r8 ADVICE "misleading
        # legacy keys"): both keys below run plan='auto', so what they
        # record has changed as the default improved —
        # `strip_dup_spans` measured the Catalyst VERBATIM plan through
        # r8 and records the sorted_confirm plan since r9 (the
        # unchanged Catalyst verbatim shape lives in
        # round9_operators.strip_dup_spans_verbatim_catalyst);
        # `strip_dup_spans_hash` has recorded the sorted_gram plan
        # since r7 (the Catalyst hash shape lives in
        # round7_operators.strip_dup_spans_catalyst_hash). Keys are
        # kept for round-over-round continuity of the DEFAULT path.
        from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

        n, sec = timed(
            strip_duplicated_spans(docs, k=20).filter("n_stripped > 0").count
        )
        results["strip_dup_spans"][key] = {"rows_in": n_docs, "stripped_docs": n, "sec": sec}
        print(f"strip_dup_spans {n_docs} -> {n} docs touched in {sec}s", flush=True)

        n, sec = timed(
            strip_duplicated_spans(docs, k=20, hash_only=True)
            .filter("n_stripped > 0").count
        )
        results["strip_dup_spans_hash"][key] = {
            "rows_in": n_docs, "stripped_docs": n, "sec": sec,
        }
        print(f"strip_dup_spans[hash] {n_docs} -> {n} in {sec}s", flush=True)

        # r6: z-order clustering of the corpus on (doc_id, length)
        from blockchaintoavro_spark.operators.layout import zorder_by

        zin = docs.select(
            "doc_id", F.length("text").cast("double").alias("n_chars")
        ).withColumn("did", F.col("doc_id").cast("double"))
        n, sec = timed(zorder_by(zin, ["did", "n_chars"], n_files=32).count)
        results["zorder_by"][key] = {"rows_in": n_docs, "rows_out": n, "sec": sec}
        print(f"zorder_by {n_docs} -> {n} rows in {sec}s", flush=True)

        n, sec = timed(char_pair_counts(docs).count)
        results["bpe_pair_counts"][key] = {"rows_in": n_docs, "pairs": n, "sec": sec}
        print(f"bpe_pairs {n_docs} -> {n} distinct pairs in {sec}s", flush=True)

        rules = [
            expect("text_set", F.col("text").isNotNull()),
            expect("text_min_len", F.length("text") >= 50),
            expect("id_nonneg", F.col("doc_id") >= 0),
            expect("id_parity_demo", F.col("doc_id") % 2 == 0),
        ]
        _, sec = timed(lambda: validate(docs, rules).collect())
        results["validate_rules"][key] = {"rows_in": n_docs, "rules": len(rules), "sec": sec}
        print(f"validate {n_docs} x {len(rules)} rules in {sec}s", flush=True)
    return results


def bench_round7_operators(spark) -> dict:
    """Round-7 additions (r6 VERDICT #2+#3): the sorted-gram
    suffix-array-flavored substring-dedup plan vs the Catalyst hash
    plan, at the same scales.

    - dup_substrings_sorted: detection via packed sorted fingerprint
      runs (one small Exchange) — compare against dup_substrings_hash.
    - strip_dup_spans_sorted: detection + size-gated broadcast
      dictionary + doc-local strip (zero per-position shuffle rows) —
      this is also what plan='auto' (the default for hash_only) runs,
      so strip_dup_spans_hash above now records the same physical plan;
      strip_dup_spans_catalyst_hash preserves the r6 Catalyst shape for
      round-over-round comparison.
    """
    from blockchaintoavro_spark.operators.dedup import (
        duplicated_substrings,
        strip_duplicated_spans,
    )

    from blockchaintoavro_spark.operators.quality import temperature_mixture

    results: dict[str, dict] = {
        "dup_substrings_sorted": {},
        "strip_dup_spans_sorted": {},
        "strip_dup_spans_catalyst_hash": {},
        "temperature_mixture_exact": {},
    }
    for mult in SCALES:
        docs = scaled_documents(spark, mult)
        n_docs = docs.count()
        key = str(n_docs)

        # r6 VERDICT #5: exact temperature selection via the
        # prefix-bucket histogram — heavy path is scan+filter, only the
        # boundary sliver ranks; skewed 3-source split (~70/25/5%)
        src = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 20 == 0, "small")
            .when(F.col("doc_id") % 4 == 0, "mid")
            .otherwise("large")
            .alias("source"),
        )
        n, sec = timed(
            temperature_mixture(src, target_total=n_docs // 2, tau=0.5).count
        )
        results["temperature_mixture_exact"][key] = {
            "rows_in": n_docs, "selected": n, "sec": sec,
        }
        print(f"temperature_mixture[exact] {n_docs} -> {n} in {sec}s", flush=True)

        n, sec = timed(
            duplicated_substrings(
                docs, k=20, hash_only=True, plan="sorted_gram"
            ).count
        )
        results["dup_substrings_sorted"][key] = {
            "rows_in": n_docs, "dups": n, "sec": sec,
        }
        print(f"dup_substrings[sorted] {n_docs} -> {n} in {sec}s", flush=True)

        n, sec = timed(
            lambda: strip_duplicated_spans(
                docs, k=20, hash_only=True, plan="sorted_gram"
            ).filter("n_stripped > 0").count()
        )
        results["strip_dup_spans_sorted"][key] = {
            "rows_in": n_docs, "stripped_docs": n, "sec": sec,
        }
        print(f"strip_dup_spans[sorted] {n_docs} -> {n} in {sec}s", flush=True)

        n, sec = timed(
            lambda: strip_duplicated_spans(
                docs, k=20, hash_only=True, plan="catalyst"
            ).filter("n_stripped > 0").count()
        )
        results["strip_dup_spans_catalyst_hash"][key] = {
            "rows_in": n_docs, "stripped_docs": n, "sec": sec,
        }
        print(f"strip_dup_spans[catalyst,hash] {n_docs} -> {n} in {sec}s", flush=True)
    return results


def bench_round9_operators(spark) -> dict:
    """Round-9 addition (r8 VERDICT #4): VERBATIM span stripping through
    sorted-detect + verbatim-confirm (plan='sorted_confirm', the new
    plan='auto' route for non-hash batch input) vs the legacy Catalyst
    verbatim plan, at the same scales. The Catalyst verbatim plan
    shuffles one k-char string per corpus position (~70 s at 500 k
    docs); sorted_confirm materializes gram TEXT only for the
    duplicated-span sliver, so it should track the hash-sorted curve
    with a small confirm surcharge while staying byte-identical in
    output (twin-tested in tests/test_operators.py)."""
    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    results: dict[str, dict] = {
        "strip_dup_spans_verbatim_confirm": {},
        "strip_dup_spans_verbatim_catalyst": {},
    }
    for mult in SCALES:
        docs = scaled_documents(spark, mult)
        n_docs = docs.count()
        key = str(n_docs)
        n, sec = timed(
            lambda: strip_duplicated_spans(docs, k=20, plan="sorted_confirm")
            .filter("n_stripped > 0").count()
        )
        results["strip_dup_spans_verbatim_confirm"][key] = {
            "rows_in": n_docs, "stripped_docs": n, "sec": sec,
        }
        print(f"strip_dup_spans[verbatim,confirm] {n_docs} -> {n} in {sec}s", flush=True)

        n, sec = timed(
            lambda: strip_duplicated_spans(docs, k=20, plan="catalyst")
            .filter("n_stripped > 0").count()
        )
        results["strip_dup_spans_verbatim_catalyst"][key] = {
            "rows_in": n_docs, "stripped_docs": n, "sec": sec,
        }
        print(f"strip_dup_spans[verbatim,catalyst] {n_docs} -> {n} in {sec}s", flush=True)

    # perceptual near-dup retrieval (r9 family): the Hamming-banded
    # equi-join + bit_count verify over SYNTHETIC 63-bit codes — five
    # per-group variants whose codes differ in 0-2 low bits, groups far
    # apart — so the measurement is the banded-join PLAN (the part that
    # must hold at 100 TB), not Python decode throughput (decode is an
    # embarrassingly parallel map measured by the x_*_decode bench keys).
    from blockchaintoavro_spark.operators.phash import phash_neardup_pairs

    results["phash_banded_join"] = {}
    for mult in SCALES:
        n_codes = 5000 * mult
        codes = (
            spark.range(n_codes)
            .select(
                F.col("id").alias("doc_id"),
                (
                    F.xxhash64((F.col("id") / 5).cast("long"))
                    .bitwiseAND(F.lit((1 << 63) - 1))
                    .bitwiseXOR(F.col("id") % 5)
                ).alias("phash"),
            )
        )
        n, sec = timed(phash_neardup_pairs(codes, max_hamming=3).count)
        results["phash_banded_join"][str(n_codes)] = {
            "codes": n_codes, "pairs": n, "sec": sec,
        }
        print(f"phash_banded_join {n_codes} -> {n} pairs in {sec}s", flush=True)
    return results


def bench_round10_operators(spark) -> dict:
    """Round-10 additions.

    ``stripper_refresh_packed`` (r9 VERDICT finding #1 done-criterion):
    the standing-dictionary broadcast rebuild now collects packed
    8-byte blobs instead of millions of Row objects — recorded as the
    DRIVER's peak-RSS delta across a refresh of a 4M-entry store. The
    old Row path transiently held ~100 B/entry of Row objects (~400 MB
    at 4M, GBs at the 8M gate); the packed path should stay within a
    few copies of the 32 MB array.

    ``neardup_index_probe``: the incremental near-dup index's
    daily-ingest shape — a FIXED 500-doc batch probed against standing
    band tables of growing size. Probe cost may grow with the index
    scan (one pass over history's bands) but must never blow up
    quadratically; the build is the amortized once-per-snapshot cost.
    """
    import resource
    import shutil
    import tempfile

    results: dict[str, dict] = {}

    from blockchaintoavro_spark.operators.substr_sorted import (
        SortedDictStripper,
    )

    n_hashes = 4_000_000
    store = tempfile.mkdtemp(prefix="sg_dict_rss_")
    (
        spark.range(n_hashes)
        .select(F.xxhash64("id").alias("sub"))
        .write.mode("overwrite")
        .parquet(store)
    )
    stripper = SortedDictStripper(store, store + "_out")

    def _vmrss_mb() -> int:
        # CURRENT driver RSS from /proc, not ru_maxrss: the rusage
        # high-water mark is monotone across the whole process, so if
        # any earlier bench in this run peaked higher the delta reads
        # ~0 regardless of this refresh's real allocation (ADVICE r10)
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) // 1024
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024

    rss_before = _vmrss_mb()
    _, sec = timed(lambda: stripper._refresh(spark))
    rss_after = _vmrss_mb()
    results["stripper_refresh_packed"] = {
        "n_hashes": n_hashes,
        "array_mb": round(n_hashes * 8 / 2**20, 1),
        "driver_rss_before_mb": rss_before,
        "driver_rss_after_mb": rss_after,
        "rss_delta_mb": rss_after - rss_before,
        "sec": sec,
    }
    print(
        f"stripper_refresh_packed {n_hashes} hashes: driver RSS "
        f"{rss_before} -> {rss_after} MB (+{rss_after - rss_before}) in {sec}s",
        flush=True,
    )
    if stripper._bc is not None:
        stripper._bc.destroy()
    shutil.rmtree(store, ignore_errors=True)

    from blockchaintoavro_spark.operators.neardup_index import (
        build_neardup_index,
        probe_neardup_index,
    )

    results["neardup_index_probe"] = {}
    for mult in SCALES:
        docs = scaled_documents(spark, mult)
        idx = tempfile.mkdtemp(prefix="sg_ndidx_")
        _, build_sec = timed(
            lambda: build_neardup_index(docs, idx, kind="minhash")
        )
        batch = scaled_documents(spark, 1).filter("doc_id < 500")
        n, probe_sec = timed(
            lambda: probe_neardup_index(batch, idx, append="none").count()
        )
        results["neardup_index_probe"][str(5000 * mult)] = {
            "index_docs": 5000 * mult,
            "batch_docs": 500,
            "matches": n,
            "build_sec": build_sec,
            "probe_sec": probe_sec,
        }
        print(
            f"neardup_index_probe idx={5000 * mult}: build {build_sec}s, "
            f"probe {probe_sec}s -> {n} matches",
            flush=True,
        )
        shutil.rmtree(idx, ignore_errors=True)
    return results


def bench_round11_operators(spark) -> dict:
    """Round-11 manifest-store mechanics. Claims under measurement:
    (1) the manifest COMMIT is metadata-priced — one small-file write +
    one rename, independent of data size; (2) per-append segment
    fragmentation taxes probe wall-clock (many footer reads / tasks),
    and one compaction returns it to the single-segment baseline —
    the reason the streaming appliers take ``compact_every``."""
    import shutil
    import tempfile

    from blockchaintoavro_spark.operators import manifest as mf
    from blockchaintoavro_spark.operators.neardup_index import (
        build_neardup_index,
        compact_neardup_index,
        probe_neardup_index,
    )

    results: dict[str, dict] = {}

    docs = scaled_documents(spark, 10)  # 50k docs
    idx = tempfile.mkdtemp(prefix="sg_ndman_")
    shutil.rmtree(idx, ignore_errors=True)
    build_neardup_index(docs, idx, kind="minhash")
    batch = scaled_documents(spark, 1).filter("doc_id < 500")
    n0, probe_1seg = timed(
        lambda: probe_neardup_index(batch, idx, append="none").count()
    )

    # fragment: 32 small appends (one segment each), probe again
    for j in range(32):
        probe_neardup_index(
            scaled_documents(spark, 1).filter(
                f"doc_id >= {5000 + j * 50} and doc_id < {5050 + j * 50}"
            ),
            idx,
            append="all",
        )
    files_frag = mf.live_data_file_count(spark, idx)
    n1, probe_frag = timed(
        lambda: probe_neardup_index(batch, idx, append="none").count()
    )
    _, compact_sec = timed(lambda: compact_neardup_index(spark, idx))
    files_compact = mf.live_data_file_count(spark, idx)
    n2, probe_compact = timed(
        lambda: probe_neardup_index(batch, idx, append="none").count()
    )
    assert n1 == n2  # compaction must not change probe results
    results["probe_vs_fragmentation"] = {
        "index_docs": 50000,
        "probe_1segment_sec": probe_1seg,
        "files_fragmented": files_frag,
        "probe_33segments_sec": probe_frag,
        "compact_sec": compact_sec,
        "files_after_compact": files_compact,
        "probe_after_compact_sec": probe_compact,
    }
    print(
        f"probe_vs_fragmentation: 1seg {probe_1seg}s, 33seg {probe_frag}s "
        f"({files_frag} files), post-compact {probe_compact}s "
        f"({files_compact} files, compact {compact_sec}s)",
        flush=True,
    )

    # commit cost: stage one tiny segment, time ONLY the manifest commit
    seg = mf.new_segment_name()
    spark.range(1).selectExpr(
        "id as _nd_id", "0 as band_id", "id as band_val"
    ).coalesce(1).write.parquet(f"{idx}/{seg}")
    _, commit_sec = timed(
        lambda: mf.commit_append(spark, idx, [seg], retries=1)
    )
    results["manifest_commit"] = {"sec": commit_sec}
    print(f"manifest_commit: {commit_sec}s", flush=True)
    shutil.rmtree(idx, ignore_errors=True)
    return results


def bench_model_ops(spark) -> dict:
    """Round-9 model-based selection ops. The sweep legs (classifier
    inference, DSIR weights+sample) must scale LINEARLY in corpus size
    — they are zero-shuffle projections (plus a TakeOrdered merge for
    the sample) — while the training legs iterate on a BOUNDED model
    (one n_buckets-key shuffle per iteration), so their cost is
    per-iteration flat in corpus size at these scales."""
    from blockchaintoavro_spark.operators.dsir import (
        dsir_sample,
        fit_dsir_logratios,
    )
    from blockchaintoavro_spark.operators.quality import (
        hashed_linear_score,
        train_hashed_linear,
    )

    results: dict[str, dict] = {
        "classifier_inference": {},
        "dsir_sample": {},
    }
    for mult in SCALES:
        docs = scaled_documents(spark, mult)
        n_docs = docs.count()
        key = str(n_docs)
        kept, sec = timed(
            lambda: hashed_linear_score(docs)
            .agg(F.sum("keep")).collect()[0][0]
        )
        results["classifier_inference"][key] = {
            "rows_in": n_docs, "kept": int(kept), "sec": sec,
        }
        print(f"classifier_inference {n_docs} -> {kept} kept in {sec}s", flush=True)

        n, sec = timed(lambda: dsir_sample(docs, k=1000).count())
        results["dsir_sample"][key] = {
            "rows_in": n_docs, "sampled": n, "sec": sec,
        }
        print(f"dsir_sample {n_docs} -> {n} in {sec}s", flush=True)

    # connected components on PATH graphs — the pointer-jumping claim
    # (r9): rounds grow ~log(L), so wall-clock grows far slower than the
    # chain; one-hop propagation would need L rounds and raise at 25
    from blockchaintoavro_spark.operators.dedup import dedup_clusters

    results["cc_chain"] = {}
    for length in (100, 1000, 10000):
        chain = spark.range(length).select(
            F.col("id").alias("d1"), (F.col("id") + 1).alias("d2")
        )
        n, sec = timed(
            lambda: dedup_clusters(chain, max_iterations=40)
            .filter("cluster_id = 0").count()
        )
        results["cc_chain"][str(length)] = {
            "chain_hops": length, "nodes_labeled_0": n, "sec": sec,
        }
        print(f"cc_chain {length} hops -> {n} nodes in {sec}s", flush=True)

    # training legs: fixed 5k-doc corpora (the paper regime — train on a
    # sample, sweep the pool); measures the bounded per-iteration cost
    docs1 = scaled_documents(spark, 1)
    labeled = docs1.select("text", (F.col("doc_id") % 2).alias("label"))
    _, sec = timed(
        lambda: train_hashed_linear(labeled, n_buckets=4096, n_iters=10)
    )
    results["classifier_train_10it_5k"] = {"sec": sec}
    print(f"classifier_train 10 iters / 5k docs in {sec}s", flush=True)

    target = docs1.filter(F.col("doc_id") % 2 == 0)
    source = docs1.filter(F.col("doc_id") % 2 == 1)
    _, sec = timed(
        lambda: fit_dsir_logratios(target, source, n_buckets=4096)
    )
    results["dsir_fit_5k"] = {"sec": sec}
    print(f"dsir_fit 5k docs in {sec}s", flush=True)
    return results


def bench_ocf_split(spark) -> dict:
    """One large multi-block OCF file: whole-file single InputPartition vs
    sync-marker-aligned byte-range splits (sources/avro_datasource.py)."""
    from blockchaintoavro_spark.sources import avro_datasource as ads

    ads.register(spark)
    d = tempfile.mkdtemp(prefix="ocf_scale_")
    drop = os.path.join(d, "drop")
    os.makedirs(drop)
    path = os.path.join(drop, "part-0.avro")

    from blockchaintoavro_spark.sources.avro_io import OCFWriter, spark_to_avro_schema
    from pyspark.sql import types as T

    sch = spark_to_avro_schema(
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        ),
        "Doc",
    )
    t0 = time.perf_counter()
    with open(path, "wb") as fh:
        w = OCFWriter(fh, sch, "deflate")
        batch = []
        for i in range(OCF_ROWS):
            batch.append({"doc_id": i, "text": f"document {i} payload {i * 2654435761 % 10**12}"})
            if len(batch) == 5000:
                w.append(batch)
                batch = []
        if batch:
            w.append(batch)
    write_sec = round(time.perf_counter() - t0, 3)
    size = os.path.getsize(path)

    def read_with(split_size: int) -> tuple[int, float, int]:
        opts = {"path": drop, "split_size": str(split_size)}
        schema = ads.AvroOCFDataSource(opts).schema()
        n_parts = len(ads.AvroOCFReader(schema, opts).partitions())
        t0 = time.perf_counter()
        n = (
            spark.read.format("avro_ocf")
            .option("split_size", str(split_size))
            .load(drop)
            .count()
        )
        return n, round(time.perf_counter() - t0, 3), n_parts

    n1, whole_sec, p1 = read_with(size + 1)  # one partition: no splits
    n8, split_sec, p8 = read_with(max(1, size // 8))
    assert n1 == n8 == OCF_ROWS, (n1, n8)
    return {
        "rows": OCF_ROWS,
        "file_mb": round(size / 1e6, 1),
        "write_sec": write_sec,
        "whole_read": {"partitions": p1, "sec": whole_sec},
        "split_read": {"partitions": p8, "sec": split_sec},
        "speedup": round(whole_sec / split_sec, 2) if split_sec else None,
    }


def bench_round12_operators(spark) -> dict:
    """Round-12 mechanics. Claims under measurement: (1) the
    exactly-once batch-id fence costs one small-file manifest read per
    store per batch — metadata-priced, independent of batch and index
    size — and a REPLAYED batch short-circuits before any probe/write
    work; (2) the zstandard OCF codec trades against deflate the way
    upstream zstd does (comparable ratio, faster decode), so the codec
    choice is a knob, not a cliff."""
    import shutil
    import tempfile
    import time

    from blockchaintoavro_spark.operators import manifest as mf
    from blockchaintoavro_spark.operators.neardup_index import (
        NearDupScrubber,
        build_neardup_index,
        read_scrubbed,
    )

    results: dict[str, dict] = {}

    corpus = scaled_documents(spark, 2)  # 10k standing docs
    idx = tempfile.mkdtemp(prefix="sg_eo_idx_")
    out = tempfile.mkdtemp(prefix="sg_eo_out_")
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    build_neardup_index(corpus.filter("doc_id < 5000"), idx, kind="minhash")
    applier = NearDupScrubber(idx, out)
    batches = [
        corpus.filter(
            f"doc_id >= {5000 + j * 100} and doc_id < {5100 + j * 100}"
        )
        for j in range(6)
    ]
    t0 = time.perf_counter()
    for j, b in enumerate(batches):
        applier(b, j)
    per_batch = round((time.perf_counter() - t0) / len(batches), 3)
    t0 = time.perf_counter()
    for j, b in enumerate(batches):
        applier(b, j)  # checkpoint replay: every id fenced -> no-op
    per_replay = round((time.perf_counter() - t0) / len(batches), 4)
    _, fence_read_sec = timed(lambda: mf.last_committed_batch(spark, idx))
    n_out = read_scrubbed(spark, out).count()
    results["exactly_once_fence"] = {
        "index_docs": 5000,
        "batches": 6,
        "batch_docs": 100,
        "per_applied_batch_sec": per_batch,
        "per_replayed_batch_sec": per_replay,
        "fence_read_sec": fence_read_sec,
        "out_docs": n_out,
    }
    print(
        f"exactly_once_fence: apply {per_batch}s/batch, replay "
        f"{per_replay}s/batch (fence read {fence_read_sec}s), "
        f"{n_out} docs out",
        flush=True,
    )
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)

    # zstandard vs deflate: same rows through the OCF writer/reader
    from blockchaintoavro_spark.sources import zstd_codec
    from blockchaintoavro_spark.sources.avro_io import (
        OCFWriter,
        read_ocf,
        spark_to_avro_schema,
    )
    from pyspark.sql import types as T

    if zstd_codec.available():
        sch = spark_to_avro_schema(
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType(), True),
                    T.StructField("text", T.StringType(), True),
                ]
            ),
            "Doc",
        )
        rows = [
            {
                "doc_id": i,
                "text": f"document {i} payload {i * 2654435761 % 10**12} "
                * 4,
            }
            for i in range(200_000)
        ]
        d = tempfile.mkdtemp(prefix="sg_zstd_")
        results["ocf_codec_tradeoff"] = {}
        for codec in ("deflate", "zstandard"):
            path = os.path.join(d, f"{codec}.avro")
            t0 = time.perf_counter()
            with open(path, "wb") as fh:
                w = OCFWriter(fh, sch, codec)
                for k in range(0, len(rows), 5000):
                    w.append(rows[k : k + 5000])
            write_sec = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            _, back = read_ocf(path)
            read_sec = round(time.perf_counter() - t0, 3)
            assert len(back) == len(rows)
            results["ocf_codec_tradeoff"][codec] = {
                "rows": len(rows),
                "file_mb": round(os.path.getsize(path) / 1e6, 2),
                "write_sec": write_sec,
                "read_sec": read_sec,
            }
            print(
                f"ocf_codec_tradeoff {codec}: "
                f"{results['ocf_codec_tradeoff'][codec]}",
                flush=True,
            )
        shutil.rmtree(d, ignore_errors=True)
    return results



def bench_round13_operators(spark) -> dict:
    """Round-13 mechanics. Claims under measurement: (1) the
    deterministic split/sample operators are pure whole-stage maps —
    cost tracks the scan linearly with corpus size, no Exchange at any
    scale; (2) the 2-scan heavy-hitters plan keeps its candidate volume
    operator-bounded (<= partitions x k) while wall-clock tracks the
    two scans, even on an adversarial corpus where nearly every token
    is unique (maximum Misra-Gries decrement churn)."""
    from blockchaintoavro_spark.operators.heavyhitters import heavy_hitters
    from blockchaintoavro_spark.operators.split import (
        hash_sample,
        hash_split,
        stratified_sample_exact,
    )

    results: dict[str, dict] = {}
    for mult in (1, 10, 100):
        docs = scaled_documents(spark, mult)
        _, t_split = timed(
            lambda: hash_split(docs, "doc_id")
            .filter("split = 'val'")
            .count()
        )
        _, t_sample = timed(
            lambda: hash_sample(docs, "doc_id", 0.01).count()
        )
        strata = docs.withColumn("stratum", F.col("doc_id") % 20)
        _, t_strat = timed(
            lambda: stratified_sample_exact(
                strata, "stratum", 50, "doc_id"
            ).count()
        )
        toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
        hh, t_hh = timed(lambda: heavy_hitters(toks, "tok", 1, 100).collect())
        results[f"x{mult}"] = {
            "docs": 5000 * mult,
            "hash_split_sec": t_split,
            "hash_sample_sec": t_sample,
            "stratified_exact_sec": t_strat,
            "heavy_hitters_sec": t_hh,
            "hh_rows": len(hh),
        }
        print(
            f"round13 x{mult}: split {t_split}s, sample {t_sample}s, "
            f"strat {t_strat}s, heavy_hitters {t_hh}s ({len(hh)} rows)",
            flush=True,
        )
    return results


def bench_round14_operators(spark) -> dict:
    """Round-14 mechanics. Claims under measurement: (1) commit-time
    schema fingerprints make read_segments plan-BUILD latency ~flat in
    uncompacted-append count (2 reader opens) where the probing
    fallback grows linearly (one footer read per segment); (2) the
    Observation-ridden append computes stats in the write job — the
    commit's total job count drops by the dedicated aggregate scan;
    (3) a rotated-sink time-range probe's read cost tracks the PROBE
    (windows kept), not the sink's history."""
    import shutil
    import tempfile

    from blockchaintoavro_spark.operators import manifest as mf
    from blockchaintoavro_spark.operators.rotation import (
        prune_rotated,
        read_rotated_range,
        read_rotated,
        write_rotated,
    )

    results: dict[str, dict] = {}
    root = tempfile.mkdtemp(prefix="spark_graft_r14_")
    try:
        # --- (1) read_segments plan-build: fingerprints vs probing
        fp = {}
        for n_segs in (8, 32, 128):
            store = f"{root}/store{n_segs}"
            rows = spark.range(64).selectExpr("id AS k", "string(id) AS v")
            segs = [mf.new_segment_name() for _ in range(n_segs)]
            for s in segs:
                rows.write.parquet(f"{store}/{s}")
            mf.commit_append(spark, store, segs)
            gen, man = mf.latest_manifest(spark, store)
            _, t_fast = timed(lambda: mf.read_segments(spark, store, man))
            legacy = dict(man)
            legacy["stats"] = {
                k: v for k, v in man["stats"].items() if k != "segschema"
            }
            _, t_probe = timed(
                lambda: mf.read_segments(spark, store, legacy)
            )
            fp[f"segs{n_segs}"] = {
                "fingerprint_plan_sec": t_fast,
                "probing_plan_sec": t_probe,
            }
            print(
                f"round14 read_segments {n_segs} segs: fingerprints "
                f"{t_fast}s vs probing {t_probe}s",
                flush=True,
            )
        results["read_segments_plan_build"] = fp

        # --- (2) append stats: observed-on-write vs separate scan
        batch = scaled_documents(spark, 10).selectExpr(
            "doc_id", "text"
        )
        tracker = spark.sparkContext.statusTracker()
        store = f"{root}/obs_store"
        seg = mf.new_segment_name()
        j0 = len(tracker.getJobIdsForGroup(None) or [])
        observed, resolve = mf.observe_segment_stats(batch, ["doc_id"])
        _, t_obs = timed(
            lambda: observed.write.parquet(f"{store}/{seg}")
        )
        st = resolve()
        jobs_observed = len(tracker.getJobIdsForGroup(None) or []) - j0
        seg2 = mf.new_segment_name()
        j0 = len(tracker.getJobIdsForGroup(None) or [])

        def two_scan():
            batch.write.parquet(f"{store}/{seg2}")
            return mf.segment_column_stats(batch, ["doc_id"])

        st2, t_two = timed(two_scan)
        jobs_two_scan = len(tracker.getJobIdsForGroup(None) or []) - j0
        assert {k: v for k, v in st.items()} == st2
        results["append_stats"] = {
            "observed_write_sec": t_obs,
            "write_plus_stats_scan_sec": t_two,
            "observed_jobs": jobs_observed,
            "two_scan_jobs": jobs_two_scan,
        }
        print(
            f"round14 append stats: observed {t_obs}s/{jobs_observed} "
            f"jobs vs write+scan {t_two}s/{jobs_two_scan} jobs",
            flush=True,
        )

        # --- (3) rotated range read: probe-proportional. Windows are
        # FILE-sized (~4k rows each — the "months of rotated output"
        # shape where per-file decode dominates), so the wall ratio
        # tracks the deterministic claim: files opened = kept windows.
        import glob as _glob

        ev = spark.range(400_000).selectExpr(
            "CAST(1577836800000 + id * 150 AS LONG) AS timestamp",
            "id AS event_id",
        )
        sink = f"{root}/rot"
        write_rotated(ev, sink, "timestamp", 600)
        files_total = len(_glob.glob(f"{sink}/window_id=*/*.avro"))
        _, t_full = timed(lambda: read_rotated(spark, sink).count())
        mn, mx = 1577836800000, 1577836800000 + 399_999 * 150
        span = mx - mn
        lo = mn + span * 45 // 100
        hi = mn + span * 55 // 100
        kept, total = prune_rotated(spark, sink, lo, hi, 600)
        files_kept = sum(
            len(_glob.glob(f"{sink}/window_id={w}/*.avro")) for w in kept
        )
        _, t_range = timed(
            lambda: read_rotated_range(
                spark, sink, lo, hi, 600, "timestamp"
            ).count()
        )
        results["rotated_range_read"] = {
            "full_scan_sec": t_full,
            "range_read_sec": t_range,
            "windows_kept": len(kept),
            "windows_total": total,
            "files_opened_range": files_kept,
            "files_total": files_total,
        }
        print(
            f"round14 rotated range: full {t_full}s/{files_total} files "
            f"vs 10%-probe {t_range}s/{files_kept} files "
            f"({len(kept)}/{total} windows)",
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return results


def bench_round15_operators(spark) -> dict:
    """Round-15 mechanics. Claims under measurement: (1) the
    commit-time schema-fingerprint pass over a MANY-segment commit is
    bounded by the thread pool, not serial footer latency, and the
    entries are byte-identical to the serial computation; (2) MP4 keyframe
    selection makes per-payload pixel-decode work track the SYNC
    table, not the frame count (the AVI twin of the same frames
    decodes every one)."""
    import shutil
    import tempfile

    from blockchaintoavro_spark.operators import manifest as mf

    results: dict[str, dict] = {}
    root = tempfile.mkdtemp(prefix="spark_graft_r15_")
    try:
        # --- (1) threaded vs serial segment fingerprints, 16 segments
        import hashlib

        store = f"{root}/fp_store"
        rows = spark.range(64).selectExpr("id AS k", "string(id) AS v")
        segs = [mf.new_segment_name() for _ in range(16)]
        for s in segs:
            rows.write.parquet(f"{store}/{s}")

        def serial():
            out = {}
            for s in segs:
                sj = spark.read.parquet(f"{store}/{s}").schema.json()
                out[s] = hashlib.sha256(
                    sj.encode("utf-8")
                ).hexdigest()[:16]
            return out

        serial_fps, t_serial = timed(serial)
        threaded_fps, t_threaded = timed(
            lambda: mf._segment_schema_fps(spark, store, segs)
        )
        assert threaded_fps == serial_fps  # byte-identical entries
        results["segment_fingerprints_16"] = {
            "serial_sec": t_serial,
            "threaded_sec": t_threaded,
        }
        print(
            f"round15 segschema fingerprints (16 segs): serial "
            f"{t_serial}s vs threaded {t_threaded}s",
            flush=True,
        )

        # --- (2) MP4 keyframe-proportional decode vs AVI all-frames
        from blockchaintoavro_spark.functions.jpeg import encode_jpeg
        from blockchaintoavro_spark.functions.mp4 import encode_mp4
        from blockchaintoavro_spark.functions.video import encode_avi
        from blockchaintoavro_spark.operators.phash import (
            video_phash_codes,
        )

        n_frames, every_k = 24, 6  # 4 sync samples of 24 frames
        jpegs = [
            encode_jpeg(
                32, 32,
                bytes(
                    (37 * (x // 8) + 53 * (y // 8) + 29 * k) % 256
                    for y in range(32)
                    for x in range(32)
                ),
                1, quant=1,
            )
            for k in range(n_frames)
        ]
        mask = [k % every_k == 0 for k in range(n_frames)]
        mp4s = [
            (i, bytearray(encode_mp4(32, 32, jpegs, keyframes=mask)))
            for i in range(16)
        ]
        avis = [
            (i, bytearray(encode_avi(32, 32, jpegs))) for i in range(16)
        ]
        schema = "doc_id long, payload binary"
        mdf = spark.createDataFrame(mp4s, schema)
        adf = spark.createDataFrame(avis, schema)
        rows_mp4, t_mp4 = timed(
            lambda: video_phash_codes(mdf).count()
        )
        rows_avi, t_avi = timed(
            lambda: video_phash_codes(adf).count()
        )
        assert rows_mp4 == 16 * (n_frames // every_k)
        assert rows_avi == 16 * n_frames
        results["mp4_keyframe_decode"] = {
            "mp4_keyframes_sec": t_mp4,
            "avi_all_frames_sec": t_avi,
            "frames_decoded_mp4": rows_mp4,
            "frames_decoded_avi": rows_avi,
        }
        print(
            f"round15 video phash: mp4 keyframes {t_mp4}s/"
            f"{rows_mp4} decodes vs avi all-frames {t_avi}s/"
            f"{rows_avi} decodes",
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return results


def bench_round16_operators(spark) -> dict:
    """Round-16 mechanics. Claims under measurement: (1) FLAC decode on
    the cluster is row-local pure-Python work that parallelizes like
    the other codec legs — decoded samples/sec at local[N] over a real
    mapInPandas stage, with the WAV twin of the SAME audio as the
    container-overhead baseline; (2) the fragmented-MP4 walk costs
    about the same as the flat chunk-run walk for identical samples
    (fragmentation is not a parse tax); (3) vacuum --dry-run on a
    many-generation store is manifest-reads only — the plan costs a
    fraction of the deleting run."""
    import shutil
    import tempfile

    results: dict[str, dict] = {}
    root = tempfile.mkdtemp(prefix="spark_graft_r16_")
    try:
        # --- (1) FLAC vs WAV decode throughput over one Arrow stage
        from blockchaintoavro_spark.functions.audio import encode_wav
        from blockchaintoavro_spark.functions.flac import encode_flac
        from blockchaintoavro_spark.operators.afp import afp_codes

        n_docs, n_samples = 64, 9 * 64 * 4
        sig = [((i * 131) % 4001) - 2000 for i in range(n_samples)]
        flacs = [
            (i, bytearray(encode_flac(8000, 1, sig))) for i in range(n_docs)
        ]
        wavs = [
            (i, bytearray(encode_wav(8000, 1, sig))) for i in range(n_docs)
        ]
        schema = "doc_id long, payload binary"
        fdf = spark.createDataFrame(flacs, schema).repartition(16)
        wdf = spark.createDataFrame(wavs, schema).repartition(16)
        afp_codes(wdf).count()  # warm-up: Arrow workers + codegen
        afp_codes(fdf).count()
        rows_w, t_wav = timed(lambda: afp_codes(wdf).count())
        rows_f, t_flac = timed(lambda: afp_codes(fdf).count())
        assert rows_f == rows_w == n_docs
        results["flac_decode_throughput"] = {
            "flac_sec": t_flac,
            "wav_sec": t_wav,
            "docs": n_docs,
            "samples_per_doc": n_samples,
            "flac_samples_per_sec": round(n_docs * n_samples / t_flac)
            if t_flac
            else None,
        }
        print(
            f"round16 afp over {n_docs} docs x {n_samples} samples: "
            f"flac {t_flac}s vs wav {t_wav}s",
            flush=True,
        )

        # --- (2) fragmented vs flat MP4 container walk, same samples
        from blockchaintoavro_spark.functions.mp4 import (
            decode_mp4,
            encode_mp4,
            encode_mp4_fragmented,
        )

        frames = [bytes([k & 0xFF]) * 4096 for k in range(64)]
        mask = [k % 4 == 0 for k in range(64)]
        flat = encode_mp4(32, 32, frames, keyframes=mask)
        frag2 = encode_mp4_fragmented(
            32, 32, frames, keyframes=mask, samples_per_fragment=2
        )
        frag16 = encode_mp4_fragmented(
            32, 32, frames, keyframes=mask, samples_per_fragment=16
        )

        def walk(blob, reps=50):
            for _ in range(reps):
                d = decode_mp4(blob)
            return d["n_frames"]

        n_flat, t_flat = timed(lambda: walk(flat))
        n_f2, t_f2 = timed(lambda: walk(frag2))
        n_f16, t_f16 = timed(lambda: walk(frag16))
        assert n_flat == n_f2 == n_f16 == 64
        results["fmp4_walk_vs_flat"] = {
            "flat_sec_50x": t_flat,
            "frag2_sec_50x": t_f2,
            "frag16_sec_50x": t_f16,
            "bytes_flat": len(flat),
            "bytes_frag16": len(frag16),
        }
        print(
            f"round16 mp4 walk x50: flat {t_flat}s vs 2-sample "
            f"fragments {t_f2}s vs 16-sample fragments {t_f16}s — "
            "the cost is per-FRAGMENT box walking, amortized by "
            "real-world (CMAF ~2s) fragment sizes",
            flush=True,
        )

        # --- (3) vacuum dry-run vs deleting run, 24 generations
        from blockchaintoavro_spark.operators import manifest as mf

        store = f"{root}/vac_store"
        rows = spark.range(256).selectExpr("id AS k")
        for _ in range(24):
            seg = mf.new_segment_name()
            rows.write.parquet(f"{store}/{seg}")
            mf.commit_append(spark, store, [seg])
        plan, t_dry = timed(
            lambda: mf.vacuum_store(
                spark, store, keep_generations=2, dry_run=True
            )
        )
        real, t_real = timed(
            lambda: mf.vacuum_store(spark, store, keep_generations=2)
        )
        assert len(plan["would_delete_manifests"]) == real[
            "deleted_manifests"
        ]
        results["vacuum_dry_run_24gen"] = {
            "dry_run_sec": t_dry,
            "delete_sec": t_real,
            "manifests_retired": real["deleted_manifests"],
        }
        print(
            f"round16 vacuum 24 gens: dry-run {t_dry}s vs delete "
            f"{t_real}s ({real['deleted_manifests']} manifests)",
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return results


def main() -> None:
    spark = get_spark("scale_bench")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out = {
        "sf_dir": SF_DIR,
        "cpus": int(cpus),
        "scales": SCALES,
        "operators": bench_operators(spark),
        "round5_operators": bench_round5_operators(spark),
        "round7_operators": bench_round7_operators(spark),
        "round9_operators": bench_round9_operators(spark),
        "round10_operators": bench_round10_operators(spark),
        "round11_operators": bench_round11_operators(spark),
        "round12_operators": bench_round12_operators(spark),
        "round13_operators": bench_round13_operators(spark),
        "round14_operators": bench_round14_operators(spark),
        "round15_operators": bench_round15_operators(spark),
        "round16_operators": bench_round16_operators(spark),
        "model_ops": bench_model_ops(spark),
        "ocf_split": bench_ocf_split(spark),
    }
    dest = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_BENCH.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
