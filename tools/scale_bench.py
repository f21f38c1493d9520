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
  sync-marker byte-range splits (split_size), local[N] parallel; and
  many small files (the blocks fixture through the rotated sink, one
  file per window): the sink's write, the read back through
  ``format("avro_ocf")`` and one ``compact_ocf_dir`` of it.

Usage: python tools/scale_bench.py  (env SPARK_GRAFT_SF_DIR to change
the seed corpus, SPARK_GRAFT_SCALES to change the multiplier list).
A run rewrites SCALE_BENCH.json with only these sections; its older
``roundN_operators``/``model_ops`` sections are historical (SCALE.md).
"""

from __future__ import annotations

import json
import os
import statistics
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


def bench_ocf_small_files(spark, d: str, reads: int = 5) -> dict:
    """Many small files: the blocks fixture written ``reads`` times
    through the rotated sink (one ``window_id=N`` directory per 600 s
    window; median write seconds), read back through
    ``format("avro_ocf")`` (planned task count, median of ``reads`` warm
    reads after one untimed read), then compacted once by
    ``compact_ocf_dir`` (seconds, files in -> out, bytes in -> out)."""
    from blockchaintoavro_spark.operators.rotation import write_rotated
    from blockchaintoavro_spark.sources import avro_datasource as ads
    from blockchaintoavro_spark.sources.avro_io import compact_ocf_dir
    from blockchaintoavro_spark.sources.tables import load_blocks

    ads.register(spark)
    sink = os.path.join(d, "rotated")
    blocks = load_blocks(spark)
    write_secs = [timed(lambda: write_rotated(blocks, sink))[1] for _ in range(reads)]
    opts = {"path": sink, "partition_col": "window_id"}
    schema = ads.AvroOCFDataSource(opts).schema()
    n_parts = len(ads.AvroOCFReader(schema, opts).partitions())

    def avro_bytes(root: str) -> tuple[int, int]:
        sizes = [
            os.path.getsize(os.path.join(dd, f))
            for dd, _sub, names in os.walk(root)
            for f in names
            if f.endswith(".avro")
        ]
        return len(sizes), sum(sizes)

    n_files, _ = avro_bytes(sink)

    def read() -> int:
        return (
            spark.read.format("avro_ocf")
            .option("partition_col", "window_id")
            .load(sink)
            .count()
        )

    rows = read()
    secs = [timed(read)[1] for _ in range(reads)]
    compacted = os.path.join(d, "compacted")
    stats, compact_sec = timed(
        lambda: compact_ocf_dir(spark, sink, compacted, partition_col="window_id")
    )
    assert stats["rows"] == rows, (stats, rows)
    return {
        "windows": len(os.listdir(sink)),
        "files": n_files,
        "rows": rows,
        "write_sec": round(statistics.median(write_secs), 3),
        "write_sec_all": write_secs,
        "partitions": n_parts,
        "sec": round(statistics.median(secs), 3),
        "sec_all": secs,
        "compact": {
            "sec": compact_sec,
            "n_in": stats["n_in"],
            "n_out": stats["n_out"],
            "bytes_in": stats["bytes_in"],
            "bytes_out": avro_bytes(compacted)[1],
        },
    }


def bench_ocf_split(spark) -> dict:
    """One large multi-block OCF file, written by the engine's dataset
    writer in one task (``write_sec``): whole-file single InputPartition
    vs sync-marker-aligned byte-range splits
    (sources/avro_datasource.py), then the many-small-files read
    (:func:`bench_ocf_small_files`)."""
    from blockchaintoavro_spark.sources import avro_datasource as ads
    from blockchaintoavro_spark.sources.avro_io import write_ocf_dataset

    ads.register(spark)
    d = tempfile.mkdtemp(prefix="ocf_scale_")
    drop = os.path.join(d, "drop")
    docs = spark.range(OCF_ROWS).selectExpr(
        "id AS doc_id",
        "concat('document ', id, ' payload ', id * 2654435761 % 1000000000000) AS text",
    )
    t0 = time.perf_counter()
    (written,) = write_ocf_dataset(docs.coalesce(1), drop)
    write_sec = round(time.perf_counter() - t0, 3)
    size = os.path.getsize(written["path"])

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
        "small_files_read": bench_ocf_small_files(spark, d),
    }


def main() -> None:
    spark = get_spark("scale_bench")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out = {
        "sf_dir": SF_DIR,
        "cpus": int(cpus),
        "scales": SCALES,
        "operators": bench_operators(spark),
        "ocf_split": bench_ocf_split(spark),
    }
    dest = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_BENCH.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
