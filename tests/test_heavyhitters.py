"""Heavy hitters (operators/heavyhitters.py): the two-pass
MG-candidates + exact-recount plan must be EXACTLY the full-groupBy
answer (that is the operator's whole contract), with k-bounded state
per partition and the corpus never shuffled before the candidate
slice."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from blockchaintoavro_spark.operators.heavyhitters import (
    _mg_summaries,
    exact_heavy_hitters,
    heavy_hitters,
)


def _tokens(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )


def test_heavy_hitters_equals_exact_groupby(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    want = [
        (r["item"], r["item_count"])
        for r in exact_heavy_hitters(toks, "tok", 1, 100).collect()
    ]
    got = [
        (r["item"], r["item_count"])
        for r in heavy_hitters(toks, "tok", 1, 100).collect()
    ]
    assert got == want and len(want) > 0


def test_heavy_hitters_small_k_still_exact(spark):
    """k at the guarantee bound with MANY distinct cold items per
    partition: the MG decrement path must churn through the long tail
    without evicting the true heavy hitters."""
    n_noise, n_heavy = 20_000, 3_000
    df = (
        spark.range(n_noise)
        .select(F.concat(F.lit("cold-"), F.col("id")).alias("item"))
        .unionAll(
            spark.range(n_heavy).select(
                F.concat(F.lit("hot-"), (F.col("id") % 3)).alias("item")
            )
        )
        .repartition(8)
    )
    # threshold 1/30 of 23k rows ≈ 767; each hot-i has 1000 rows
    want = [
        (r["item"], r["item_count"])
        for r in exact_heavy_hitters(df, "item", 1, 30).collect()
    ]
    got = [
        (r["item"], r["item_count"])
        for r in heavy_hitters(df, "item", 1, 30).collect()
    ]
    assert got == want
    assert [i for i, _ in got] == ["hot-0", "hot-1", "hot-2"]
    # candidate state really is bounded: ≤ k rows per partition
    k = 30
    cand = _mg_summaries(df, "item", k).filter(F.col("mg_lower") > 0)
    per_part = (
        cand.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    )
    assert all(r["count"] <= k for r in per_part)


def test_heavy_hitters_k_below_guarantee_raises(spark):
    df = spark.range(10).select(F.col("id").alias("item"))
    with pytest.raises(ValueError, match="cannot retain"):
        heavy_hitters(df, "item", 1, 100, k=50)


def test_heavy_hitters_plan_broadcasts_candidates(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    plan = heavy_hitters(toks, "tok", 1, 100)
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        plan._jdf.queryExecution(), "formatted"
    )
    # the recount joins the corpus against BROADCAST candidates — the
    # corpus side is never hash-exchanged before the semi-join
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


@given(
    items=st.lists(st.integers(0, 20), min_size=1, max_size=300),
    num_den=st.sampled_from([(1, 10), (1, 5), (1, 20)]),
)
@settings(max_examples=10, deadline=None)
def test_heavy_hitters_property_equals_exact(spark, items, num_den):
    num, den = num_den
    df = spark.createDataFrame(
        [(i,) for i in items], "item long"
    ).repartition(4)
    want = [
        (r["item"], r["item_count"])
        for r in exact_heavy_hitters(df, "item", num, den).collect()
    ]
    got = [
        (r["item"], r["item_count"])
        for r in heavy_hitters(df, "item", num, den).collect()
    ]
    assert got == want


def test_heavy_hitters_null_items_excluded_symmetrically(spark):
    """ADVICE r12 #3: a column where NULL is frequent — both plans
    exclude NULL items AND exclude NULL rows from the total, so the
    'exact twin' claim holds on nullable columns too."""
    df = spark.createDataFrame(
        [("a",)] * 40 + [("b",)] * 5 + [(None,)] * 55,
        "item string",
    ).repartition(4)
    # non-null total is 45; a=40 (88%), b=5 (11%) — at 1/2 only 'a'
    want = [
        (r["item"], r["item_count"])
        for r in exact_heavy_hitters(df, "item", 1, 2).collect()
    ]
    got = [
        (r["item"], r["item_count"])
        for r in heavy_hitters(df, "item", 1, 2).collect()
    ]
    assert got == want == [("a", 40)]
    # all-NULL and empty inputs return empty with the right schema
    allnull = spark.createDataFrame([(None,)] * 10, "item string")
    for probe in (allnull, allnull.limit(0)):
        out = heavy_hitters(probe, "item", 1, 2)
        assert out.columns == ["item", "item_count"]
        assert out.count() == 0


def test_heavy_hitters_two_scans_not_three(spark, sf_dir, tmp_path):
    """VERDICT r12 #3: the total rides the MG pass, so the RETURNED
    plan holds exactly one corpus scan (the recount) — no third
    count(*) leg — and building it runs exactly one job (pass 1)."""
    toks = _tokens(spark, sf_dir)
    toks.write.mode("overwrite").parquet(str(tmp_path / "toks"))
    src = spark.read.parquet(str(tmp_path / "toks"))
    plan = heavy_hitters(src, "tok", 1, 100)
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        plan._jdf.queryExecution(), "formatted"
    )
    import re

    # count physical-plan node detail headers, not every mention (the
    # formatted explain repeats each node name in its detail section)
    scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.M))
    assert scans == 1, f"expected 1 corpus scan in the recount plan, got {scans}\n{p}"
    # and the answer still matches the full groupBy
    want = [
        (r["item"], r["item_count"])
        for r in exact_heavy_hitters(src, "tok", 1, 100).collect()
    ]
    assert [(r["item"], r["item_count"]) for r in plan.collect()] == want


def test_streaming_mg_candidates_superset_and_bounded(
    spark, sf_dir, tmp_path
):
    """r13 streaming leg: sharded Misra-Gries state over a multi-batch
    replay must (a) end with a candidate union that contains every true
    heavy hitter, (b) keep ≤ k counters per shard, and (c) report
    mg_lower values that never exceed the true count."""
    from blockchaintoavro_spark.streaming.stateful import (
        streaming_heavy_hitter_candidates,
    )

    toks = _tokens(spark, sf_dir)
    src = str(tmp_path / "tok_stream")
    # several files → several micro-batches with maxFilesPerTrigger=1
    toks.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    k, shards = 100, 8
    out = streaming_heavy_hitter_candidates(stream, "tok", k=k, shards=shards)
    per_batch: dict[int, list] = {}

    def sink(df, bid):
        per_batch[bid] = df.collect()

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert len(per_batch) >= 2  # really multi-batch
    # final state per shard = its rows from the LAST batch that emitted it
    final: dict[int, dict[str, int]] = {}
    for bid in sorted(per_batch):
        by_shard: dict[int, dict[str, int]] = {}
        for r in per_batch[bid]:
            if r["item"] is not None:  # skip empty-shard markers (r14)
                by_shard.setdefault(r["shard"], {})[r["item"]] = r["mg_lower"]
        final.update(by_shard)
    for shard_counters in final.values():
        assert len(shard_counters) <= k
    cand = {i for c in final.values() for i in c}
    exact = {
        r["item"]: r["item_count"]
        for r in exact_heavy_hitters(toks, "tok", 1, k + 1).collect()
    }
    missing = set(exact) - cand
    assert not missing, f"candidates lost true heavy hitters: {missing}"
    truth = {
        r["item"]: r["n"]
        for r in toks.groupBy(F.col("tok").alias("item"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for counters in final.values():
        for item, lower in counters.items():
            assert lower <= truth[item], (item, lower, truth[item])


def test_heavy_hitters_guards_driver_candidate_volume(spark):
    """A tiny min_frac on a wide input would turn the summaries collect
    into a data-sized transfer — it must fail loudly with remediation,
    not OOM the driver."""
    df = spark.range(100).select(F.col("id").alias("item")).repartition(32)
    with pytest.raises(ValueError, match="candidate rows to the driver"):
        heavy_hitters(df, "item", 1, 1_000_000)
    # the default cap is 1M (long string items make 10M rows multi-GB
    # on the driver); 32 parts x k=62_500 = 2M trips it...
    with pytest.raises(ValueError, match="candidate rows to the driver"):
        heavy_hitters(df, "item", 1, 62_500)
    # ...and a caller with driver heap can raise it explicitly
    out = heavy_hitters(df, "item", 1, 62_500, max_candidate_rows=4_000_000)
    assert out.count() == 100


def test_streaming_candidates_recount_equals_exact(spark, sf_dir, tmp_path):
    """The streaming→exact composition (x_streaming_hh_exact shape):
    final sharded-MG candidate union + summed shard_rows fed to
    recount_candidates must EQUAL the full-groupBy exact answer — and
    the state-carried total must equal the true non-NULL count, so the
    composition needs no extra counting scan."""
    from blockchaintoavro_spark.operators.heavyhitters import (
        recount_candidates,
    )
    from blockchaintoavro_spark.streaming.stateful import (
        last_emission_collector,
        streaming_heavy_hitter_candidates,
    )

    toks = _tokens(spark, sf_dir)
    src = str(tmp_path / "tok_stream")
    toks.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_heavy_hitter_candidates(stream, "tok", k=100, shards=8)
    sink, final_rows = last_emission_collector()
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120)
    rows = final_rows()
    n = sum({r["shard"]: r["shard_rows"] for r in rows}.values())
    assert n == toks.filter(F.col("tok").isNotNull()).count()
    cand = {r["item"] for r in rows if r["item"] is not None}
    got = [
        (r["item"], r["item_count"])
        for r in recount_candidates(toks, "tok", cand, n, 1, 100).collect()
    ]
    want = [
        (r["item"], r["item_count"])
        for r in exact_heavy_hitters(toks, "tok", 1, 100).collect()
    ]
    assert got == want and len(got) > 0


def test_streaming_mg_empty_shard_emits_marker_with_totals(
    spark, tmp_path
):
    """r14 review fix: a shard whose k counters all decrement away in
    a batch must STILL emit (a NULL-item marker carrying shard_rows) —
    otherwise a last-emission consumer keeps the previous batch's
    stale candidates and an undercounted total, breaking the
    streaming→exact recount denominator."""
    from blockchaintoavro_spark.operators.heavyhitters import (
        recount_candidates,
    )
    from blockchaintoavro_spark.streaming.stateful import (
        streaming_heavy_hitter_candidates,
    )

    # k=1, one shard: file 1 installs {A:1}; file 2's B decrements A
    # away and (classic MG) cannot install itself — counters empty
    src = str(tmp_path / "toks")
    spark.createDataFrame([("A",)], "tok string").write.parquet(
        f"{src}/f1"
    )
    spark.createDataFrame([("B",)], "tok string").write.parquet(
        f"{src}/f2"
    )
    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = streaming_heavy_hitter_candidates(stream, "tok", k=1, shards=1)
    per_batch: dict[int, list] = {}

    def sink(df, bid):
        per_batch[bid] = df.collect()

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120)
    non_empty = {b: rows for b, rows in per_batch.items() if rows}
    assert len(non_empty) == 2  # one emission per file-batch
    last = non_empty[max(non_empty)]
    # the final emission is the marker: no candidate, CURRENT total
    assert [(r["item"], r["mg_lower"], r["shard_rows"]) for r in last] == [
        (None, 0, 2)
    ]
    # and the composition stays exact: at threshold 1/1 (k=1 satisfies
    # k+1 > den/num) the true heavy-hitter set is empty, the candidate
    # union is empty, and the denominator is the TRUE total 2, not the
    # stale 1 a skipped emission would have left
    toks = spark.read.parquet(f"{src}/*")
    got = recount_candidates(toks, "tok", set(), 2, 1, 1).collect()
    assert got == []
