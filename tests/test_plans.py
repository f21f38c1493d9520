"""Physical-plan regression tests (SURVEY §4, SCALE.md evidence).

Correctness tests prove the answers; these prove the *plans* — pushdown,
pruning, broadcast choice, partial aggregation, rank-limit pushdown —
so a refactor that silently de-optimizes a query fails CI, not the
100 TB run.
"""

from __future__ import annotations

import pytest

from blockchaintoavro_spark.plans import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(spark, registry, name, sf_dir, mode="formatted"):
    df = registry[name].spark(spark, sf_dir)
    jvm = spark.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


# nodes that run Python: a range-partitioning Exchange directly over one
# re-executes the whole Python stage for its sampling pass
_PY_NODES = (
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "AttachDistributedSequence",
)


def _children(n):
    out, it = [], n.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _python_before_barrier(n):
    nm = n.getClass().getSimpleName()
    if "ShuffleExchange" in nm or "QueryStage" in nm or "RDDScan" in nm:
        return False
    if any(p in nm for p in _PY_NODES):
        return True
    return any(_python_before_barrier(c) for c in _children(n))


def _python_under_range_sort(n):
    if "ShuffleExchange" in n.getClass().getSimpleName():
        part = n.outputPartitioning().toString()
        if "rangepartitioning" in part.lower() and any(
            _python_before_barrier(c) for c in _children(n)
        ):
            return True
    return any(_python_under_range_sort(c) for c in _children(n))


@pytest.fixture(scope="module")
def registry_walk(spark, registry, sf_dir):
    """Build every declared query's plan ONCE for the whole-registry
    checks: ``name → (simple explain string, python stage under an
    unbarriered range sort?)``. Only Python values are kept — holding the
    JVM plans would pin builders' checkpoint RDDs for the session."""
    jvm = spark.sparkContext._jvm
    out = {}
    for name in sorted(registry):
        qe = registry[name].spark(spark, sf_dir)._jdf.queryExecution()
        simple = jvm.PythonSQLUtils.explainString(qe, "simple")
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()
        out[name] = (simple, _python_under_range_sort(plan))
    return out


def test_dq10_all_dims_broadcast(spark, registry, sf_dir):
    # simple mode: each physical node appears exactly once in the tree
    s = plan_of(spark, registry, "dq10_star_join", sf_dir, mode="simple")
    assert s.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    p = plan_of(spark, registry, "dq10_star_join", sf_dir)
    # lineitem scan pruned to exactly the 3 needed columns
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"
        in p
    )


def test_dq10_filtered_pushdown_through_joins(spark, registry, sf_dir):
    """Q5 shape: the o_orderdate range must reach the orders parquet scan
    as PushedFilters, not sit above the join."""
    p = plan_of(spark, registry, "dq10_star_join_filtered", sf_dir)
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "LessThan(o_orderdate" in p
    assert "EqualTo(r_name,ASIA)" in p


def test_dq15_pushdown_and_partial_agg(spark, registry, sf_dir):
    p = plan_of(spark, registry, "dq15_agg_q1", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    assert "partial_sum" in p  # map-side combine before the exchange
    s = plan_of(spark, registry, "dq15_agg_q1", sf_dir, mode="simple")
    assert s.count("Exchange") <= 2  # agg + final sort, nothing else


def test_money_aggs_run_in_long_not_decimal(spark, registry, sf_dir):
    """The bench money sums accumulate in split BIGINTs (2x faster per row),
    recombining to decimal only per group; a regression back to per-row
    128-bit decimal adds shows up as UnscaledValue/decimal sums in the
    aggregate (see _util.exact_sum_fixed)."""
    import re

    for q in ("dq10_star_join", "dq10_star_join_filtered", "dq15_agg_q1"):
        p = plan_of(spark, registry, q, sf_dir)
        assert "UnscaledValue" not in p, q
        assert not re.search(r"sum\(cast\([^)]*decimal", p), q
        assert "shiftright" in p, q  # the split accumulator is in place


def test_dq07_rank_limit_pushdown(spark, registry, sf_dir):
    """Spark 3.5+ WindowGroupLimit: the rn=1 filter prunes duplicates
    before the full window sort — the dedup shuffle carries ~1 row/key."""
    p = plan_of(spark, registry, "dq07_flagship_etl", sf_dir)
    assert "WindowGroupLimit" in p
    assert "Generate" in p  # unnest is a Generate, not a join


def test_dq31_no_cartesian_and_partial_topk(spark, registry, sf_dir):
    p = plan_of(spark, registry, "dq31_cosine_topk", sf_dir)
    assert "CartesianProduct" not in p
    # query vectors broadcast; corpus never shuffled pre-similarity
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p  # partial top-k before final window


def test_dq20_take_ordered(spark, registry, sf_dir):
    p = plan_of(spark, registry, "dq20_topk", sf_dir)
    assert "TakeOrderedAndProject" in p  # never a global sort for top-k


def test_dq01_count_reads_no_columns(spark, registry, sf_dir):
    p = plan_of(spark, registry, "dq01_scan_count", sf_dir)
    assert "ReadSchema: struct<>" in p


def test_dq05_nested_schema_pruning(spark, registry, sf_dir):
    """Touching two leaves of transactions[].inputs[] must not read the
    whole nested struct (outputs[] pruned away)."""
    p = plan_of(spark, registry, "dq05_nested_inputs", sf_dir)
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read and all("output_satoshis" not in l for l in read)
    p = plan_of(spark, registry, "dq05_nested_outputs", sf_dir)
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read and all("input_sequence_number" not in l for l in read)


def test_flagship_etl_prunes_nested_arrays(spark, registry, sf_dir):
    """dq07 publishes only transaction_id from the nested array: the scan
    must skip every inputs[]/outputs[] column chunk (the bulk of the
    table's bytes at 100 TB)."""
    for name in ("dq07_flagship_etl", "dq04_array_transform"):
        p = plan_of(spark, registry, name, sf_dir)
        read = [l for l in p.splitlines() if "ReadSchema" in l]
        assert read, name
        assert all("input_script" not in l for l in read), name
        assert all("output_satoshis" not in l for l in read), name


def test_flagship_full_reads_nested_arrays(spark, registry, sf_dir):
    """dq37_flagship_full publishes transactions.* including the nested
    inputs[]/outputs[] arrays (etl.sh:21) — its scan MUST read those
    column chunks (the inverse of dq07_flagship_etl's pruning), and the
    canonicalization stays a narrow projection: no extra shuffle beyond
    the dedup Exchange."""
    p = plan_of(spark, registry, "dq37_flagship_full", sf_dir)
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read
    assert any("input_script_bytes" in l for l in read)
    assert any("output_satoshis" in l for l in read)
    # dedup window needs exactly one hash Exchange (on block_id)
    s = plan_of(spark, registry, "dq37_flagship_full", sf_dir, mode="simple")
    assert s.count("Exchange hashpartitioning(block_id") == 1


def test_dq09_join_is_broadcast_or_sorted_once(spark, registry, sf_dir):
    p = plan_of(spark, registry, "dq09_join_inner", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dq13_theta_join_keeps_equi_key(spark, registry, sf_dir):
    """The range predicate must ride the equi hash join as a residual,
    not degrade to a nested loop."""
    p = plan_of(spark, registry, "dq13_theta_join", sf_dir)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_neardup_lsh_no_nested_loop(spark, registry, sf_dir):
    """The declared LSH near-dup scale path must be pure equi-joins on
    (table_id, bucket) and ids — no all-pairs nested loop at ANY corpus
    cardinality (the exact x_embedding_neardup is the bounded twin)."""
    p = plan_of(spark, registry, "x_embedding_neardup_lsh", sf_dir)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_decontaminate_broadcasts_contaminant_grams(spark, registry, sf_dir):
    """The contaminant n-gram set (benchmark-sized, small) must broadcast
    so the 100 TB corpus probe side never shuffles its exploded grams."""
    s = plan_of(spark, registry, "x_decontaminate", sf_dir, mode="simple")
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_corpus_scoring_joins_broadcast_small_side(spark, registry, sf_dir):
    """Boilerplate-gram and unigram-LM probes broadcast their (small)
    model side — the 100 TB doc side never shuffles its exploded grams —
    and the per-doc counts partial-aggregate before the doc-keyed
    exchange."""
    for name in ("x_boilerplate_ratio", "x_unigram_logprob"):
        s = plan_of(spark, registry, name, sf_dir, mode="simple")
        assert "BroadcastHashJoin" in s, name
        assert "SortMergeJoin" not in s, name
    p = plan_of(spark, registry, "x_unigram_logprob", sf_dir)
    assert "partial_count" in p or "partial_avg" in p


def test_incremental_dedup_hash_keyed_anti_join(spark, registry, sf_dir):
    """The batch-vs-corpus probe is an equi anti-join on the content
    hash — one row per distinct content on each side, never a nested
    loop or pairwise text comparison."""
    s = plan_of(spark, registry, "x_incremental_dedup", sf_dir, mode="simple")
    assert "LeftAnti" in s
    assert "NestedLoop" not in s and "CartesianProduct" not in s


def test_no_query_uses_python_row_udf(registry_walk):
    """Hot paths stay JVM-side: no row-at-a-time BatchEvalPython in any
    declared relational/extended plan (ArrowEvalPython — pandas UDFs —
    allowed only in the explicitly-Python operators)."""
    allowed_python = {"x_base58_udf", "x_udaf_centroid_norm", "x_multimodal_decode"}
    for name, (p, _) in registry_walk.items():
        if name in allowed_python:
            continue
        assert "BatchEvalPython" not in p, f"{name} uses row-at-a-time Python"


def test_quality_ops_are_shuffle_free(spark, registry, sf_dir):
    """Split assignment, stratified sampling, and the dup-ngram filter are
    row-local expressions: the only Exchange allowed is the final
    presentation sort's range partitioning."""
    for name in (
        "x_hash_split",
        "x_stratified_sample",
        "x_ngram_repetition",
        "x_pii_redact",
    ):
        s = plan_of(spark, registry, name, sf_dir, mode="simple")
        assert s.count("Exchange") <= 1, name  # orderBy only
        assert "rangepartitioning" in s, name  # ...and it IS the orderBy


def test_topk_per_lang_partial_agg_and_group_limit(spark, registry, sf_dir):
    """Token counts combine map-side; the per-lang rank limit prunes
    before the final window sort."""
    p = plan_of(spark, registry, "x_token_topk_per_lang", sf_dir)
    assert "partial_count" in p
    assert "WindowGroupLimit" in p


def test_dq36_stats_single_two_phase_agg(spark, registry, sf_dir):
    """All four moments ride one partial/final agg pair — one shuffle for
    the agg plus the presentation sort."""
    p = plan_of(spark, registry, "dq36_stats", sf_dir)
    s = plan_of(spark, registry, "dq36_stats", sf_dir, mode="simple")
    assert "partial_stddev_samp" in p or "partial_var_samp" in p
    assert s.count("Exchange") <= 2


def test_join_strategy_selection_and_hint(spark, registry, sf_dir):
    """Optimizer-strategy evidence: without a broadcastable side Spark
    picks sort-merge for large=large, and a shuffle_hash hint flips it to
    ShuffledHashJoin (no sort) when one side is mid-size — the knob we'd
    use at 100 TB when the build side fits executor memory but not the
    broadcast threshold."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        smj = li.join(o, li.l_orderkey == o.o_orderkey)
        assert "SortMergeJoin" in smj._jdf.queryExecution().executedPlan().toString()
        shj = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        assert "ShuffledHashJoin" in shj._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_sequence_pack_single_shard_shuffle(spark, registry, sf_dir):
    """Packing shuffles once on the shard key for its window; the only
    other Exchange is the presentation sort."""
    s = plan_of(spark, registry, "x_sequence_pack", sf_dir, mode="simple")
    assert "Window" in s
    assert s.count("Exchange") <= 2  # hashpartitioning(lang) + orderBy


def test_budget_mixture_single_source_shuffle(spark, registry, sf_dir):
    """Mixture sampling shuffles once, on (source, md5-prefix bucket) —
    the r7 shape whose largest window task holds ~1/4096 of a source
    instead of all of it; the below-bucket offsets ride a BROADCAST
    lookup (no extra shuffle) and the only other Exchange is the
    presentation sort."""
    s = plan_of(spark, registry, "x_budget_mixture", sf_dir, mode="simple")
    assert s.count("hashpartitioning") == 1, s
    assert s.count("Exchange hashpartitioning") <= 1, s
    assert "BroadcastHashJoin" in s, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_semantic_cluster_partial_argmax(spark, registry, sf_dir):
    """IVF-style cluster assignment: seeds are a broadcast fan-out and the
    per-vector argmax partial-aggregates map-side (partial_max_by), so the
    vec_id exchange carries one row per vector, never K."""
    p = plan_of(spark, registry, "x_semantic_cluster", sf_dir)
    assert "partial_max_by" in p
    s = plan_of(spark, registry, "x_semantic_cluster", sf_dir, mode="simple")
    # broadcast of seeds + agg + cluster window + presentation sort
    assert s.count("Exchange") <= 4


def test_gopher_and_chunks_shuffle_free(spark, registry, sf_dir):
    """Gopher metrics and token chunking are row-local (HOFs / Generate):
    the only Exchange allowed is the final presentation sort."""
    for name in ("x_gopher_rules", "x_doc_chunks"):
        s = plan_of(spark, registry, name, sf_dir, mode="simple")
        assert s.count("Exchange") <= 1, name
        assert "rangepartitioning" in s, name
        assert "BatchEvalPython" not in s, name


def test_bloom_decontaminate_no_join(spark, registry, sf_dir):
    """The Bloom path must answer membership from the broadcast bitset:
    no join operator anywhere, probe via vectorized Arrow batches (never
    row-at-a-time Python), and the only shuffles are the per-doc hit
    count + presentation sort."""
    s = plan_of(spark, registry, "x_bloom_decontaminate", sf_dir, mode="simple")
    for join_op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in s
    assert "ArrowEvalPython" in s  # pandas UDF, Arrow-batched
    assert "BatchEvalPython" not in s
    assert s.count("Exchange") <= 2  # hit-count agg + orderBy


def test_epoch_shuffle_no_global_window_funnel(spark, registry, sf_dir):
    """The global permutation must use the deterministic binned
    global-rank pattern: the row_number window is PARTITIONED by the
    hash-prefix bin (never the single-partition 100 TB funnel), the
    offset map joins as a broadcast, and nothing is persisted (the r3
    cache-leak fix — both passes are deterministic, so no pinned cache
    is needed)."""
    s = plan_of(spark, registry, "x_epoch_shuffle", sf_dir, mode="simple")
    assert "SinglePartition" not in s
    assert "row_number" in s
    assert "_bin" in s  # window partition key is the hash-prefix bin
    assert "BroadcastHashJoin" in s  # offsets broadcast, never shuffled
    assert "InMemoryTableScan" not in s  # no persist → nothing to leak


def test_threshold_buckets_adds_no_shuffle(spark, registry, sf_dir):
    """The production bucketing path (x_threshold_buckets) is a row-local
    CASE on the score: its plan must contain NO window and EXACTLY the
    same number of exchanges as the underlying scoring query — the
    bucketing stage itself is shuffle-free (unlike the rank-tile twin
    x_ppl_buckets, whose global ntile is the documented cliff form)."""
    bucketed = plan_of(spark, registry, "x_threshold_buckets", sf_dir, mode="simple")
    scoring = plan_of(spark, registry, "x_unigram_logprob", sf_dir, mode="simple")
    assert "Window" not in bucketed
    assert "ntile" not in bucketed
    assert bucketed.count("Exchange") == scoring.count("Exchange")


def test_length_batches_per_bucket_sorts_only(spark, registry, sf_dir):
    """Length-bucketed batching windows per bucket — partitioned sorts
    only, no global-order Exchange besides the presentation sort."""
    s = plan_of(spark, registry, "x_length_batches", sf_dir, mode="simple")
    assert "SinglePartition" not in s


def test_range_join_binned_is_equi_join(spark, registry, sf_dir):
    """The binned interval join must plan as a hash equi-join on the bin
    id — never the nested-loop Catalyst would pick for a pure range
    predicate."""
    s = plan_of(spark, registry, "x_range_join_binned", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s or "SortMergeJoin" in s


def test_dq30_sessionize_single_window_exchange(spark, registry, sf_dir):
    """Bench headline: both window functions (lag + running sum) must
    share ONE user_id exchange, the session aggregate must reuse that
    partitioning (no third exchange), leaving exactly hash + final
    presentation sort."""
    s = plan_of(spark, registry, "dq30_sessionize", sf_dir, mode="simple")
    assert s.count("Exchange") <= 2  # window shuffle + orderBy only
    assert "SinglePartition" not in s
    assert "partial_count" in s  # map-side combine in the session agg


def test_dq32_token_topk_take_ordered(spark, registry, sf_dir):
    """Bench headline: top-20 must be TakeOrderedAndProject over the
    partially-aggregated counts — one exchange, no global sort of the
    exploded tokens."""
    s = plan_of(spark, registry, "dq32_token_topk", sf_dir, mode="simple")
    assert "TakeOrderedAndProject" in s
    assert s.count("Exchange") <= 1
    assert "partial_count" in s


def test_c4_line_filter_shuffle_free(spark, registry, sf_dir):
    """Line-level cleaning is row-local: presentation sort only."""
    s = plan_of(spark, registry, "x_c4_line_filter", sf_dir, mode="simple")
    assert s.count("Exchange") <= 1
    assert "rangepartitioning" in s
    assert "BatchEvalPython" not in s


def test_aqe_skew_join_splits_hot_key(spark):
    """SCALE.md's skew posture made concrete (r3 VERDICT #6): a join
    where ONE key owns 50% of the rows must trigger AQE's skew-join
    split — the finalized adaptive plan shows the SortMergeJoin marked
    skew=true reading a skew-split AQEShuffleRead — instead of one
    straggler task sorting half the input."""
    from pyspark.sql import functions as F

    # thresholds shrunk so the 400k-row fixture crosses them the same
    # way a 100 TB hot key crosses the 256 MB default
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 997).select(
            F.col("id").alias("k"), F.concat(F.lit("dim-"), F.col("id")).alias("d")
        )
        j = left.join(right, "k").select(F.length("pl").alias("n"))
        assert len(j.collect()) == 400_000  # correctness unaffected
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_x_chainwork_single_codegen_no_python(spark, registry, sf_dir):
    """The compact-bits long division must stay one WholeStageCodegen
    span of stacked projections (the named-intermediate structure that
    keeps janino happy — functions/chainwork.py) with no Python and no
    shuffle besides the presentation sort."""
    s = plan_of(spark, registry, "x_chainwork", sf_dir, mode="simple")
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert s.count("Exchange") <= 1  # orderBy only
    df = registry["x_chainwork"].spark(spark, sf_dir)
    df.collect()  # finalize the adaptive plan so codegen ids materialize
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "codegen id : 1" in p  # division chain fused into one stage
    # ...and the fusion actually compiled: a janino failure falls back to
    # interpreted Projects, which lose the codegen star in the final plan
    assert "*(1) Project" in df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q3_broadcasts_customer_and_pushes_dates(spark, registry, sf_dir):
    """Q3 shape: the segment-filtered customer dim broadcasts; both date
    predicates reach their parquet scans as PushedFilters."""
    p = plan_of(spark, registry, "x_tpch_q3", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "o_orderdate" in p.split("PushedFilters", 1)[-1] or "LessThan(o_orderdate" in p
    assert "GreaterThan(l_shipdate" in p


def test_tpch_q19_pushes_single_side_residuals(spark, registry, sf_dir):
    """The OR-of-conjunctions keeps per-side residuals below the join:
    the part scan receives brand/size filters, the lineitem scan the
    quantity-range disjunction — neither side scans unfiltered."""
    p = plan_of(spark, registry, "x_tpch_q19_like", sf_dir)
    li_scan = [s for s in p.split("Scan parquet") if "l_quantity" in s]
    assert any("PushedFilters: [" in s and "l_quantity" in s.split("PushedFilters", 1)[-1][:400] for s in li_scan), p
    assert "p_brand" in p.split("PushedFilters", 1)[-1] or "In(p_brand" in p


def test_tpch_q5_broadcasts_dimension_chain_and_pushes_dates(spark, registry, sf_dir):
    """Q5 shape: the region→nation→supplier snowflake collapses into
    broadcast joins (no shuffle on any dimension), and the order-date
    range reaches the orders parquet scan."""
    p = plan_of(spark, registry, "x_tpch_q5", sf_dir)
    assert p.count("BroadcastHashJoin") >= 3, p  # region, nation, supplier
    assert "o_orderdate" in p and "PushedFilters" in p
    assert "GreaterThanOrEqual(o_orderdate" in p or "IsNotNull(o_orderdate" in p


def test_bucketed_merge_upsert_eliminates_shuffle(spark, sf_dir):
    """The CDC-apply claim in merge_upsert's docstring, proven: with
    target and source co-bucketed (+ sorted) on the merge key, the
    full-outer MERGE plan contains zero Exchange — the 100 TB upsert
    re-shuffles nothing."""
    from blockchaintoavro_spark.operators.validate import merge_upsert

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    import shutil

    spark.sql("DROP TABLE IF EXISTS m_tgt")
    spark.sql("DROP TABLE IF EXISTS m_src")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("m_tgt", "m_src"):  # stale dirs from aborted runs block saveAsTable
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)

    def write_bucketed(df, table):
        (
            df.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(table)
        )

    write_bucketed(o, "m_tgt")
    from pyspark.sql import functions as F

    src = o.filter("o_orderkey % 3 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    write_bucketed(src, "m_src")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merged = merge_upsert(
            spark.table("m_tgt"), spark.table("m_src"), "o_orderkey"
        )
        jvm = spark.sparkContext._jvm
        p = jvm.PythonSQLUtils.explainString(
            merged._jdf.queryExecution(), "simple"
        )
        assert "SortMergeJoin" in p and "FullOuter" in p
        assert "Exchange" not in p, p  # co-located buckets: shuffle-free MERGE
        # semantics spot-check: every %3 key doubled, others untouched
        row = merged.filter("o_orderkey % 3 = 0").limit(1).collect()[0]
        orig = o.filter(f"o_orderkey = {row['o_orderkey']}").collect()[0]
        assert abs(row["o_totalprice"] - 2 * orig["o_totalprice"]) < 1e-6
        assert merged.count() == o.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS m_tgt")
        spark.sql("DROP TABLE IF EXISTS m_src")


def test_substring_dedup_autoscales_shuffle_partitions(spark):
    """duplicated_substrings derives its gram-shuffle partition count
    from the estimated fingerprint volume (r5 VERDICT #3). Default
    single_shuffle plan: exactly ONE Exchange at the derived count (the
    count_distinct two-level aggregation reuses HashPartitioning(sub)
    by the subset rule — no Catalyst-inserted Exchange). two_shuffle:
    both Exchanges carry the derived count."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import (
        _substring_shuffle_partitions,
        duplicated_substrings,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("x" * 40), F.col("id").cast("string")).alias("text"),
    )
    # ~200 × (42-ish − 19) ≈ 4.6k windows; target 100/partition → ~46,
    # well above the 32-partition session default
    n = _substring_shuffle_partitions(docs, k=20, text_col="text", target_rows=100)
    assert n > int(spark.conf.get("spark.sql.shuffle.partitions"))

    single = (
        duplicated_substrings(docs, k=20, target_rows_per_partition=100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert single.count("Exchange") == 1, single
    assert f", {n})" in single, single  # the one Exchange at the derived count

    two = (
        duplicated_substrings(
            docs, k=20, target_rows_per_partition=100, plan="two_shuffle"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert two.count("Exchange") == 2, two
    assert two.count(f", {n})") >= 2, two

    # floor: tiny volume keeps the session default (no pointless scale-up)
    small = spark.createDataFrame([(1, "abcdefghijklmnopqrstuvwxyz")], "doc_id long, text string")
    assert _substring_shuffle_partitions(small, k=20, text_col="text") == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_substring_dedup_plans_agree(spark):
    """single_shuffle and two_shuffle are the same operator: identical
    (sub, n_docs) output on a corpus with cross-doc AND within-doc
    repetition (within-doc repeats must still count as one vote)."""
    from blockchaintoavro_spark.operators.dedup import duplicated_substrings

    rows = [
        (1, "the quick brown fox jumps over the lazy dog AAAA"),
        (2, "the quick brown fox jumps over the lazy dog BBBB"),
        (3, "unrelated text body with nothing shared here at all"),
        # within-doc repetition of a cross-doc gram: one vote
        (4, "the quick brown fox jumps over the quick brown fox jumps over"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        (r["sub"], r["n_docs"])
        for r in duplicated_substrings(docs, k=20).collect()
    }
    b = {
        (r["sub"], r["n_docs"])
        for r in duplicated_substrings(docs, k=20, plan="two_shuffle").collect()
    }
    assert a == b
    assert a  # non-degenerate: the shared span really is detected


def test_strip_dup_spans_single_doc_exchange(spark, sf_dir):
    """The CATALYST interval-merge plan's docstring claims, proven: the
    merge runs on ONE doc-keyed Exchange (island cumsum, island agg and
    per-doc span collection all reuse the window's partitioning by the
    subset rule), one Sort (the window's), the duplicated-gram set
    broadcasts into the positions join, and nothing degenerates to a
    cartesian product. Pinned to plan='catalyst' since r9 — verbatim
    batch input now DEFAULTS to sorted_confirm (its plan shape is
    covered by test_strip_auto_plan_dispatch + the twin tests)."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 80)
    )
    p = (
        strip_duplicated_spans(d, k=20, plan="catalyst")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange hashpartitioning(doc_id") == 1, p
    assert p.count("Sort ") == 1, p
    assert "CartesianProduct" not in p


def test_tpch_q10_pushes_flag_and_dates(spark, registry, sf_dir):
    """Q10 shape: the 'R' return-flag reaches the lineitem scan, the
    quarter range reaches the orders scan, and nation broadcasts."""
    p = plan_of(spark, registry, "x_tpch_q10", sf_dir)
    assert "EqualTo(l_returnflag,R)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "BroadcastHashJoin" in p


def test_tpch_q14_prunes_and_broadcasts_part(spark, registry, sf_dir):
    """Q14 shape: part broadcasts with only (p_partkey, p_type) read;
    the date range reaches the orders scan."""
    p = plan_of(spark, registry, "x_tpch_q14", sf_dir)
    assert "BroadcastHashJoin" in p
    read = [l for l in p.splitlines() if "ReadSchema" in l and "p_type" in l]
    assert read and all("p_retailprice" not in l for l in read)
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """§4 evidence: with the fact table laid out hive-partitioned by
    month (the 100 TB convention for the reference's time-rotated data),
    a join against a dimension filtered on a NON-join attribute prunes
    fact partitions at RUNTIME via dynamic partition pruning — the scan
    carries a dynamicpruning subquery instead of reading every month."""
    from pyspark.sql import functions as F

    dst = str(tmp_path / "orders_by_month")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("o_month")
        .parquet(dst)
    )
    fact = spark.read.parquet(dst)
    months = sorted(
        r["o_month"] for r in fact.select("o_month").distinct().collect()
    )
    assert len(months) > 3  # layout really is multi-partition
    dim = spark.createDataFrame(
        [(m, i) for i, m in enumerate(months)], "m string, idx int"
    ).filter(F.col("idx") < 2)  # selective filter on a NON-join column
    joined = fact.join(dim, fact["o_month"] == dim["m"]).agg(
        F.count("*").alias("n")
    )
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "formatted")
    assert "dynamicpruning" in p.lower(), p
    # and the pruning is real: the job reads only the 2 selected months
    n = joined.first()["n"]
    want = fact.filter(F.col("o_month").isin(months[:2])).count()
    assert n == want


def test_tpch_q4_decorrelates_to_semi_join(spark, registry, sf_dir):
    """The correlated EXISTS with a cross-relation inequality must
    decorrelate into a LeftSemi join (inequality riding the join), never
    per-row subqueries or a nested loop without the equi key."""
    p = plan_of(spark, registry, "x_tpch_q4", sf_dir, mode="simple")
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p


def test_substring_sizing_cache_tracks_data_growth(spark, tmp_path):
    """r6 ADVICE regression: the memoized sizing estimate must not go
    stale when the SAME source path's data grows within a session —
    semanticHash(plan) is identical for both reads, so the cache key
    also folds in the input file listing + (size, mtime)."""
    import time

    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import (
        _substring_shuffle_partitions,
    )

    path = str(tmp_path / "docs")
    base = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("y" * 40), F.col("id").cast("string")).alias("text"),
    )
    base.write.mode("overwrite").parquet(path)
    first = _substring_shuffle_partitions(
        spark.read.parquet(path), k=20, text_col="text", target_rows=10
    )

    # 40× more data lands at the same path (new files: the append case)
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("y" * 40), F.col("id").cast("string")).alias("text"),
    ).write.mode("append").parquet(path)
    time.sleep(0.01)
    second = _substring_shuffle_partitions(
        spark.read.parquet(path), k=20, text_col="text", target_rows=10
    )
    assert second > first, (first, second)


def test_sorted_gram_detection_single_small_exchange(spark):
    """The sorted-gram plan's ONLY Exchange carries packed per-bucket
    blobs (a few thousand rows), never a row per character position:
    physical plan = scan → mapInPandas (pack) → one Exchange on bucket
    → FlatMapGroupsInPandas (merge). No Sort, no HashAggregate over
    exploded rows, no Generate/explode at all."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import duplicated_substrings

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("x" * 40), F.col("id").cast("string")).alias("text"),
    )
    plan = (
        duplicated_substrings(docs, k=20, hash_only=True, plan="sorted_gram")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Generate" not in plan, plan  # no explode anywhere
    assert "FlatMapGroupsInPandas" in plan, plan


def test_sorted_gram_strip_broadcast_path_zero_shuffle_strip_stage(spark):
    """When the dictionary fits the broadcast gate, the STRIP half is a
    single doc-local map pass: scan → mapInPandas. No Exchange, no
    Window, no Join in the returned plan (detection ran eagerly as its
    own bounded job at construction)."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import strip_duplicated_spans

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("shared verbatim span payload "),
            (F.col("id") % 5).cast("string"),
            F.lit(" trailing "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    plan = (
        strip_duplicated_spans(docs, k=20, hash_only=True, plan="sorted_gram")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Window" not in plan and "Join" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_catalyst_strip_broadcast_dups_skips_gram_exchange(spark):
    """strip_spans_against(broadcast_dups=True) — the standing-small-
    dictionary path (r6 VERDICT #3): the positions side feeds a
    BroadcastHashJoin directly, so the plan loses the gram Exchange and
    keeps only the doc-keyed window Exchange."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import strip_spans_against

    # both sides must carry LARGE plan-time size estimates, else
    # Catalyst auto-broadcasts one of them and both shapes coincide —
    # the explicit flag is the caller's "I know my standing dictionary
    # is ACTUALLY small despite its stats" assertion. Nothing executes:
    # only the physical plan is built.
    docs = spark.range(50_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("y" * 30), F.col("id").cast("string")).alias("text"),
    )
    dups = spark.range(2_000_000_000).select(F.xxhash64("id").alias("sub"))
    bcast = (
        strip_spans_against(docs, dups, k=20, hash_only=True, broadcast_dups=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    plain = (
        strip_spans_against(docs, dups, k=20, hash_only=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in bcast, bcast
    assert "BroadcastHashJoin" not in plain, plain
    # the positions side rides no gram Exchange in the broadcast plan
    assert bcast.count("Exchange hashpartitioning") < plain.count(
        "Exchange hashpartitioning"
    ), (bcast, plain)


def test_tpch_q7_double_nation_broadcast(spark, registry, sf_dir):
    """Q7 shape: the nation dimension joins twice under different roles
    (supplier side + customer side) and BOTH broadcast along with
    supplier — the only shuffles are the lineitem⋈orders⋈customer fact
    joins; the shipdate range reaches the lineitem scan."""
    p = plan_of(spark, registry, "x_tpch_q7", sf_dir)
    assert p.count("BroadcastHashJoin") >= 3, p  # supplier + nation x2
    assert "l_shipdate" in p and "PushedFilters" in p
    assert "GreaterThanOrEqual(l_shipdate" in p, p


def test_tpch_q8_all_dims_broadcast_and_type_pushdown(spark, registry, sf_dir):
    """Q8 shape: part (pre-filtered to its type), supplier, both nation
    roles and region all broadcast; the p_type equality is pushed to
    the part scan so the broadcast build is already semi-reduced."""
    p = plan_of(spark, registry, "x_tpch_q8", sf_dir)
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "EqualTo(p_type,MEDIUM)" in p, p


def test_tpch_q22_anti_join_and_inplan_scalar(spark, registry, sf_dir):
    """Q22 shape: the NOT EXISTS decorrelates to a LeftAnti against the
    date-pruned orders scan, and the above-average-balance scalar rides
    the plan as a broadcast one-row aggregate — no per-row subquery, no
    driver round-trip, no cartesian."""
    p = plan_of(spark, registry, "x_tpch_q22", sf_dir)
    assert "LeftAnti" in p, p
    assert "GreaterThanOrEqual(o_orderdate" in p, p
    assert "CartesianProduct" not in p


def test_tpch_q13_join_condition_preserves_outer_rows(spark, registry, sf_dir):
    """Q13 shape: the priority predicate must ride the LEFT join's
    CONDITION (outer rows with zero matches survive), and the histogram
    agg's key space is bounded — no cartesian, no inner-degraded join."""
    p = plan_of(spark, registry, "x_tpch_q13", sf_dir)
    assert "LeftOuter" in p, p
    # the filter must NOT have been pushed below the join's outer side
    assert "CartesianProduct" not in p


def test_tpch_q15_scalar_max_is_broadcast(spark, registry, sf_dir):
    """Q15 shape: the global max over the revenue view rides the plan
    as a broadcast one-row aggregate (scalar-subquery pattern) — no
    driver round-trip, no cartesian blow-up; the date range reaches the
    lineitem scan."""
    p = plan_of(spark, registry, "x_tpch_q15", sf_dir)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "GreaterThanOrEqual(l_shipdate" in p, p
    assert "CartesianProduct" not in p


def test_tpch_q17_decorrelated_avg_and_brand_broadcast(spark, registry, sf_dir):
    """Q17 shape: the correlated per-part scalar AVG decorrelates into
    ONE partial aggregate over lineitem joined back on the part key;
    the brand-filtered part dimension broadcasts and its IN-set reaches
    the part scan. No per-row subquery, no cartesian."""
    p = plan_of(spark, registry, "x_tpch_q17", sf_dir)
    assert "BroadcastHashJoin" in p, p
    assert "In(p_brand" in p, p
    assert "CartesianProduct" not in p
    # the stats aggregate exists exactly once (partial+final pair over
    # one Exchange), not once per probe row
    assert "partial_count" in p or "count(1)" in p, p


def test_tpch_q21_exists_pair_decorrelates_to_semi_plus_anti(spark, registry, sf_dir):
    """Q21 shape: the EXISTS/NOT EXISTS self-join pair decorrelates to
    one LeftSemi and one LeftAnti on the order key (supplier inequality
    riding the join condition), supplier⋈nation broadcasts, and the
    finalized-status filter reaches the orders scan."""
    p = plan_of(spark, registry, "x_tpch_q21", sf_dir)
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "EqualTo(o_orderstatus,F)" in p, p
    assert "CartesianProduct" not in p


def test_tpch_q2_min_join_decorrelation_and_pushdown(spark, registry, sf_dir):
    """Q2 shape: the correlated per-part MIN decorrelates into a
    re-aggregate of the already-aggregated offer table (never a second
    fact scan); region→nation→supplier and part broadcast; the p_size
    range reaches the part scan."""
    p = plan_of(spark, registry, "x_tpch_q2", sf_dir)
    assert p.count("BroadcastHashJoin") >= 3, p  # eligible x2 + part
    assert "LessThan(p_size,10)" in p, p
    assert "CartesianProduct" not in p


def test_tpch_q11_global_scalar_is_broadcast_one_row(spark, registry, sf_dir):
    """Q11 shape: the total-value scalar attaches as a broadcast
    one-row nested-loop join — no cartesian blow-up, no driver
    round-trip — and BOTH branches scan only the three needed lineitem
    columns (the scalar branch re-plans the pruned scan; nested
    broadcast defeats exchange reuse here, documented in the query)."""
    p = plan_of(spark, registry, "x_tpch_q11", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p
    pf = plan_of(spark, registry, "x_tpch_q11", sf_dir)
    assert (
        pf.count(
            "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,"
            "l_extendedprice:double>"
        )
        == pf.count("lineitem.parquet")
    ), pf


def test_tpch_q16_not_in_plans_as_broadcast_anti(spark, registry, sf_dir):
    """Q16 shape: the NOT IN over the non-null supplier PK plans as a
    broadcast LeftAnti; both dimension filters prune before the
    distinct-count Exchange."""
    p = plan_of(spark, registry, "x_tpch_q16", sf_dir)
    assert "LeftAnti" in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p


def test_tpch_q20_nested_decorrelation_single_fact_restrict(
    spark, registry, sf_dir
):
    """Q20 shape: the doubly nested subquery resolves to ONE broadcast
    part restriction feeding BOTH aggregates (partial reuse — the
    correlated scalar never re-scans lineitem unrestricted) and a final
    LeftSemi into supplier; the LIKE prefix reaches the part scan."""
    p = plan_of(spark, registry, "x_tpch_q20", sf_dir)
    assert "LeftSemi" in p, p
    assert "StringStartsWith(p_name,small)" in p, p
    assert "CartesianProduct" not in p


def test_curation_pipeline_is_single_pass(spark, registry, sf_dir):
    """The composed collapse→classify→DSIR-rank chain must stay ONE
    zero-shuffle whole-stage pass feeding a TakeOrderedAndProject —
    keep_cols threading means no join, no hash Exchange anywhere; the
    only post-limit work is sorting the 100 winners."""
    p = plan_of(spark, registry, "x_curation_pipeline", sf_dir)
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange hashpartitioning" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_bigram_logprob_probes_broadcast(spark, registry, sf_dir):
    """Stupid-Backoff scoring: all three count-table probes (unigram,
    bigram, context) broadcast; the only nested-loop is the deliberate
    one-row corpus-total attach; the per-doc average partial-aggregates
    map-side."""
    p = plan_of(spark, registry, "x_bigram_logprob", sf_dir)
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_avg" in p, p


def test_ivfpq_probe_is_equi_join_on_cid(spark, sf_dir):
    """IVFADC search must probe the code table with a broadcast HASH
    join on cid (posting-list pruning) — never a nested loop over all
    codes (that's plain PQ's deliberate brute-force shape, not IVF's)."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_topk,
        train_ivfpq,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents, books = train_ivfpq(emb, n_centroids=4, m=4, n_codes=4, n_iters=1)
    enc = ivfpq_encode(emb, cents, books)
    out = ivfpq_topk(enc, emb.filter(F.col("vec_id") < 2), cents, books, k=2)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "cid" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p


def test_html_extract_is_pure_projection(spark, registry, sf_dir):
    """Raw-HTML extraction must be a zero-shuffle, zero-Python scan
    projection (before the final presentation sort): the whole
    element-drop → segment → strip → decode → keep-rule chain fuses
    into whole-stage codegen."""
    p = plan_of(spark, registry, "x_html_extract", sf_dir)
    assert "Exchange hashpartitioning" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_video_clip_match_plan_no_nested_loop(spark, registry, sf_dir):
    """Clip-in-clip alignment: per-asset lead windows + ONE equi-join
    on the shingle key + a bounded vote aggregate — no cartesian
    product, no nested loop, and the only window Exchanges are keyed on
    the asset ids."""
    p = plan_of(spark, registry, "x_video_clip_match", sf_dir, mode="simple")
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p, p


def test_tpch_q6_pure_scan_with_pushed_filters(spark, registry, sf_dir):
    """Q6 is a pruning benchmark: no join anywhere, and the date/
    quantity predicates reach the parquet scan as PushedFilters (the
    decimal-cast discount band stays a codegen'd residual — casts
    don't push, which is expected and fine)."""
    p = plan_of(spark, registry, "x_tpch_q6", sf_dir)
    assert "Join" not in p, p
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed


def test_tpch_q9_part_filter_broadcast_semireduces_fact(spark, registry, sf_dir):
    """Q9 shape: the LIKE-restricted part list, supplier and nation all
    broadcast (the fact is never shuffled for a dim), no cartesian
    product, and the p_name LIKE filter is applied at/below the part
    scan — join-order evidence for the classic profit query."""
    s = plan_of(spark, registry, "x_tpch_q9_like", sf_dir, mode="simple")
    assert s.count("BroadcastHashJoin") >= 3, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s
    p = plan_of(spark, registry, "x_tpch_q9_like", sf_dir)
    assert "StartsWith" in p or "Contains" in p or "LIKE" in p or "Like" in p, p


def test_tpch_q12_pushed_filter_and_keyed_join(spark, registry, sf_dir):
    """Q12 shape: the year window reaches the lineitem scan as a pushed
    filter, and the join (equi-key + cross-table date predicate) stays
    a keyed join — the date condition must NOT degrade it to a nested
    loop or cartesian."""
    p = plan_of(spark, registry, "x_tpch_q12", sf_dir)
    assert "PushedFilters" in p and "l_shipdate" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


# ---------------------------------------------------------------------------
# systematic plan-shape pins for EVERY bench query (VERDICT r15 #4):
# bench.py's shuffle telemetry sees a regression after the fact; these
# make a same-CPU/more-Exchange change fail in pytest first. Counts are
# from the static physical plan (AQE's initial plan — deterministic at
# planning time). `shuffles` counts standalone Exchange nodes (hash /
# range / single-partition), NOT BroadcastExchange; `broadcasts` counts
# BroadcastHashJoin. Strict equality on purpose: an intentional plan
# change must update the pin in the same commit that changes the plan.

_BENCH_PLAN_SHAPES = {
    "dq07_flagship_etl": dict(shuffles=2, broadcasts=0, smj=0),
    "dq10_star_join": dict(shuffles=2, broadcasts=4, smj=0),
    "dq15_agg_q1": dict(shuffles=2, broadcasts=0, smj=0),
    "dq30_sessionize": dict(shuffles=2, broadcasts=0, smj=0),
    # brute-force cosine top-k: the TINY query side rides a
    # BroadcastNestedLoopJoin against the corpus — the correct physical
    # shape for k queries × N vectors (the corpus is never shuffled)
    "dq31_cosine_topk": dict(shuffles=3, broadcasts=0, smj=0, bnlj=1),
    "dq32_token_topk": dict(shuffles=1, broadcasts=0, smj=0),
    "x_dedup_clusters": dict(shuffles=1, broadcasts=0, smj=0),
    "x_dup_substrings": dict(shuffles=2, broadcasts=0, smj=0),
    # 3 = id-spread + REBALANCE barrier + presentation range sort; the
    # barrier (plans/_util.psort) materializes the mapInPandas output so
    # the range partitioner's sampling pass reads shuffle files instead
    # of re-running the whole Python codec stage (r16: 2x Python work
    # otherwise — python rows processed 10000 vs 5000 at sf0.1)
    "x_jpeg_decode": dict(shuffles=3, broadcasts=0, smj=0),
    # MERGE joins two comparable-size sides: sort-merge is the right
    # physical choice there, pinned so it neither multiplies nor
    # silently becomes a broadcast of the big side
    "x_merge_upsert": dict(shuffles=3, broadcasts=0, smj=1),
    # r16: +REBALANCE barrier materializing the banded signatures once
    # (the broadcast build side otherwise re-tokenizes the corpus) and
    # the distinct/sort exchanges
    "x_minhash_neardup": dict(shuffles=4, broadcasts=1, smj=0),
    "x_training_prep": dict(shuffles=2, broadcasts=2, smj=0),
}


def test_bench_plan_shape_pins_cover_every_bench_query(registry):
    bench = {n for n, q in registry.items() if q.bench}
    assert bench == set(_BENCH_PLAN_SHAPES), (
        "bench set changed — add/remove its plan-shape pin"
    )


@pytest.mark.parametrize("name", sorted(_BENCH_PLAN_SHAPES))
def test_bench_query_plan_shape(spark, registry, sf_dir, name):
    import re

    want = _BENCH_PLAN_SHAPES[name]
    s = plan_of(spark, registry, name, sf_dir, mode="simple")
    shuffles = len(re.findall(r"\bExchange\b", s))
    assert shuffles == want["shuffles"], (
        f"{name}: {shuffles} Exchange nodes, pinned "
        f"{want['shuffles']}\n{s}"
    )
    assert s.count("BroadcastHashJoin") == want["broadcasts"], (name, s)
    assert s.count("SortMergeJoin") == want["smj"], (name, s)
    assert "CartesianProduct" not in s, (name, s)
    assert s.count("BroadcastNestedLoopJoin") == want.get("bnlj", 0), (
        name, s,
    )


def test_no_python_stage_under_unbarriered_range_sort(registry_walk):
    """r16 guard: ``Exchange rangepartitioning`` directly over an
    Arrow/pandas node re-executes the whole Python stage for the range
    partitioner's sampling pass (every batch decoded twice). Every
    declared query must put a materializing exchange (plans/_util.psort's
    REBALANCE barrier) between a Python stage and its presentation sort."""
    bad = [name for name, (_, hit) in sorted(registry_walk.items()) if hit]
    assert not bad, f"python stage sampled twice by range sort in: {bad}"


def test_dq23_overwrites_a_removed_temp_dir(spark, registry, sf_dir, tmp_path, monkeypatch):
    """dq23 overwrites a per-call temp directory, not a fixed path in the
    checkout: run from another working directory, every path it writes
    lies under the temp root and is gone after the build, the working
    directory stays empty, and the materialized result outlives the
    directory."""
    import os
    import tempfile

    from pyspark.sql.readwriter import DataFrameWriter

    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.chdir(cwd)
    written = []
    parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kwargs):
        written.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    df = registry["dq23_idempotent_overwrite"].spark(spark, sf_dir)
    assert len(written) == 2
    assert all(p.startswith(str(tmp) + os.sep) for p in written), written
    assert not any(os.path.exists(p) for p in written)
    assert os.listdir(tmp) == [] and os.listdir(cwd) == []
    assert df.count() > 0
