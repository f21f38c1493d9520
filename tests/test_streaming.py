"""Streaming-vs-batch equivalence (SURVEY §5.2): replay fixture data
through Structured Streaming and assert the results equal the batch
declared queries over the same data — the contract that makes ST1-ST6
trustworthy without a live source."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from blockchaintoavro_spark.operators.rotation import read_rotated, with_window_id
from blockchaintoavro_spark.operators.sessionize import sessionize
from blockchaintoavro_spark.sources.tables import load_blocks, load_events
from blockchaintoavro_spark.streaming.pipeline import start_rotating_sink
from blockchaintoavro_spark.streaming.windows import (
    streaming_session_agg,
    streaming_tumbling_agg,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="btc_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(query):
    query.awaitTermination(120)


def test_rotating_sink_stream_equals_batch(spark, tmpdir):
    """ST1/ST6: file-drop source → foreachBatch rotated append must land
    exactly the batch per-window counts (DQ-24), idempotently."""
    b = load_blocks(spark).select("ingest_id", "block_id", "timestamp")
    src = f"{tmpdir}/src"
    out = f"{tmpdir}/out"
    ckpt = f"{tmpdir}/ckpt"
    b.repartition(4).write.parquet(src)  # several files → several batches

    stream = (
        spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = start_rotating_sink(
        stream, out, ckpt, rotation_seconds=600, processing_trigger=None
    )
    _drain(q)

    got = (
        read_rotated(spark, out)
        .groupBy("window_id")
        .agg(F.count("*").alias("n"))
    )
    want = (
        with_window_id(b, rotation_seconds=600)
        .groupBy("window_id")
        .agg(F.count("*").alias("n"))
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0

    # restart with same checkpoint: no new data → no duplicates
    stream2 = (
        spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q2 = start_rotating_sink(
        stream2, out, ckpt, rotation_seconds=600, processing_trigger=None
    )
    _drain(q2)
    got2 = read_rotated(spark, out).count()
    assert got2 == b.count()


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmpdir):
    ev = load_events(spark, sf_dir)
    src = f"{tmpdir}/events"
    ev.write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = streaming_tumbling_agg(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.table("tumbling_out").select("w", "event_type", "n")

    want = ev.groupBy(
        F.date_trunc("hour", "ts").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    # align types: window().start is TIMESTAMP; batch date_trunc on NTZ
    got = got.withColumn("w", F.col("w").cast("timestamp_ntz"))
    want = want.withColumn("w", F.col("w").cast("timestamp_ntz"))
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_progress_monitor_and_drain(spark, tmpdir):
    """ST7/ST8: listener records per-batch progress; drain_and_stop ends a
    continuous-trigger query cleanly after all input is consumed."""
    from blockchaintoavro_spark.streaming.monitor import (
        ProgressMonitor,
        drain_and_stop,
    )

    mon = ProgressMonitor()
    spark.streams.addListener(mon)
    try:
        b = load_blocks(spark).select("ingest_id", "block_id", "timestamp")
        src = f"{tmpdir}/src"
        b.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema(b.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("mon_out")
            .trigger(processingTime="1 second")
            .start()
        )
        # generous: under a co-running heavy job (round-close sweeps)
        # the 1 s trigger can starve well past a tight deadline
        deadline = 240
        import time

        while spark.table("mon_out").count() < b.count() and deadline > 0:
            time.sleep(0.5)
            deadline -= 0.5
        drain_and_stop(q)
        assert not q.isActive
        assert spark.table("mon_out").count() == b.count()
        # progress events ride Spark's ASYNC listener bus: on a loaded
        # host the last batches' events can land after the query stops,
        # so wait for delivery instead of racing it (seen once in a
        # round-close run: 667 of 2000 rows counted at stop, all 2000
        # a moment later; the sink assertions above are the sync truth)
        waited = 0.0
        while (
            sum(p["num_input_rows"] for p in mon.progress) < b.count()
            and waited < 60
        ):
            time.sleep(0.5)
            waited += 0.5
        assert sum(p["num_input_rows"] for p in mon.progress) == b.count()
    finally:
        spark.streams.removeListener(mon)


def test_streaming_dedup_watermark(spark, tmpdir):
    """ST5/ST6: duplicated ingest through withWatermark+dropDuplicates
    emits each block_id exactly once (the streaming twin of dq06)."""
    from blockchaintoavro_spark.streaming.stateful import streaming_dedup

    b = (
        load_blocks(spark)
        .select(
            "block_id",
            F.timestamp_millis(F.col("timestamp")).alias("ts"),
        )
        .limit(500)
    )
    src = f"{tmpdir}/src"
    doubled = b.union(b)  # every key at least twice
    doubled.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(doubled.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # watermark must cover the fixture's full event-time span: files replay
    # out of event-time order, and a short delay would (correctly, per
    # late-data semantics) drop old-timestamp rows arriving in later batches
    q = (
        streaming_dedup(stream, ["block_id"], "ts", "3650 days")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.table("dedup_out")
    assert got.count() == b.select("block_id").distinct().count()
    assert got.groupBy("block_id").count().filter("count > 1").count() == 0


def test_stateful_running_totals_equal_batch(spark, sf_dir, tmpdir):
    """Custom stateful operator (applyInPandasWithState): the last emitted
    running total per user equals the batch groupBy aggregate."""
    from blockchaintoavro_spark.streaming.stateful import running_user_totals

    ev = load_events(spark, sf_dir).select("user_id", "value")
    src = f"{tmpdir}/events"
    ev.repartition(6).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # counts only grow: the max-n emission per user is the final state
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    got = (
        spark.table("totals_out")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n", F.round("total", 6).alias("total"))
    )
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("total"),
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_streaming_sliding_equals_batch(spark, sf_dir, tmpdir):
    """ST3: sliding-window streaming counts equal the batch window() agg
    over the same replayed data."""
    from blockchaintoavro_spark.streaming.windows import (
        streaming_sliding_counts,
    )

    ev = load_events(spark, sf_dir)
    src = f"{tmpdir}/events"
    ev.write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        streaming_sliding_counts(stream)
        .writeStream.format("memory")
        .queryName("sliding_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.table("sliding_out")
    want = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("w_start"), "n")
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_streaming_sessions_equal_batch_sessionize(spark, sf_dir, tmpdir):
    """session_window (streaming) vs gaps-and-islands (batch): same number
    of sessions and same per-session event counts per user (boundary-tie
    caveat: strict-gap vs half-open window differs only when a gap is
    EXACTLY 30:00.000000 — absent in microsecond-random data)."""
    ev = load_events(spark, sf_dir)
    src = f"{tmpdir}/events"
    ev.write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = streaming_session_agg(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("session_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = (
        spark.table("session_out")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    want = (
        sessionize(ev, "user_id", "ts", 30, tiebreak="event_id")
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_streaming_interval_join_equals_batch(spark, sf_dir, tmpdir):
    """Stream-stream event-time interval join (purchases to errors of the
    same user within the preceding 15 minutes) must equal the identical
    plan run on the static frames."""
    from blockchaintoavro_spark.streaming.joins import streaming_interval_join

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    psrc, isrc = f"{tmpdir}/purchases", f"{tmpdir}/errors"
    purchases.repartition(4).write.parquet(psrc)
    errors.repartition(4).write.parquet(isrc)

    pstream = (
        spark.readStream.schema(spark.read.parquet(psrc).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(psrc)
    )
    istream = (
        spark.readStream.schema(spark.read.parquet(isrc).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(isrc)
    )
    # watermark must cover the replay's event-time disorder: files arrive
    # in arbitrary order spanning the fixture's full month, so a short
    # watermark would evict state between micro-batches and drop matches
    # (correct streaming semantics, but not the parity this test checks)
    q = (
        streaming_interval_join(pstream, istream, watermark="60 days")
        .writeStream.format("memory")
        .queryName("ivj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.table("ivj_out")
    want = streaming_interval_join(purchases, errors, watermark="60 days")
    assert want.count() > 0, "fixture should produce interval matches"
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_streaming_chunking_and_quarantine_equal_batch(spark, sf_dir, tmpdir):
    """The round-5 row-local operators run UNCHANGED on streaming
    DataFrames (stateless narrow plans pass Structured Streaming's
    unsupported-operations check): chunk the stream, quarantine rows
    failing expectations, and both outputs equal their batch twins."""
    from blockchaintoavro_spark.operators.chunking import chunk_chars
    from blockchaintoavro_spark.operators.validate import check_rows, expect
    from blockchaintoavro_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 80")
    src = f"{tmpdir}/docs"
    docs.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    rules = [
        expect("has_text", F.length("text") > 0),
        expect("en_only", F.col("lang") == "en"),
    ]
    q1 = (
        chunk_chars(stream, size=96, stride=64)
        .writeStream.format("memory").queryName("chunks_out")
        .trigger(availableNow=True).start()
    )
    q2 = (
        check_rows(stream, rules)
        .select("doc_id", "failed_rules")
        .writeStream.format("memory").queryName("quarantine_out")
        .trigger(availableNow=True).start()
    )
    _drain(q1)
    _drain(q2)

    got_chunks = spark.table("chunks_out")
    want_chunks = chunk_chars(spark.read.parquet(src), size=96, stride=64)
    assert got_chunks.subtract(want_chunks).count() == 0
    assert want_chunks.subtract(got_chunks).count() == 0

    got_q = spark.table("quarantine_out")
    want_q = check_rows(spark.read.parquet(src), rules).select(
        "doc_id", "failed_rules"
    )
    assert got_q.subtract(want_q).count() == 0
    assert want_q.subtract(got_q).count() == 0
    assert want_q.count() > 0  # the fixture has non-en docs → rules bite


def test_duplicated_substrings_builds_on_streaming_input(spark):
    """The volume-derived partition sizing skips its eager estimate on
    unbounded inputs (no .first() on a streaming frame) — building the
    dedup plan over a stream must not throw."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import duplicated_substrings

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("doc_id"),
            F.concat(F.lit("abcdefghij" * 3), F.col("value").cast("string")).alias("text"),
        )
    )
    out = duplicated_substrings(sdf, k=10)
    assert out.isStreaming


def test_temperature_mixture_approx_builds_on_stream(spark):
    """exact=False is a stateless hash-threshold filter — stream-safe by
    construction once the take fractions are known (computed here from a
    bounded batch profile, the planner-vs-stream split a production
    pipeline would use)."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.quality import temperature_mixture

    profile = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(300)],
        "doc_id long, source string",
    )
    # compute fractions on the batch profile, then apply the SAME
    # stateless predicate shape to a stream
    out = temperature_mixture(profile, target_total=100, tau=0.5, exact=False)
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()


def test_strip_spans_stream_equals_batch(spark, tmpdir):
    """Incremental remediation: a standing duplicated-gram dictionary
    (detected once on the corpus snapshot) scrubs a document STREAM via
    foreachBatch — the accumulated output must equal the batch strip
    against the same dictionary exactly (stripping is per-doc-local
    given the gram set)."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.dedup import (
        duplicated_substrings,
        strip_spans_against,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    dups = duplicated_substrings(docs, k=20).select("sub").localCheckpoint()

    src = f"{tmpdir}/strip_src"
    out = f"{tmpdir}/strip_out"
    ckpt = f"{tmpdir}/strip_ckpt"
    docs.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )

    def apply_batch(batch, batch_id):
        strip_spans_against(batch, dups, k=20).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in strip_spans_against(docs, dups, k=20).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values())  # non-degenerate


def test_sorted_strip_stream_equals_batch_and_refreshes(spark, tmpdir):
    """ST-leg of the sorted strip (substr_sorted.py): a standing
    fingerprint dictionary store scrubs a document stream via
    foreachBatch with a broadcast that refreshes ONLY when the store's
    file set changes. Phase 1: stream out == batch strip against the
    same store, with exactly ONE dictionary load across all
    micro-batches. Phase 2: overwrite the store from a wider snapshot,
    stream new files — the applier must detect the new file set,
    reload once more, and phase-2 output must match a batch strip
    against the NEW store."""
    from blockchaintoavro_spark.operators.dedup import strip_spans_against
    from blockchaintoavro_spark.operators.substr_sorted import (
        SortedDictStripper,
        write_dup_dictionary,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    snap1 = docs.filter(F.col("doc_id") < 100)
    dict_path = f"{tmpdir}/dict_store"
    src = f"{tmpdir}/src"
    out = f"{tmpdir}/out"
    ckpt = f"{tmpdir}/ckpt"
    write_dup_dictionary(snap1, dict_path, k=20)

    snap1.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    applier = SortedDictStripper(dict_path, out, k=20, fence_key=ckpt)
    (
        stream.writeStream.foreachBatch(applier)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )

    from blockchaintoavro_spark.operators.substr_sorted import (
        read_dup_dictionary,
        read_stripped,
    )

    store1 = read_dup_dictionary(spark, dict_path)
    want1 = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in strip_spans_against(snap1, store1, k=20, hash_only=True).collect()
    }
    got1 = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in read_stripped(spark, out).collect()
    }
    assert got1 == want1
    assert any(v[1] > 0 for v in want1.values())
    assert applier.refreshes == 1  # >1 trigger, ONE dictionary load

    # phase 2: wider snapshot -> new dictionary; new docs arrive
    snap2 = docs.filter(F.col("doc_id") < 200)
    write_dup_dictionary(snap2, dict_path, k=20)
    extra = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    extra.repartition(2).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    (
        stream2.writeStream.foreachBatch(applier)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert applier.refreshes == 2  # exactly one reload for the new set
    store2 = read_dup_dictionary(spark, dict_path)
    want2 = {
        r["doc_id"]: (r["clean_text"], r["n_stripped"])
        for r in strip_spans_against(extra, store2, k=20, hash_only=True).collect()
    }
    got_all = {}
    for r in read_stripped(spark, out).collect():
        got_all.setdefault(r["doc_id"], (r["clean_text"], r["n_stripped"]))
    got2 = {k: v for k, v in got_all.items() if k >= 100}
    assert got2 == want2


def test_classifier_stream_equals_batch(spark, tmpdir):
    """The model-based quality filter is a stateless projection, so it
    runs UNCHANGED on a document stream (the ingest-time filtering
    shape: score-and-keep as data lands, no state store) — streamed
    verdicts must equal the batch run row-for-row."""
    from blockchaintoavro_spark.operators.quality import hashed_linear_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = f"{tmpdir}/docs"
    docs.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        hashed_linear_score(stream)
        .writeStream.format("memory")
        .queryName("clf_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = {
        tuple(r) for r in spark.table("clf_stream_out").collect()
    }
    want = {tuple(r) for r in hashed_linear_score(docs).collect()}
    assert got == want and len(got) == 500


def test_neardup_scrub_stream_equals_batch(spark, tmpdir):
    """Streaming leg of the incremental near-dup index
    (operators/neardup_index.py): micro-batches probe the standing
    index, keep only unseen docs, and grow the index with the
    survivors. Two micro-batches through foreachBatch must equal the
    same two batches scrubbed sequentially through the batch API —
    including the cross-micro-batch dedup (a doc duplicating an
    EARLIER micro-batch's survivor is dropped)."""
    import time

    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.neardup_index import (
        NearDupScrubber,
        build_neardup_index,
        read_neardup_bands,
        read_scrubbed,
    )

    schema = "doc_id long, text string"
    texts = {
        1: "the quick brown fox jumps over the lazy dog again today",
        2: "spark shuffles partition data across executors by key hash",
        3: "the quick brown fox jumps over the lazy dog again today",  # dup of 1
        4: "watermarks bound state for late arriving event time rows",
        5: "spark shuffles partition data across executors by key hash",  # dup of 2
        6: "broadcast joins ship the small side to every executor core",
    }
    b1 = [(i, texts[i]) for i in (1, 2, 3)]
    b2 = [(i, texts[i]) for i in (4, 5, 6)]

    # batch reference: sequential scrubs against a fresh empty index
    ref_idx = f"{tmpdir}/ref_idx"
    empty = spark.createDataFrame([], schema)
    build_neardup_index(empty, ref_idx, kind="minhash")
    ref = NearDupScrubber(ref_idx, f"{tmpdir}/ref_out")
    kept = []
    for rows in (b1, b2):
        kept += [
            r["doc_id"]
            for r in ref.scrub(spark.createDataFrame(rows, schema)).collect()
        ]
    # within-b1: doc 3 duplicates doc 1 BUT within-batch pairs are the
    # batch operator's job — the index dedups vs HISTORY, so 3 survives
    # b1; doc 5 duplicates b1's survivor 2 → dropped in b2
    assert sorted(kept) == [1, 2, 3, 4, 6]

    # streaming leg: same two batches as two files → two micro-batches
    src = f"{tmpdir}/nd_src"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    st_idx = f"{tmpdir}/st_idx"
    build_neardup_index(empty, st_idx, kind="minhash")
    out = f"{tmpdir}/st_out"
    stream = (
        spark.readStream.schema(spark.createDataFrame([], schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = f"{tmpdir}/nd_ckpt"
    applier = NearDupScrubber(st_idx, out, fence_key=ckpt)
    (
        stream.writeStream.foreachBatch(applier)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert applier.batches == 2
    # out_path is a manifest-committed store as of r12 (exactly-once)
    got = sorted(r["doc_id"] for r in read_scrubbed(spark, out).collect())
    assert got == sorted(kept)
    # both index stores converge to the same surviving id set
    ids = lambda p: {
        r["_nd_id"]
        for r in read_neardup_bands(spark, p).select("_nd_id").distinct().collect()
    }
    assert ids(st_idx) == ids(ref_idx) == {1, 2, 3, 4, 6}


def test_ivf_maintain_stream_drift_triggers_one_rebuild(spark, tmpdir):
    """r10 VERDICT #3 done-criterion: the streaming IVF maintainer
    appends every micro-batch with the standing centroids and, when a
    mid-stream distribution shift pushes the drift ratio past the
    threshold, triggers EXACTLY ONE rebuild — after which recall on the
    shifted region recovers (vs an append-only twin) and the next
    shifted batch no longer re-triggers. Stream equals the same batches
    applied sequentially through IvfIndexMaintainer.maintain."""
    import time

    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.similarity import (
        IvfIndexMaintainer,
        append_to_ivf_index,
        build_ivf_index,
        query_ivf,
        read_ivf_assignments,
        read_ivf_stats,
    )

    DIM = 40
    schema = "vec_id long, embedding array<double>"

    def vec(c, tilt_dim, tilt, noise_dim):
        v = [0.0] * DIM
        v[c] = 10.0
        if tilt:
            v[tilt_dim] += tilt
        v[noise_dim] += 0.5
        return v

    # initial + b1: four clean clusters on dims 0..3, noise on 8..11
    # (noise dims recur across batches, so held-out same-distribution
    # data measures the same quantization distance as the baseline)
    def old_vec(i):
        return vec(i % 4, 0, 0.0, 8 + (i // 4) % 4)

    # shifted: four NEW clusters on dims 32..35, each with a 0.5 "tilt"
    # toward OLD dim (cluster id) — under the OLD centroids the tilt is
    # the only signal, so shifted cluster c concentrates in old list c;
    # a query for cluster c tilted toward (c+2)%4 (a differently-tilted
    # re-encode) probes a list holding NONE of its true neighbors
    def new_vec(i):
        v = [0.0] * DIM
        v[32 + i % 4] = 10.0
        v[i % 4] += 0.5
        v[16 + (i // 4) % 8] += 0.01
        return v

    def query_vec(i):
        v = [0.0] * DIM
        v[32 + i % 4] = 10.0
        v[(i % 4 + 2) % 4] += 0.5
        v[16 + i % 8] += 0.01
        return v

    # the shift dominates the corpus afterwards (128 shifted vs 24 old)
    # so the post-rebuild quantizer fits the NEW geometry and the next
    # shifted batch measures ordinary — one shift, one rebuild
    initial = [(1000 + i, old_vec(i)) for i in range(16)]
    b1 = [(2000 + i, old_vec(16 + i)) for i in range(8)]     # same dist
    b2 = [(i, new_vec(i)) for i in range(64)]                # the shift
    b3 = [(3000 + i, new_vec(64 + i)) for i in range(64)]    # post-shift
    mkdf = lambda rows: spark.createDataFrame(rows, schema)

    # ---- batch reference: maintain() applied sequentially
    ref_idx = f"{tmpdir}/ivf_ref"
    build_ivf_index(mkdf(initial), ref_idx, n_centroids=4, n_iters=2)
    ref = IvfIndexMaintainer(
        ref_idx, rebuild_threshold=1.3, n_centroids=4, n_iters=2
    )
    flags = [ref.maintain(mkdf(b))["rebuilt"] for b in (b1, b2, b3)]
    assert flags == [False, True, False] and ref.rebuilds == 1

    # ---- append-only twin (no drift loop): quantizer goes stale
    nr_idx = f"{tmpdir}/ivf_norebuild"
    build_ivf_index(mkdf(initial), nr_idx, n_centroids=4, n_iters=2)
    for b in (b1, b2, b3):
        append_to_ivf_index(nr_idx, mkdf(b))

    # ---- streaming leg: the same three batches as three files
    src = f"{tmpdir}/ivf_src"
    for j, b in enumerate((b1, b2, b3)):
        mode = "overwrite" if j == 0 else "append"
        mkdf(b).coalesce(1).write.mode(mode).parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    st_idx = f"{tmpdir}/ivf_st"
    build_ivf_index(mkdf(initial), st_idx, n_centroids=4, n_iters=2)
    stream = (
        spark.readStream.schema(mkdf([]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = f"{tmpdir}/ivf_ckpt"
    applier = IvfIndexMaintainer(
        st_idx, rebuild_threshold=1.3, n_centroids=4, n_iters=2,
        fence_key=ckpt,
    )
    (
        stream.writeStream.foreachBatch(applier)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert applier.batches == 3 and applier.rebuilds == 1
    assert [h["rebuilt"] for h in applier.history] == [False, True, False]

    # stream equals batch: same indexed ids, same running stats
    ids = lambda p: {
        r["vec_id"]
        for r in read_ivf_assignments(spark, p)
        .select(F.col("neighbor_id").alias("vec_id")).collect()
    }
    assert ids(st_idx) == ids(ref_idx) == {r[0] for r in initial + b1 + b2 + b3}
    (n_ref, s_ref), (n_st, s_st) = (
        read_ivf_stats(spark, ref_idx), read_ivf_stats(spark, st_idx),
    )
    assert n_ref == n_st == 152 and abs(s_ref - s_st) < 1e-6

    # recall on the shifted region recovers: nprobe=1 top-3 for shifted
    # queries must be same-cluster members after the rebuild, while in
    # the append-only twin the query's tilt sends it to an old list
    # that contains none of its true (same-new-cluster) neighbors
    queries = mkdf([(9000 + i, query_vec(i)) for i in range(8)])

    def same_cluster_frac(idx_path):
        got = query_ivf(spark, idx_path, queries, k=3, nprobe=1).collect()
        ok = sum(
            1 for r in got
            if (r["neighbor_id"] % 4 if r["neighbor_id"] < 1000
                else (r["neighbor_id"] - 3000) % 4) == r["q_id"] % 4
            and (r["neighbor_id"] < 1000 or r["neighbor_id"] >= 3000)
        )
        return ok / (3 * queries.count())

    rec_maintained = same_cluster_frac(st_idx)
    rec_stale = same_cluster_frac(nr_idx)
    assert rec_maintained >= 0.9, (rec_maintained, rec_stale)
    assert rec_stale <= 0.6 < rec_maintained, (rec_maintained, rec_stale)


def test_session_window_boundary_tie_merges_like_strict_gap(spark):
    """DQ-30 boundary-tie pin (VERDICT r12 "Next round" #6): an event
    landing EXACTLY gap after its predecessor extends the session in
    BOTH shapes — Spark's session_window treats the window end
    inclusively for merging, matching the batch strict-gap rule
    (ties stay in-session). Pinned so an upstream semantics change
    fails loudly instead of silently skewing stream-vs-batch parity."""
    df = spark.createDataFrame(
        [
            ("u", "2024-01-01 00:00:00"),
            ("u", "2024-01-01 00:30:00"),       # exactly gap after
            ("u", "2024-01-01 00:59:59"),
            ("u", "2024-01-01 01:30:00.000001"),  # 1 µs past gap → new
        ],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    native = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .orderBy("w.start")
        .collect()
    )
    assert [r["n"] for r in native] == [3, 1]
    batch = sessionize(df, "user_id", "ts", 30)
    per_session = (
        batch.groupBy("session_id").count().orderBy("session_id").collect()
    )
    assert [r["count"] for r in per_session] == [3, 1]


def test_streaming_session_window_exact_bounds_equal_batch(
    spark, sf_dir, tmpdir
):
    """Native session_window run as a STREAM must reproduce the batch
    gaps-and-islands sessions EXACTLY — (user, start, end, n_events)
    per session, where end = last event + gap — not just per-user
    counts (VERDICT r12 "Next round" #6 full-fidelity leg)."""
    ev = load_events(spark, sf_dir)
    src = f"{tmpdir}/events_sw"
    ev.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = streaming_session_agg(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("session_bounds_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.table("session_bounds_out")
    tsev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    want = (
        sessionize(tsev, "user_id", "ts", 30, tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias(
                "session_end"
            ),
            F.count("*").alias("n_events"),
        )
        .drop("session_id")
    )
    assert got.count() == want.count() and got.count() > 0
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


# ---------------------------------------------------------------------------
# versioned state envelope + last-emission collector (VERDICT r14 #3,
# ADVICE r14 #1)


def test_state_envelope_roundtrip_and_migrations():
    from blockchaintoavro_spark.streaming.stateful import (
        decode_state,
        encode_state,
    )

    env = encode_state(3, [["a", "b"], [2, 1], 7])
    assert env[0] == 3 and isinstance(env[1], bytes)
    assert decode_state(env, 3) == [["a", "b"], [2, 1], 7]
    # chained migrations lift old payloads to the current shape
    migrated = decode_state(
        encode_state(1, [["a"], [1]]),
        3,
        {1: lambda p: p + [0], 2: lambda p: [p[0], p[1], p[2]]},
    )
    assert migrated == [["a"], [1], 0]
    # a missing migration step refuses loudly with the remediation
    with pytest.raises(ValueError, match="no migration registered"):
        decode_state(encode_state(1, [[], []]), 3, {2: lambda p: p})
    # a NEWER-than-code version (downgrade resume) refuses too
    with pytest.raises(ValueError, match="newer than this code"):
        decode_state(encode_state(4, [[], [], 0]), 3)
    # bytearray blobs (some Arrow paths hand those back) decode the same
    v, blob = encode_state(3, [[], [], 0])
    assert decode_state((v, bytearray(blob)), 3) == [[], [], 0]


def test_last_emission_collector_rebuilds_on_foreachbatch_retry(spark):
    """ADVICE r14 #1: a foreachBatch RETRY re-delivers the SAME
    batch_id — the collector must rebuild each touched shard's rows,
    not append them (append-with-reset-on-change kept the failed
    attempt's rows alongside the retry's)."""
    from blockchaintoavro_spark.streaming.stateful import (
        last_emission_collector,
    )

    sink, final_rows = last_emission_collector()
    schema = "shard bigint, item string, mg_lower bigint, shard_rows bigint"
    first = spark.createDataFrame(
        [(0, "a", 1, 5), (0, "b", 2, 5), (1, "c", 3, 4)], schema
    )
    sink(first, 0)
    # the retry of batch 0: same batch_id, shard 0 re-emitted with
    # updated rows, shard 1 untouched this attempt
    retry = spark.createDataFrame([(0, "a", 2, 6)], schema)
    sink(retry, 0)
    rows = final_rows()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(
            (r["item"], r["mg_lower"], r["shard_rows"])
        )
    assert by_shard[0] == [("a", 2, 6)]  # no duplicate 'a', no stale 'b'
    assert by_shard[1] == [("c", 3, 4)]  # untouched shard survives
    # a later batch replaces only the shards it touches
    nxt = spark.createDataFrame([(1, "d", 1, 9)], schema)
    sink(nxt, 1)
    rows = final_rows()
    assert {r["item"] for r in rows} == {"a", "d"}


def test_stale_checkpoint_resume_error_is_loud_and_pinned(spark, tmpdir):
    """VERDICT r14 #3: the exact failure mode a pre-envelope (r14
    3-field) heavy-hitter checkpoint produces when resumed by the
    enveloped operator — Spark's state-store schema check fails the
    restarted query LOUDLY (a StreamingQueryException naming the state
    schema), never silently misreading state. The remediation is a
    fresh checkpoint + source replay (exactly-once fences make the
    replay idempotent downstream)."""
    import os

    import pandas as pd
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from blockchaintoavro_spark.streaming.stateful import (
        streaming_heavy_hitter_candidates,
    )

    src = os.path.join(tmpdir, "src")
    ckpt = os.path.join(tmpdir, "ckpt")
    spark.createDataFrame([("a",), ("b",)], "tok string").write.parquet(src)
    schema = spark.read.parquet(src).schema

    def old_update(key, pdfs, state):
        items, counts, seen = state.get if state.exists else ([], [], 0)
        n = sum(len(p) for p in pdfs)
        state.update((list(items), list(counts), int(seen) + n))
        yield pd.DataFrame(
            {
                "shard": [key[0]],
                "item": ["x"],
                "mg_lower": [0],
                "shard_rows": [int(seen) + n],
            }
        )

    def shard_stream():
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .select(
                F.pmod(F.xxhash64(F.col("tok")), F.lit(4)).alias("shard"),
                F.col("tok").cast("string").alias("tok"),
            )
        )

    old = shard_stream().groupBy("shard").applyInPandasWithState(
        old_update,
        outputStructType=(
            "shard bigint, item string, mg_lower bigint, shard_rows bigint"
        ),
        stateStructType=(  # the r14 plain 3-field shape
            "items array<string>, counts array<bigint>, shard_rows bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        old.writeStream.foreachBatch(lambda df, b: df.collect())
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(120)

    # new data so the resumed query must actually run a batch against
    # the stored state rather than finishing idle
    spark.createDataFrame([("c",)], "tok string").write.mode(
        "append"
    ).parquet(src)
    new = streaming_heavy_hitter_candidates(
        spark.readStream.schema(schema).parquet(src), "tok", k=5, shards=4
    )
    q2 = (
        new.writeStream.foreachBatch(lambda df, b: df.collect())
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises(StreamingQueryException) as ei:
        q2.awaitTermination(120)
    msg = str(ei.value).lower()
    assert "state" in msg and "schema" in msg, msg


def test_totals_pre_envelope_checkpoint_break_is_loud_and_pinned(
    spark, tmpdir
):
    """VERDICT r15 #2: running_user_totals' envelope adoption is its
    one deliberate, final state-schema change — an r15-or-earlier
    checkpoint (raw ``n bigint, total double`` state) resumed by the
    enveloped operator fails LOUDLY with Spark's state-schema error,
    never silently misreading state."""
    import os

    import pandas as pd
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from blockchaintoavro_spark.streaming.stateful import (
        running_user_totals,
    )

    src = os.path.join(tmpdir, "src")
    ckpt = os.path.join(tmpdir, "ckpt")
    spark.createDataFrame(
        [(1, 2.0), (2, 3.0)], "user_id long, value double"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def old_update(key, pdfs, state):  # the r15 raw-schema operator
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})

    old = (
        spark.readStream.schema(schema)
        .parquet(src)
        .groupBy("user_id")
        .applyInPandasWithState(
            old_update,
            outputStructType="user_id bigint, n bigint, total double",
            stateStructType="n bigint, total double",  # r15 raw shape
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        old.writeStream.foreachBatch(lambda df, b: df.collect())
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(120)

    spark.createDataFrame(
        [(1, 5.0)], "user_id long, value double"
    ).write.mode("append").parquet(src)
    new = running_user_totals(
        spark.readStream.schema(schema).parquet(src)
    )
    q2 = (
        new.writeStream.foreachBatch(lambda df, b: df.collect())
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises(StreamingQueryException) as ei:
        q2.awaitTermination(120)
    msg = str(ei.value).lower()
    assert "state" in msg and "schema" in msg, msg
