"""Exactly-once foreachBatch appliers (r11 VERDICT "Next round" #1).

Structured Streaming's checkpoint gives at-least-once redelivery of a
micro-batch; redelivery is only safe if the batch's EFFECTS are
idempotent as a unit. The r11 appliers had two separately-committed
effects with a dangerous order:

- ``NearDupScrubber`` appended the batch's bands to the index BEFORE
  writing survivors to ``out_path`` — a crash between the two made the
  replayed batch probe an index already containing its own bands, so
  every survivor matched itself and the replay emitted ZERO survivors:
  silent data loss.
- ``IvfIndexMaintainer`` re-appended the same vectors on replay after a
  committed append: duplicate assignment rows.

r12 closes both with manifest batch-id fencing: every applier commit
records ``last_batch_id`` in the manifest ``stats`` (same atomic rename
as the data), each store skips a batch id it has already committed, the
scrubber writes ``out_path`` as a manifest-committed store too (and
FIRST — so a replay that finds out committed but the index not probes
an index still missing the batch, recomputes the identical survivors,
and completes only the missing effect), and the IVF maintainer persists
a ``pending_rebuild`` flag in the SAME commit as the append that
detected drift, so a crash before the rebuild is recovered on the next
invocation instead of the rebuild being lost.

These tests drive every crash window directly (kill injected between
the two commits, after both, and before a flagged rebuild) and assert
no loss, no duplicates, and recovered maintenance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blockchaintoavro_spark.operators import manifest as mf
from blockchaintoavro_spark.operators import neardup_index as ndi
from blockchaintoavro_spark.operators import similarity as sim

TEXTS = {
    1: "the quick brown fox jumps over the lazy dog again today",
    2: "spark shuffles partition data across executors by key hash",
    3: "watermarks bound state for late arriving event time rows",
    4: "the quick brown fox jumps over the lazy dog again today",  # dup of 1
    5: "broadcast joins ship the small side to every executor core",
}

SCHEMA = "doc_id long, text string"


def _mk(spark, ids):
    return spark.createDataFrame([(i, TEXTS[i]) for i in ids], SCHEMA)


def _out_ids(spark, out):
    return sorted(
        r["doc_id"] for r in ndi.read_scrubbed(spark, out).collect()
    )


def _index_ids(spark, idx):
    return sorted(
        r["_nd_id"]
        for r in ndi.read_neardup_bands(spark, idx)
        .select("_nd_id")
        .distinct()
        .collect()
    )


def test_scrubber_replay_after_crash_between_out_and_index(
    spark, tmp_path, monkeypatch
):
    """THE r11 data-loss window: crash lands after one store committed
    but before the other. With out-first ordering + per-store fencing,
    the replay completes only the missing effect — no document lost
    from the output corpus, no band duplicated in the index."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ndi.build_neardup_index(
        spark.createDataFrame([], SCHEMA), idx, kind="minhash"
    )
    applier = ndi.NearDupScrubber(idx, out)
    applier(_mk(spark, [1, 2]), 0)  # clean batch 0
    assert _out_ids(spark, out) == [1, 2]

    # batch 1 crashes between the out commit and the index append
    boom = RuntimeError("killed between out and index")
    monkeypatch.setattr(
        ndi, "_append_bands", lambda *a, **k: (_ for _ in ()).throw(boom)
    )
    with pytest.raises(RuntimeError, match="between out and index"):
        applier(_mk(spark, [3, 4]), 1)
    monkeypatch.undo()
    # out committed batch 1 (doc 4 dropped: near-dup of indexed doc 1);
    # the index does NOT yet carry batch 1's bands
    assert _out_ids(spark, out) == [1, 2, 3]
    assert _index_ids(spark, idx) == [1, 2]
    assert mf.last_committed_batch(spark, out) == 1
    assert mf.last_committed_batch(spark, idx) == 0

    # the checkpoint replays batch 1: the fenced out store is skipped
    # (no duplicate rows), the index append completes
    applier(_mk(spark, [3, 4]), 1)
    assert _out_ids(spark, out) == [1, 2, 3]  # exactly once, no loss
    assert _index_ids(spark, idx) == [1, 2, 3]
    assert mf.last_committed_batch(spark, idx) == 1

    # and the recovered index keeps deduping later batches correctly
    applier(_mk(spark, [5]), 2)
    assert _out_ids(spark, out) == [1, 2, 3, 5]
    assert _index_ids(spark, idx) == [1, 2, 3, 5]


def test_scrubber_replay_before_any_commit_and_after_both(
    spark, tmp_path, monkeypatch
):
    """The two remaining windows: a crash BEFORE the first commit
    leaves nothing visible (plain retry), and a crash AFTER both
    commits (before the streaming checkpoint records the batch) makes
    the replay a complete no-op."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ndi.build_neardup_index(
        spark.createDataFrame([], SCHEMA), idx, kind="minhash"
    )
    applier = ndi.NearDupScrubber(idx, out)

    # crash before ANY commit: fail the out store's manifest commit
    real_append = mf.commit_append
    boom = RuntimeError("killed before first commit")

    def failing_commit(*a, **k):
        raise boom

    monkeypatch.setattr(mf, "commit_append", failing_commit)
    with pytest.raises(RuntimeError, match="before first commit"):
        applier(_mk(spark, [1, 2]), 0)
    monkeypatch.setattr(mf, "commit_append", real_append)
    assert mf.latest_manifest(spark, out) is None  # nothing visible
    applier(_mk(spark, [1, 2]), 0)  # plain replay
    assert _out_ids(spark, out) == [1, 2]
    assert _index_ids(spark, idx) == [1, 2]

    # crash after BOTH commits: replaying the same batch id is a no-op
    out_gen = mf.latest_manifest(spark, out)[0]
    idx_gen = mf.latest_manifest(spark, idx)[0]
    applier(_mk(spark, [1, 2]), 0)
    assert mf.latest_manifest(spark, out)[0] == out_gen  # no new commit
    assert mf.latest_manifest(spark, idx)[0] == idx_gen
    assert _out_ids(spark, out) == [1, 2]
    assert _index_ids(spark, idx) == [1, 2]


def _vec(dom: int, noise: int, dim: int = 8) -> list[float]:
    v = [0.0] * dim
    v[dom] = 10.0
    v[noise] += 0.3
    return v


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ivf_rows(spark, idx):
    return sim.read_ivf_assignments(spark, idx).count()


def test_ivf_maintainer_replay_appends_exactly_once(spark, tmp_path):
    """The r11 duplicate window: replaying a committed append must not
    re-append the same vectors — the fenced batch id makes the replay a
    no-op for the assignments table AND the drift stats."""
    idx = str(tmp_path / "ivf")
    base = _emb(spark, [(i, _vec(i % 2, 2 + i % 3)) for i in range(24)])
    sim.build_ivf_index(base, idx, n_centroids=2, n_iters=2)
    m = sim.IvfIndexMaintainer(idx, rebuild_threshold=1.3,
                               n_centroids=2, n_iters=2)

    batch = _emb(
        spark, [(100 + i, _vec(i % 2, 2 + i % 3)) for i in range(8)]
    )
    m(batch, 0)
    assert _ivf_rows(spark, idx) == 32
    n0, s0 = sim.read_ivf_stats(spark, idx)
    assert n0 == 32

    m(batch, 0)  # checkpoint replay after a committed append
    assert _ivf_rows(spark, idx) == 32  # no duplicate assignment rows
    assert sim.read_ivf_stats(spark, idx) == (n0, s0)  # stats unchanged
    assert mf.last_committed_batch(spark, idx) == 0

    # a genuinely NEW batch id still appends
    batch2 = _emb(
        spark, [(200 + i, _vec(i % 2, 2 + i % 3)) for i in range(4)]
    )
    m(batch2, 1)
    assert _ivf_rows(spark, idx) == 36


def test_ivf_maintainer_crash_before_rebuild_is_recovered(
    spark, tmp_path, monkeypatch
):
    """A drifting batch commits its append WITH a ``pending_rebuild``
    flag in the same manifest rename; a crash before the rebuild
    neither loses the rebuild (the next invocation recovers it) nor
    duplicates the append (the fence skips it on replay)."""
    idx = str(tmp_path / "ivf")
    base = _emb(spark, [(i, _vec(i % 2, 2 + i % 3)) for i in range(24)])
    sim.build_ivf_index(base, idx, n_centroids=4, n_iters=2)
    m = sim.IvfIndexMaintainer(idx, rebuild_threshold=1.3,
                               n_centroids=4, n_iters=2)

    # far-from-every-centroid batch: drift ratio >> threshold
    shifted = _emb(
        spark, [(300 + i, _vec(4 + i % 2, 2 + i % 3)) for i in range(8)]
    )
    boom = RuntimeError("killed before rebuild")
    monkeypatch.setattr(
        sim, "rebuild_ivf_index",
        lambda *a, **k: (_ for _ in ()).throw(boom),
    )
    with pytest.raises(RuntimeError, match="before rebuild"):
        m(shifted, 0)
    monkeypatch.undo()
    # the append committed exactly once, with the flag persisted in the
    # same commit — crash after it loses nothing
    assert _ivf_rows(spark, idx) == 32
    st = mf.latest_manifest(spark, idx)[1]["stats"]
    assert st["pending_rebuild"] is True and st["last_batch_id"] == 0

    # checkpoint replay of batch 0: append fenced (no duplicates), the
    # pending rebuild is recovered first
    m(shifted, 0)
    assert _ivf_rows(spark, idx) == 32
    assert m.rebuilds == 1
    st = mf.latest_manifest(spark, idx)[1]["stats"]
    assert not st.get("pending_rebuild")
    assert st["last_batch_id"] == 0
    assert st["n"] == 32  # rebuild reset the baseline to the full set

    # post-recovery: the retrained quantizer serves queries over ALL
    # vectors, and the next same-distribution batch does not re-trigger
    q = shifted.limit(2)
    res = sim.query_ivf(spark, idx, q, k=2, nprobe=2)
    assert res.count() > 0
    more = _emb(
        spark, [(400 + i, _vec(4 + i % 2, 2 + i % 3)) for i in range(4)]
    )
    m(more, 1)
    assert m.rebuilds == 1  # one shift, one rebuild — fence included
    assert _ivf_rows(spark, idx) == 36


def test_scrub_output_store_reads_and_compacts(spark, tmp_path):
    """``out_path`` is now a manifest store: per-batch segments are
    snapshot-committed, ``read_scrubbed`` unions exactly the committed
    generation, and ``compact_scrub_output`` folds the per-batch
    segments into one without changing content (stats/fence carried
    over by the manifest copy)."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ndi.build_neardup_index(
        spark.createDataFrame([], SCHEMA), idx, kind="minhash"
    )
    applier = ndi.NearDupScrubber(idx, out)
    for bid, ids in enumerate(([1], [2], [3], [5])):
        applier(_mk(spark, ids), bid)
    assert _out_ids(spark, out) == [1, 2, 3, 5]
    gen, man = mf.latest_manifest(spark, out)
    assert len(man["segments"]) == 4

    res = ndi.compact_scrub_output(spark, out, n_files=1)
    assert res["rows"] == 4
    assert _out_ids(spark, out) == [1, 2, 3, 5]
    gen2, man2 = mf.latest_manifest(spark, out)
    assert len(man2["segments"]) == 1
    # the fence survives compaction: a replay of batch 3 is still a no-op
    assert mf.last_committed_batch(spark, out) == 3
    applier(_mk(spark, [5]), 3)
    assert _out_ids(spark, out) == [1, 2, 3, 5]


def test_sorted_stripper_replay_writes_exactly_once(spark, tmp_path):
    """The third foreachBatch applier: SortedDictStripper's out store
    is batch-id-fenced too — a checkpoint replay of a committed batch
    must not duplicate stripped rows (the pre-r12 mode("append") write
    re-appended the whole batch)."""
    from blockchaintoavro_spark.operators.substr_sorted import (
        SortedDictStripper,
        read_stripped,
        write_dup_dictionary,
    )

    base = "z" * 30
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    dict_path = str(tmp_path / "dict")
    write_dup_dictionary(
        mk([(1, base + "a"), (2, base + "b")]), dict_path, k=20
    )
    out = str(tmp_path / "out")
    applier = SortedDictStripper(dict_path, out, k=20)

    batch = mk([(9, base + "c"), (10, "totally clean text here")])
    applier(batch, 0)
    rows1 = sorted(
        (r["doc_id"], r["n_stripped"])
        for r in read_stripped(spark, out).collect()
    )
    assert [d for d, _ in rows1] == [9, 10]
    assert rows1[0][1] > 0  # the shared prefix was stripped

    applier(batch, 0)  # replay after a committed batch: no-op
    rows2 = sorted(
        (r["doc_id"], r["n_stripped"])
        for r in read_stripped(spark, out).collect()
    )
    assert rows2 == rows1
    assert mf.last_committed_batch(spark, out) == 0

    applier(mk([(11, base + "d")]), 1)  # new id still lands
    assert sorted(
        r["doc_id"] for r in read_stripped(spark, out).collect()
    ) == [9, 10, 11]

    # r13 data skipping: each batch committed its id range, and a
    # pruned read scans only the matching segment
    gen, man = mf.latest_manifest(spark, out)
    ranges = sorted(
        v["doc_id"] for v in man["stats"]["segstats"].values()
    )
    assert ranges == [[9, 10], [11, 11]]
    assert sorted(
        r["doc_id"]
        for r in read_stripped(
            spark, out, prune_col="doc_id", prune_lo=11
        ).collect()
    ) == [11]


def test_stream_restart_after_crash_is_exactly_once(spark, tmp_path, monkeypatch):
    """END-TO-END through a real Structured Streaming checkpoint: the
    scrubber query CRASHES mid-batch-1 (injected between the out
    commit and the index append — the r11 data-loss window), then the
    query is RESTARTED from the same checkpoint. The redelivered batch
    must complete the missing effect only: final output and index are
    exactly the crash-free result — no document lost, none duplicated."""
    import time

    import blockchaintoavro_spark.operators.neardup_index as ndi_mod
    from blockchaintoavro_spark.operators.neardup_index import (
        NearDupScrubber,
        build_neardup_index,
    )

    src = str(tmp_path / "src")
    _mk(spark, [1, 2]).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    _mk(spark, [3, 4]).coalesce(1).write.mode("append").parquet(src)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    build_neardup_index(spark.createDataFrame([], SCHEMA), idx,
                        kind="minhash")

    real_append = ndi_mod._append_bands
    state = {"armed": True}

    def flaky(spark_, path, bands, batch_id=None, query_id=None):
        if state["armed"] and batch_id == 1:
            state["armed"] = False
            raise RuntimeError("injected crash after out commit")
        return real_append(
            spark_, path, bands, batch_id=batch_id, query_id=query_id
        )

    monkeypatch.setattr(ndi_mod, "_append_bands", flaky)

    def run_stream():
        stream = (
            spark.readStream.schema(spark.createDataFrame([], SCHEMA).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                NearDupScrubber(idx, out, fence_key=ckpt)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    with pytest.raises(Exception, match="injected crash"):
        run_stream()
    # crash landed between the two commits of batch 1
    assert _out_ids(spark, out) == [1, 2, 3]  # out committed batch 1
    assert _index_ids(spark, idx) == [1, 2]   # index did not

    run_stream()  # restart from the SAME checkpoint: batch 1 replays
    assert _out_ids(spark, out) == [1, 2, 3]  # exactly once, no loss
    assert _index_ids(spark, idx) == [1, 2, 3]
    assert mf.last_committed_batch(spark, out) == 1
    assert mf.last_committed_batch(spark, idx) == 1


# ---------------------------------------------------------------------------
# per-query-lineage fences (r13, ADVICE r12 #1)


def test_new_lineage_reapplies_batch_zero_not_swallowed(spark, tmp_path):
    """ADVICE r12 #1's loss scenario: a stream restarted on a NEW
    checkpoint restarts batch ids at 0. A global batch-id fence
    silently skips those real batches; the per-lineage fence must
    apply them — and still fence replays WITHIN each lineage."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ndi.build_neardup_index(
        spark.createDataFrame([], SCHEMA), idx, kind="minhash"
    )
    a = ndi.NearDupScrubber(idx, out, fence_key="ckpt-A")
    a(_mk(spark, [1, 2]), 0)
    a(_mk(spark, [3]), 1)
    assert _out_ids(spark, out) == [1, 2, 3]

    # checkpoint deleted / recreated: same store, new lineage, batch 0
    b = ndi.NearDupScrubber(idx, out, fence_key="ckpt-B")
    b(_mk(spark, [5]), 0)  # would be swallowed by a global fence (<= 1)
    assert _out_ids(spark, out) == [1, 2, 3, 5]

    # replays inside EACH lineage stay fenced to no-ops
    b(_mk(spark, [5]), 0)
    a(_mk(spark, [3]), 1)
    assert _out_ids(spark, out) == [1, 2, 3, 5]
    assert _index_ids(spark, idx) == [1, 2, 3, 5]
    # both lineages recorded in the same manifest stats
    m = mf.latest_manifest(spark, out)
    assert m[1]["stats"]["fences"] == {"ckpt-A": 1, "ckpt-B": 0}


def test_pre_r13_global_fence_adopted_by_first_lineage(spark, tmp_path):
    """A store whose manifests predate per-query fences carries only the
    bare ``last_batch_id``. The first lineage to touch it ADOPTS that
    fence (the single-writer assumption the store was built under): a
    same-lineage restart replaying a committed batch stays a no-op
    instead of duplicating rows."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ndi.build_neardup_index(
        spark.createDataFrame([], SCHEMA), idx, kind="minhash"
    )
    legacy = ndi.NearDupScrubber(idx, out)  # no lineage key — pre-r13 shape
    legacy(_mk(spark, [1, 2]), 0)
    assert "fences" not in (mf.latest_manifest(spark, out)[1]["stats"] or {})

    upgraded = ndi.NearDupScrubber(idx, out, fence_key="ckpt-A")
    upgraded(_mk(spark, [1, 2]), 0)  # replay of the committed batch
    assert _out_ids(spark, out) == [1, 2]  # adopted fence: no duplicates
    upgraded(_mk(spark, [3]), 1)
    assert _out_ids(spark, out) == [1, 2, 3]
    assert mf.latest_manifest(spark, out)[1]["stats"]["fences"] == {
        "ckpt-A": 1
    }


def test_ivf_maintainer_fences_per_lineage(spark, tmp_path, sf_dir):
    """The IVF maintainer's append fence is per lineage too: a new
    checkpoint's batch 0 appends instead of being skipped, and each
    lineage's own replay is skipped."""
    from blockchaintoavro_spark.operators.similarity import (
        build_ivf_index,
        read_ivf_assignments,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    build_ivf_index(emb.filter("vec_id < 30"), str(tmp_path / "ivf"),
                    n_centroids=4, n_iters=1)
    path = str(tmp_path / "ivf")

    a = sim.IvfIndexMaintainer(path, fence_key="ckpt-A", n_centroids=4)
    a.maintain(emb.filter("vec_id >= 30 and vec_id < 40"), batch_id=0)
    assert read_ivf_assignments(spark, path).count() == 40

    b = sim.IvfIndexMaintainer(path, fence_key="ckpt-B", n_centroids=4)
    b.maintain(emb.filter("vec_id >= 40 and vec_id < 45"), batch_id=0)
    assert read_ivf_assignments(spark, path).count() == 45  # applied

    assert a.maintain(
        emb.filter("vec_id >= 30 and vec_id < 40"), batch_id=0
    )["skipped"]
    assert b.maintain(
        emb.filter("vec_id >= 40 and vec_id < 45"), batch_id=0
    )["skipped"]
    assert read_ivf_assignments(spark, path).count() == 45


def test_streaming_slot_uses_runtime_query_id(spark, tmp_path):
    """Inside a real foreachBatch slot the fence key is Spark's
    persistent query id (checkpoint metadata — fresh for a new
    checkpoint dir), not the checkpoint-path fallback."""
    from blockchaintoavro_spark.operators.neardup_index import (
        NearDupScrubber,
        build_neardup_index,
    )

    src = str(tmp_path / "src")
    _mk(spark, [1, 2]).coalesce(1).write.parquet(src)
    idx, out, ckpt = (str(tmp_path / d) for d in ("idx", "out", "ckpt"))
    build_neardup_index(spark.createDataFrame([], SCHEMA), idx,
                        kind="minhash")
    stream = spark.readStream.schema(
        spark.createDataFrame([], SCHEMA).schema
    ).parquet(src)
    applier = NearDupScrubber(idx, out, fence_key=ckpt)
    q = (
        stream.writeStream.foreachBatch(applier)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert applier.last_query_id == str(q.id)  # runtime id, not ckpt path
    fences = mf.latest_manifest(spark, out)[1]["stats"]["fences"]
    assert fences == {str(q.id): 0}


def test_scrubber_out_store_records_id_ranges_and_prunes(spark, tmp_path):
    """r13 data skipping: each micro-batch's survivors segment commits
    its doc_id [min,max] in the same manifest rename as the data, and a
    range read prunes non-matching segments from the scan while
    returning identical rows; compaction GCs the stale ranges."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ndi.build_neardup_index(
        spark.createDataFrame([], SCHEMA), idx, kind="minhash"
    )
    applier = ndi.NearDupScrubber(idx, out)
    applier(_mk(spark, [1, 2]), 0)
    applier(_mk(spark, [3]), 1)
    applier(_mk(spark, [5]), 2)
    gen, man = mf.latest_manifest(spark, out)
    ss = man["stats"]["segstats"]
    assert sorted(v["doc_id"] for v in ss.values()) == [[1, 2], [3, 3], [5, 5]]
    pruned = ndi.read_scrubbed(
        spark, out, prune_col="doc_id", prune_lo=3, prune_hi=4
    )
    assert sorted(r["doc_id"] for r in pruned.collect()) == [3]
    # pruning dropped the other two segments from the PLAN, not by filter
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    matching = [s for s, v in ss.items() if v["doc_id"] == [3, 3]]
    others = [s for s, v in ss.items() if v["doc_id"] != [3, 3]]
    assert matching[0] in p and all(s not in p for s in others)
    # the fence survives alongside the ranges, and compaction GCs them
    assert mf.last_committed_batch(spark, out, applier.last_query_id) == 2
    ndi.compact_scrub_output(spark, out)
    gen2, man2 = mf.latest_manifest(spark, out)
    assert not (man2["stats"].get("segstats") or {})
    assert _out_ids(spark, out) == [1, 2, 3, 5]
