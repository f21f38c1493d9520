"""Deterministic splitting/sampling (operators/split.py): assignment
must be a pure function of the key (stable under repartitioning),
reproduce bit-for-bit in DuckDB (the declared-query oracle), respect
the weights, co-travel groups, and never shuffle in the pure-map
forms."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blockchaintoavro_spark.operators.split import (
    hash_bucket_hex,
    hash_sample,
    hash_split,
    split_thresholds,
    stratified_sample_exact,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def hash_split_oracle_case(
    key_sql: str, splits: dict[str, float] | None = None, salt: str = ""
) -> str:
    """The DuckDB CASE expression that reproduces :func:`hash_split`
    character-for-character: the reference the bit-match tests hold the
    Spark expression tree to."""
    if splits is None:
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    names = list(splits)
    bounds = split_thresholds([splits[n] for n in names])
    arms = [f"WHEN {key_sql} IS NULL THEN NULL"]
    draw = f"substr(md5(CAST({key_sql} AS VARCHAR) || '{salt}'), 1, 8)"
    for name, t in zip(names[:-1], bounds):
        arms.append(f"WHEN {draw} < '{t}' THEN '{name}'")
    arms.append(f"ELSE '{names[-1]}' END")
    return "CASE " + " ".join(arms)


def test_split_thresholds_math():
    assert split_thresholds([0.8, 0.1, 0.1]) == [
        format(int(0.8 * 16**8), "08x"),
        format(int(0.9 * 16**8), "08x"),
    ]
    with pytest.raises(ValueError):
        split_thresholds([1.0, 0.0])


def test_split_thresholds_clamped_to_draw_space():
    """A degenerate tiny last weight rounds cum to 1.0; the rendered
    threshold must stay an 8-char string ('ffffffff'), never the
    9-char '100000000' that lexicographically collapses the branch."""
    ts = split_thresholds([1.0, 1e-17])
    assert ts == ["ffffffff"]
    for t in split_thresholds([0.5, 0.25, 0.25]) + ts:
        assert len(t) == 8
    # unrepresentable interior weight (< 2**-32 of total, thresholds
    # collide after clamping) is refused loudly, not silently merged
    with pytest.raises(ValueError, match="non-increasing"):
        split_thresholds([0.5, 1e-17, 0.5])


def test_hash_sample_full_fraction_keeps_every_keyed_row(spark):
    """fraction=1.0 must keep ALL keyed rows (the naive 9-hex-char
    threshold '100000000' silently kept ~6% — draws starting '0');
    NULL-key rows are dropped at EVERY fraction per the documented
    sample-vs-split contract."""
    df = spark.createDataFrame(
        [(str(i),) for i in range(256)] + [(None,)], "k string"
    )
    assert hash_sample(df, "k", 1.0).count() == 256
    assert 0 < hash_sample(df, "k", 0.5).count() < 256
    assert not [
        r for r in hash_sample(df, "k", 1.0).collect() if r["k"] is None
    ]
    assert hash_sample(df, "k", 0.0).count() == 0


def test_hash_sample_near_one_routes_on_integer_threshold(spark):
    """ADVICE r14 #2: the keep-all guard now routes on the INTEGER
    threshold (``int(fraction * 16**8) >= 16**8``) instead of a bare
    ``assert len(t) == 8`` that ``python -O`` strips. For 16**8 = 2**32
    the product of any sub-1.0 double is exactly representable (ulp at
    2**32 is 2**-21 > 2**-21·k granularity), so the largest double
    below 1.0 lands at exactly 2**32 - 1 — an 8-char 'ffffffff'
    threshold that keeps every fixture row; any FUTURE input (or
    _HEX_SPACE change) that does round up to 2**32 takes the explicit
    keep-all branch rather than an assert."""
    f = 1 - 2**-53
    assert f < 1.0 and int(f * 16**8) == 16**8 - 1
    df = spark.createDataFrame(
        [(str(i),) for i in range(256)] + [(None,)], "k string"
    )
    # threshold 'ffffffff': every md5 draw in the fixture sorts below it
    assert hash_sample(df, "k", f).count() == 256
    # and the integer routing takes keep-all at >= 2**32 regardless of
    # the float input's rendering
    assert hash_sample(df, "k", 1.0).count() == 256


def test_hash_split_stable_under_repartition(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id").select("doc_id", "split").collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(17), "doc_id")
        .select("doc_id", "split")
        .collect()
    }
    assert a == b
    # weights are roughly respected (md5 uniformity; corpus is small so
    # the tolerance is loose — the EXACT contract is the oracle parity)
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert 0.7 < c["train"] / n < 0.9
    assert c["train"] + c["val"] + c["test"] == n


def test_hash_split_matches_duckdb_oracle_bit_for_bit(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    got = sorted(
        (r["doc_id"], r["split"])
        for r in hash_split(docs, "doc_id", salt="r13")
        .select("doc_id", "split")
        .collect()
    )
    case = hash_split_oracle_case("doc_id", salt="r13")
    con = duckdb.connect()
    want = sorted(
        con.execute(
            f"SELECT doc_id, {case} AS split FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    assert got == want


def test_hash_split_null_key_gets_null_split(spark):
    df = spark.createDataFrame([("a",), (None,)], "k string")
    rows = {r["k"]: r["split"] for r in hash_split(df, "k").collect()}
    assert rows[None] is None and rows["a"] in ("train", "val", "test")


def test_hash_split_fresh_salt_redeals(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", salt="s1").collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", salt="s2").collect()
    }
    assert a != b  # different deal...
    assert set(a) == set(b)  # ...same universe


def test_group_split_cotravel_and_no_shuffle(spark, sf_dir):
    """Keying the split on a GROUP id puts every member in one split —
    and the plan is a pure projection (no Exchange anywhere)."""
    docs = _docs(spark, sf_dir).withColumn(
        "grp", F.col("doc_id") % 50
    )
    out = hash_split(docs, "grp")
    per_group = (
        out.groupBy("grp")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r["n_splits"] == 1 for r in per_group)
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        hash_split(_docs(spark, sf_dir), "doc_id")._jdf.queryExecution(),
        "formatted",
    )
    assert "Exchange" not in p


def test_hash_sample_coherent_across_tables(spark, sf_dir):
    """Sampling two tables on the SAME key keeps them coherent: the
    sampled events' users are exactly the sampled users."""
    docs = _docs(spark, sf_dir).select("doc_id")
    # a second "table" keyed by the same id (exploded doc lines)
    lines = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    sd = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.3).collect()}
    sl = {r["doc_id"] for r in hash_sample(lines, "doc_id", 0.3).collect()}
    assert sl == sd  # identical key set: the tables stay joinable
    # and the draw really is ~30% (500 keys)
    assert 0.2 < len(sd) / docs.count() < 0.4


def test_hash_sample_is_pure_filter(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    jvm = spark.sparkContext._jvm
    p = jvm.PythonSQLUtils.explainString(
        hash_sample(docs, "doc_id", 0.1)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in p and "Filter" in p


def test_stratified_sample_exact_counts_and_determinism(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = stratified_sample_exact(docs, "lang", 5, "doc_id")
    sizes = {r["lang"]: r["n"] for r in
             out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(5, full[lang])
    again = stratified_sample_exact(docs.repartition(13), "lang", 5, "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_registry_rejects_duplicate_query_names():
    """A duplicate declared-query name must fail at import, not
    silently replace the earlier query in the driver surface."""
    import pytest as _pytest

    from blockchaintoavro_spark.plans.registry import declare, load_all

    REGISTRY = load_all()
    name = next(iter(REGISTRY))
    with _pytest.raises(ValueError, match="registered twice"):

        @declare(name)
        def shadow(spark, sf):  # pragma: no cover
            raise AssertionError

    # re-registering the SAME function (module reload) stays legal
    q = REGISTRY[name]
    declare(name, oracle=q.oracle)(q.spark)


def test_hash_split_and_sample_work_on_streams(spark, sf_dir, tmp_path):
    """The split/sample projections are watermark-free row-local
    expressions, so they compose with Structured Streaming unchanged —
    the streamed assignment equals the batch assignment row for row."""
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        hash_sample(hash_split(stream, "doc_id", salt="st"), "doc_id", 0.5)
        .select("doc_id", "split")
        .writeStream.format("memory")
        .queryName("split_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["split"]
        for r in spark.table("split_stream_out").collect()
    }
    want = {
        r["doc_id"]: r["split"]
        for r in hash_sample(
            hash_split(docs, "doc_id", salt="st"), "doc_id", 0.5
        )
        .select("doc_id", "split")
        .collect()
    }
    assert got == want and len(got) > 0


def test_hash_split_weight_change_moves_minimal_keys(spark, sf_dir):
    """Threshold splits have the consistent-hashing property: nudging a
    weight moves ONLY the keys in the boundary band — a re-split from
    80/10/10 to 75/15/10 may move train->val rows but never reshuffles
    val->train, test->anything, or train->test."""
    docs = _docs(spark, sf_dir)
    a = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            docs, "doc_id", {"train": 0.80, "val": 0.10, "test": 0.10}
        ).collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            docs, "doc_id", {"train": 0.75, "val": 0.15, "test": 0.10}
        ).collect()
    }
    moved = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    assert moved  # the band is non-empty at 500 docs w.h.p.
    assert set(moved.values()) == {("train", "val")}


# --- Hypothesis fuzz: engine/oracle bit-for-bit beyond the fixtures ---

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

_keys = st.lists(
    st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="'\\\x00"
            ),
            min_size=0,
            max_size=24,
        ),
    ),
    min_size=1,
    max_size=40,
    unique=True,
)
_weights = st.lists(
    st.floats(min_value=1e-3, max_value=10.0, allow_nan=False),
    min_size=2,
    max_size=5,
)
_salts = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789_-", max_size=8
)


def _py_split(key, names, bounds, salt):
    """hashlib reference for hash_split: the contract both engines must
    render — md5 over UTF-8 of str(key)+salt, first 8 hex chars,
    lexicographic compare against the 8-hex-char thresholds."""
    d = hashlib.md5((str(key) + salt).encode("utf-8")).hexdigest()[:8]
    for name, t in zip(names[:-1], bounds):
        if d < t:
            return name
    return names[-1]


@given(keys=_keys, weights=_weights, salt=_salts)
@settings(max_examples=60, deadline=None)
def test_fuzz_oracle_case_matches_hashlib_reference(keys, weights, salt):
    """The DuckDB oracle CASE reproduces the hashlib contract on random
    unicode/negative-int keys × random weights × salts — pins the
    rendering half (CAST→VARCHAR, md5 UTF-8, substr, lexicographic
    thresholds) cheaply at many examples."""
    names = [f"s{i}" for i in range(len(weights))]
    bounds = split_thresholds(weights)
    case = hash_split_oracle_case(
        "k", dict(zip(names, weights)), salt=salt
    )
    con = duckdb.connect()
    got = dict(
        con.execute(
            f"SELECT k, {case} AS split FROM "
            "(SELECT unnest(?) AS k)",
            [[str(k) for k in keys]],
        ).fetchall()
    )
    want = {str(k): _py_split(k, names, bounds, salt) for k in keys}
    assert got == want


@given(keys=_keys, weights=_weights, salt=_salts)
@settings(max_examples=10, deadline=None)
def test_fuzz_spark_split_matches_hashlib_reference(
    spark, keys, weights, salt
):
    """The Spark expression tree reproduces the same hashlib contract —
    together with the DuckDB property above this closes the triangle
    Spark == hashlib == DuckDB over the fuzzed input space (int keys
    ride through the cast-to-string path exactly as the oracle's
    CAST AS VARCHAR)."""
    names = [f"s{i}" for i in range(len(weights))]
    bounds = split_thresholds(weights)
    df = spark.createDataFrame([(str(k),) for k in keys], "k string")
    got = {
        r["k"]: r["split"]
        for r in hash_split(
            df, "k", dict(zip(names, weights)), salt=salt
        ).collect()
    }
    want = {str(k): _py_split(k, names, bounds, salt) for k in keys}
    assert got == want


def test_quality_hex_pair_thresholds_validated(spark):
    """The expression-level split/keep primitives in quality.py take
    literal hex-pair thresholds — a malformed pair ('100', 'CD') would
    silently misassign rows via string compare, so it must refuse."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.quality import (
        hash_split as q_hash_split,
    )
    from blockchaintoavro_spark.operators.quality import stratified_keep

    for bad in ("100", "CD", "c", "", "g0"):
        with pytest.raises(ValueError, match="hex pair"):
            q_hash_split(F.col("k"), boundaries=(("train", bad),))
        with pytest.raises(ValueError, match="hex pair"):
            stratified_keep(F.col("k"), F.col("s"), {"en": bad})
    # the documented shapes still build
    q_hash_split(F.col("k"))
    stratified_keep(F.col("k"), F.col("s"), {"en": "34"})
