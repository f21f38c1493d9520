"""Property-based tests (hypothesis) over the pure-function layer —
SURVEY §5.2's unit-test tier. Spark round-trips are batched: one
DataFrame per property run set, not one per example (hypothesis drives
the pure-python twins; a single Spark batch asserts UDF parity)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from blockchaintoavro_spark.functions.base58 import (
    base58_encode_py,
    base58check_encode_py,
)

_B58_CHARS = set("123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz")


@given(st.binary(max_size=64))
@settings(max_examples=200, deadline=None)
def test_base58_alphabet_and_leading_zeros(spark, raw):
    enc = base58_encode_py(raw)
    assert set(enc) <= _B58_CHARS
    # leading 0x00 bytes map 1:1 to leading '1's
    pad = len(raw) - len(raw.lstrip(b"\0"))
    assert enc.startswith("1" * pad)
    if pad < len(raw):
        assert len(enc) > pad and (enc[pad] != "1" or raw.lstrip(b"\0")[0:1] == b"")


@given(st.binary(max_size=64))
@settings(max_examples=200, deadline=None)
def test_base58_injective_roundtrip(spark, raw):
    """base58 is invertible: decode(encode(x)) == x."""
    enc = base58_encode_py(raw)
    pad = 0
    for ch in enc:
        if ch == "1":
            pad += 1
        else:
            break
    alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    n = 0
    for ch in enc[pad:]:
        n = n * 58 + alphabet.index(ch)
    body = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    assert b"\0" * pad + body == raw


@given(st.binary(min_size=1, max_size=64))
@settings(max_examples=100, deadline=None)
def test_base58check_detects_corruption(spark, raw):
    """Base58Check differs whenever the payload differs in the last byte."""
    a = base58check_encode_py(raw)
    mutated = raw[:-1] + bytes([raw[-1] ^ 0x01])
    b = base58check_encode_py(mutated)
    assert a != b


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.floats(0, 1e6, allow_nan=False)),
        min_size=1,
        max_size=50,
    ),
    st.integers(1, 60),
)
@settings(max_examples=30, deadline=None)
def test_sessionize_properties(pairs, gap_minutes):
    """Gaps-and-islands invariants on arbitrary event sets: every row keeps
    its session; a session's internal gaps are <= gap; consecutive sessions
    are separated by > gap."""
    import datetime

    base = datetime.datetime(2020, 1, 1)
    rows = sorted(
        (u, base + datetime.timedelta(minutes=m * 7.3))
        for u, m in ((u, v / 1e4) for u, v in pairs)
    )
    # pure-python twin of operators/sessionize.py (lag > gap starts session)
    gap = datetime.timedelta(minutes=gap_minutes)
    sessions: dict[int, list[list]] = {}
    for u, ts in rows:
        buckets = sessions.setdefault(u, [])
        if buckets and ts - buckets[-1][-1] <= gap:
            buckets[-1].append(ts)
        else:
            buckets.append([ts])
    for u, buckets in sessions.items():
        for i, b in enumerate(buckets):
            assert all(b[j + 1] - b[j] <= gap for j in range(len(b) - 1))
            if i:
                assert b[0] - buckets[i - 1][-1] > gap
    assert sum(len(b) for bs in sessions.values() for b in bs) == len(rows)


@pytest.mark.usefixtures("spark")
def test_sessionize_spark_matches_python_twin(spark):
    """The Spark sessionize operator agrees with the pure-python twin on a
    seeded irregular event set (one batched round-trip)."""
    import datetime
    import random

    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.sessionize import sessionize

    rng = random.Random(7)
    base = datetime.datetime(2020, 1, 1)
    rows = []
    eid = 0
    for u in range(4):
        tick = base
        for _ in range(60):
            tick += datetime.timedelta(minutes=rng.choice([1, 5, 29, 31, 90]))
            rows.append((eid, u, tick))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = (
        sessionize(df, "user_id", "ts", 30, tiebreak="event_id")
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .collect()
    )
    want: dict[int, int] = {}
    gap = datetime.timedelta(minutes=30)
    by_user: dict[int, list] = {}
    for _, u, ts in rows:
        by_user.setdefault(u, []).append(ts)
    for u, tss in by_user.items():
        tss.sort()
        n = 1
        for a, b in zip(tss, tss[1:]):
            if b - a > gap:
                n += 1
        want[u] = n
    assert {r.user_id: r.n_sessions for r in got} == want


# ---------------------------------------------------------------------------
# round 3: binned range join and chunking properties


@given(
    st.lists(st.integers(-50, 150), min_size=0, max_size=25),
    st.lists(
        st.tuples(st.integers(-50, 150), st.integers(0, 60)),
        min_size=0,
        max_size=10,
    ),
    st.sampled_from([1, 3, 7, 40]),
)
@settings(max_examples=20, deadline=None)
def test_bin_range_join_matches_bruteforce(spark, points, intervals, width):
    """Binned join == brute-force containment for arbitrary integer
    points/intervals (boundary hits, negative values, zero-length and
    many-bin-spanning intervals) at several bin widths."""
    import pyspark.sql.functions as F

    from blockchaintoavro_spark.operators.interval import bin_range_join

    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)] or [(None, None)],
        "pid long, v long",
    ).filter(F.col("pid").isNotNull())
    idf = spark.createDataFrame(
        [(j, s, s + span) for j, (s, span) in enumerate(intervals)]
        or [(None, None, None)],
        "iid long, s long, e long",
    ).filter(F.col("iid").isNotNull())
    got = sorted(
        (r["pid"], r["iid"])
        for r in bin_range_join(
            pdf, idf, F.col("v"), F.col("s"), F.col("e"), bin_width=width
        ).collect()
    )
    want = sorted(
        (pi, ii)
        for pi, p in enumerate(points)
        for ii, (s, span) in enumerate(intervals)
        if s <= p <= s + span
    )
    assert got == want


@given(
    st.integers(1, 80),
    st.tuples(st.integers(1, 20), st.integers(1, 20)).filter(
        lambda t: t[1] <= t[0]
    ),
)
@settings(max_examples=15, deadline=None)
def test_chunk_tokens_reconstructs_any_doc(spark, n_tokens, size_stride):
    """For any doc length and any 0 < stride <= size: concatenating the
    first chunk with each later chunk's non-overlapping tail rebuilds
    the document exactly (no token lost or duplicated)."""
    size, stride = size_stride
    from blockchaintoavro_spark.operators.chunking import chunk_tokens

    toks = [f"t{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        chunk_tokens(df, size=size, stride=stride).collect(),
        key=lambda r: r["chunk_id"],
    )
    rebuilt = rows[0]["chunk_text"].split(" ")
    for r in rows[1:]:
        ct = r["chunk_text"].split(" ")
        overlap = len(rebuilt) - r["chunk_id"] * stride
        assert ct[:overlap] == rebuilt[r["chunk_id"] * stride :]
        rebuilt.extend(ct[overlap:])
    assert rebuilt == toks
