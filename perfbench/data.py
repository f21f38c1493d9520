"""Benchmark inputs, generated from scratch inside the checkout.

Two kinds of input:

* ``write_tables`` — the ten analytic tables the registry queries read
  (TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``), written as one parquet file each with the column
  names and types the builders expect. The content is a pure function
  of ``TABLE_SEED`` so the pinned digests of the oracle-less operators
  stay valid; the benchmark's ``--seed`` does not change it.
* ``write_block_drop`` — avro_ingest's input: the nested blocks drop
  from ``fixtures/gen_fixtures.py`` with that module's ``SEED`` set from
  the benchmark seed, split into parquet files for the streaming source.

Only numpy and pyarrow are used, so generation needs no Spark session
and is never billed to set-up time.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# Row counts (about 1/100 of TPC-H SF 1, the repo's "sf0.01" layout).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "en", "en", "de", "es", "fr", "zh"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _tables(rng) -> dict[str, pa.Table]:
    n = SIZES
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, c), s),
        }
    )
    su = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(su), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(su)],
            "s_nationkey": pa.array(rng.integers(0, 25, su), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, su), f64),
        }
    )
    p = n["part"]
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(_ADJ, p), rng.choice(_NOUN, p))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), i64),
            "p_name": names,
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": pa.array(rng.choice(_PTYPES, p), s),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2), f64
            ),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": pa.array(rng.choice(_STATUS, o), s),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o), f64),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, o),
            "o_orderpriority": pa.array(rng.choice(_PRIORITY, o), s),
        }
    )
    li = n["lineitem"]
    flags = rng.integers(0, 6, li)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, su, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": pa.array(
                rng.integers(1, 51, li).astype(np.float64), f64
            ),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li), f64),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2], s),
            "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2], s),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, li),
        }
    )
    e = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, e))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), i64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, e), i64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, e), s),
            "value": pa.array(
                np.round(rng.exponential(60.0, e), 2), f64
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts: list[str] = []
    for k in range(d):
        if k >= 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document, one word swapped
            words = texts[int(rng.integers(0, k))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), i64),
            "text": texts,
            "lang": pa.array(rng.choice(_LANGS, d), s),
            "source": [f"src{k}" for k in rng.integers(0, 20, d)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    m = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), i64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, m), i32),
        }
    )
    return out


def write_tables(out_dir: str) -> None:
    """Write the ten tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.default_rng(TABLE_SEED)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _gen_fixtures_module(repo: str):
    """A private instance of ``fixtures/gen_fixtures.py`` so that setting
    its module-level ``SEED`` touches neither the file nor any other
    importer."""
    path = os.path.join(repo, "fixtures", "gen_fixtures.py")
    spec = importlib.util.spec_from_file_location("_perfbench_gen_fixtures", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_block_drop(
    repo: str, out_dir: str, seed: int, n_files: int, n_blocks: int
) -> None:
    """Write the seeded drop of ``n_blocks`` distinct blocks plus the
    generator's 200 at-least-once duplicate rows as ``n_files`` parquet
    files under ``out_dir``."""
    gen = _gen_fixtures_module(repo)
    gen.SEED = seed
    # gen_blocks re-delivers 185 blocks once and 15 of them a third time
    gen.N_DISTINCT = n_blocks
    gen.N_PHYSICAL = n_blocks + 200
    rows = gen.gen_blocks()
    table = pa.Table.from_pylist(rows, schema=gen.BLOCKS_T)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step),
            os.path.join(out_dir, f"part-{k:03d}.parquet"),
        )
