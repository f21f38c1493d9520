"""The three workloads: their operations and the checks on each output.

An operation is split the way a user of the engine calls it: a *build*
(the registry builder, or the ingest-step call that returns a lazy
DataFrame or a streaming query) and an *action* (``collect``/``count``
or the blocking call). ``check`` runs after the timed part and returns
``None`` when the output is right, else a one-line reason.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from typing import Any, Callable

SQL_ANALYTICS = (
    "dq07_flagship_etl",
    "dq10_star_join",
    "dq15_agg_q1",
    "dq17_cube",
    "dq18_rank_lag",
    "dq14_asof_join",
    "dq30_sessionize",
    "dq26_json",
    "x_tpch_q5",
    "x_tpch_q21",
)
LLM_CURATION = (
    "x_minhash_neardup",
    "x_simhash",
    "x_dedup_clusters",
    "x_bpe_tokenize",
    "x_jpeg_decode",
    "x_gif_frames",
    "x_flac_decode",
    "x_phash_codes",
)
AVRO_INGEST = ("ingest", "publish", "range_probe", "compact")
WORKLOADS = {
    "sql_analytics": SQL_ANALYTICS,
    "llm_curation": LLM_CURATION,
    "avro_ingest": AVRO_INGEST,
}

DIGESTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

# avro_ingest shape: the drop is split into DROP_FILES parquet files and
# drained FILES_PER_TRIGGER at a time, giving DROP_FILES / 2 micro-batches
DROP_FILES = 8
FILES_PER_TRIGGER = 2
# distinct blocks in the drop; the generator adds 200 duplicate rows
DROP_BLOCKS = 200


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    # the DataFrame whose Catalyst phases the traced run reads, if any
    frame: Callable[[Any], Any] = lambda built: None


# --- expected outputs -------------------------------------------------


def result_digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: the row count and a sha256 over
    the rows as the tests' engine-vs-oracle comparison canonicalizes them."""
    from tests._compare import canon_rows

    digest = hashlib.sha256("\n".join(canon_rows(cols, rows)).encode()).hexdigest()
    return f"{len(rows)}:{digest}"


def oracle_digests(names, registry, sf_dir: str) -> dict[str, str]:
    """DuckDB oracle digest per registry query that declares one."""
    from tests._compare import duck_connection

    con = duck_connection(sf_dir)
    try:
        out = {}
        for name in names:
            sql = registry[name].oracle
            if sql is not None:
                rel = con.sql(sql)
                out[name] = result_digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def pinned_digests() -> dict[str, str]:
    """Expected digests kept in ``digests.json``: the operators without a
    DuckDB oracle (their output was confirmed identical across passes
    and processes before pinning) and ``x_phash_codes``, whose oracle
    takes seconds in DuckDB (its pinned value is that oracle's digest).
    They hold for the tables ``data.write_tables`` makes."""
    with open(DIGESTS_FILE) as f:
        return json.load(f)


# --- registry workloads -------------------------------------------------


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def _digest_check(want: str | None):
    def check(result) -> str | None:
        got = result_digest(list(result[0]), result[1])
        return None if got == want else f"digest {got} != {want}"

    return check


def registry_ops(names, spark, registry, sf_dir: str, expected) -> list[Op]:
    def make(name: str) -> Op:
        return Op(
            name=name,
            build=lambda: registry[name].spark(spark, sf_dir),
            action=_collect,
            check=_digest_check(expected.get(name)),
            frame=lambda df: df,
        )

    return [make(n) for n in names]


def pass_order(names, seed: int, pass_no: int) -> list[str]:
    """Seeded operation order for one pass."""
    order = list(names)
    random.Random(seed * 1000 + pass_no).shuffle(order)
    return order


# --- avro_ingest --------------------------------------------------------


@dataclass
class DropFacts:
    """DuckDB ground truth over the generated block drop."""

    rows: int
    transactions: int
    lo_millis: int
    hi_millis: int
    range_rows: int


def drop_facts(drop_dir: str) -> DropFacts:
    import duckdb

    con = duckdb.connect()
    try:
        src = f"read_parquet('{drop_dir}/*.parquet')"
        rows, t_min, t_max = con.sql(
            f"SELECT count(*), min(timestamp), max(timestamp) FROM {src}"
        ).fetchone()
        lo = t_min + (t_max - t_min) // 3
        hi = t_min + 2 * (t_max - t_min) // 3
        (txs,) = con.sql(
            f"SELECT coalesce(sum(len(transactions)), 0) FROM ("
            f" SELECT transactions, row_number() OVER ("
            f"  PARTITION BY block_id ORDER BY ingest_id) AS rn FROM {src}"
            f") WHERE rn = 1"
        ).fetchone()
        (in_range,) = con.sql(
            f"SELECT count(*) FROM {src} WHERE timestamp BETWEEN {lo} AND {hi}"
        ).fetchone()
        return DropFacts(rows, int(txs), lo, hi, in_range)
    finally:
        con.close()


def avro_ops(spark, drop_dir: str, pass_dir: str, facts: DropFacts) -> list[Op]:
    """One pass of the reference write path, in its fixed order. Each pass
    writes its sink, checkpoint and compaction output under ``pass_dir``."""
    from blockchaintoavro_spark.operators.blocks_etl import publish_transactions
    from blockchaintoavro_spark.operators.rotation import (
        read_rotated,
        read_rotated_range,
    )
    from blockchaintoavro_spark.sources.avro_io import compact_ocf_dir
    from blockchaintoavro_spark.streaming.pipeline import (
        read_block_stream,
        start_rotating_sink,
    )

    sink = os.path.join(pass_dir, "sink")
    ckpt = os.path.join(pass_dir, "checkpoint")
    compacted = os.path.join(pass_dir, "compacted")

    def expect(label, want):
        return lambda got: None if got == want else f"{label} {got} != {want}"

    def start_ingest():
        schema = spark.read.parquet(drop_dir).schema
        stream = read_block_stream(
            spark, drop_dir, schema, max_files_per_trigger=FILES_PER_TRIGGER
        )
        return start_rotating_sink(stream, sink, ckpt, processing_trigger=None)

    def drain(query):
        query.awaitTermination()
        return query.recentProgress

    batches = expect("micro-batches", DROP_FILES // FILES_PER_TRIGGER)

    return [
        Op(
            "ingest",
            start_ingest,
            drain,
            lambda progress: batches(len(progress)),
        ),
        Op(
            "publish",
            lambda: publish_transactions(read_rotated(spark, sink)),
            lambda df: df.count(),
            expect("published transactions", facts.transactions),
            frame=lambda df: df,
        ),
        Op(
            "range_probe",
            lambda: read_rotated_range(
                spark, sink, facts.lo_millis, facts.hi_millis
            ),
            lambda df: df.count(),
            expect("range-probe rows", facts.range_rows),
            frame=lambda df: df,
        ),
        Op(
            "compact",
            lambda: None,
            # compaction reads every row back from the sink and rewrites
            # it, so its row count checks both the sink and compaction
            lambda _none: compact_ocf_dir(
                spark, sink, compacted, partition_col="window_id"
            )["rows"],
            expect("rows read back and compacted", facts.rows),
        ),
    ]
