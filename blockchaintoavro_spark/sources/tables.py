"""Table sources over the driver testdata (SURVEY §2.1 S3/S4).

Reference: the BQ load job reads rotated Avro files (``Main.java:229-232``)
and the ETL queries ``FROM bitcoin-bigquery.bitcoin.blocks`` (``etl.sh:13``).
Here a "table" is a parquet path; Catalyst gets column pruning + predicate
pushdown + partition pruning for free on these scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Path of the deterministic blocks/prices fixtures (generated by
# ``fixtures/gen_fixtures.py``; FIXTURES.md §1-2). Absolute so the oracle
# (DuckDB) can read the same files.
FIXTURES_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "fixtures")
BLOCKS_PARQUET = os.path.join(FIXTURES_DIR, "blocks.parquet")
PRICES_DIR = os.path.join(FIXTURES_DIR, "prices")


# Process-level schema cache: parquet schema inference re-reads footers on
# EVERY spark.read.parquet() (~85 ms/table on local disk, far worse on
# object stores at 100 TB where it's a listing + footer fetch per query).
# Inferring once per path and passing the explicit schema afterwards is the
# same driver-side metadata elision a catalog/metastore provides. Keyed by
# absolute path, so different SF dirs never collide; fixture files are
# immutable within a process.
_SCHEMA_CACHE: dict = {}


def _read_parquet(spark: SparkSession, path: str, key=None) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred on the first
    call per ``key`` (default ``path``) and passed explicitly afterwards;
    the schema is then ``_SCHEMA_CACHE[key]``."""
    key = path if key is None else key
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (parquet scan; prune/pushdown-friendly)."""
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for ``spark.sql`` use."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            _read_parquet(spark, path).createOrReplaceTempView(name)


def load_blocks(spark: SparkSession, prune=None) -> DataFrame:
    """Load the deterministic nested blocks fixture (FIXTURES.md §1).

    ``prune``: optional subset StructType (see ``schemas.pruned_blocks``).
    Catalyst's nested-schema pruning does not reach through chained
    ``explode``s of doubly-nested arrays, so queries touching only
    ``inputs[]`` leaves pass an explicit read schema — the parquet scan
    then skips the ``outputs[]`` (or ``inputs[]``) column chunks entirely.
    At 100 TB those are ~half the table's bytes (plan-asserted in
    tests/test_plans.py).
    """
    if prune is not None:
        return spark.read.schema(prune).parquet(BLOCKS_PARQUET)
    return _read_parquet(spark, BLOCKS_PARQUET)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` with ``ts`` normalized to TIMESTAMP_NTZ microseconds.

    The testdata has shipped ``ts`` both as INT64 TIMESTAMP(NANOS) (no
    native Spark type) and as a plain microsecond timestamp — it changed
    between rounds, so nothing about the physical layout is assumed.
    The legacy ``nanosAsLong`` conf is set unconditionally: it ONLY
    affects TIMESTAMP(NANOS) columns (which nothing else in the testdata
    uses), it is the only way Spark can read them at all, and setting it
    has no effect on native micro/milli files. The branch then follows
    whatever dtype Spark actually resolved:

    - LongType → nanos-as-long engaged: truncate to micros with exact
      integer division (double division would lose precision at
      1.7e18 ns) and stamp TIMESTAMP_NTZ.
    - TIMESTAMP_NTZ → already the canonical type; pass through.
    - TIMESTAMP (UTC-adjusted file) → rebase the instant to UTC wall
      time explicitly; a bare NTZ cast would render it in the session
      timezone and shift every value on a non-UTC session.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # locked-down session conf; native layouts still read fine
    path = os.path.join(sf_dir, "events.parquet")
    # keyed apart from load_table's entry: this schema was resolved under
    # nanosAsLong, so a nanos ``ts`` is cached as LongType
    key = (path, "nanosAsLong")
    df = _read_parquet(spark, path, key)
    ts_type = _SCHEMA_CACHE[key]["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    if isinstance(ts_type, TimestampNTZType):
        return df
    return df.withColumn(
        "ts",
        F.expr(
            "CAST(convert_timezone(current_timezone(), 'UTC',"
            " CAST(ts AS TIMESTAMP_NTZ)) AS TIMESTAMP_NTZ)"
        ),
    )
