"""SparkSession factory tuned for this engine.

Reference parallelism knobs (``Main.java:68-76``: ``--threads`` conversion
workers, ``--rotationtime`` sink batching) map onto Spark's own scheduling:
``local[N]`` executor threads + ``spark.sql.shuffle.partitions``. At cluster
scale the same code runs unchanged — partition counts are the only tunable.

Scale posture (100 TB): AQE on (runtime coalesce + skew-join splitting),
UTC session timezone (canonicalization contract, FIXTURES.md §4), Arrow for
any pandas interchange, nested-schema pruning for the blocks table's
``transactions[].inputs[]/outputs[]`` arrays so a query touching two leaf
fields does not read the whole struct.

Warm-rerun posture: two more confs keep a rerun of the SQL layer from
paying driver costs that have nothing to do with the data. Both are
static (``StaticSQLConf``), fixed when the session is built, so they go
on ``get_spark``'s builder and not in ``_SQL_CONFS``, which ``configure``
applies to a live session.

- ``spark.sql.codegen.cache.maxEntries`` = ``_CODEGEN_CACHE_ENTRIES``.
  Janino-compiled classes are cached per JVM, LRU, 100 entries by
  default. One pass of the benchmark's ten ``sql_analytics`` queries
  generates ~160 classes, so at the default each warm pass recompiled
  ~150 of them (1.2-1.5 s of compile per pass at sf0.01 on
  ``local[2]``, read from ``CodegenMetrics``). One pass over all 181
  declared queries at sf0.01 compiles 1,710 classes
  (``tools/noop_sweep.py``'s ``codegen_compiles``); 4,096 holds that
  set with room for the cache's per-segment split, and a warm pass
  compiles none.
- ``spark.python.sql.dataFrameDebugging.enabled`` = false. PySpark 4.1
  wraps every ``F.*``/Column call to attach its Python call site to a
  possible error: an active-session lookup, a conf read and a
  ``PySparkCurrentOrigin`` set/clear, each a py4j round-trip. The ten
  ``sql_analytics`` builders went from 4,009 round-trips per pass to
  ~1,580. PySpark caches the flag per process the first time a wrapped
  call reads it, so it must be on the session before any such call;
  ``get_spark`` makes no wrapped call before ``getOrCreate``.
  The trade: a runtime error's ``== DataFrame ==`` context (ANSI errors
  such as DIVIDE_BY_ZERO) names a JVM frame instead of the
  ``plans/...py:N`` line that built the failing expression. Analysis
  errors (an unresolved column) never carried that context; they raise
  inside the builder, so the Python traceback names its line.

Neither conf changes a plan or a result. A session the engine did not
build (``configure``) keeps Spark's defaults for both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# runtime-settable SQL confs: get_spark builds with them and configure()
# applies them to a session the engine did not build
_SQL_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
}

# generated classes the codegen cache holds: one sf0.01 pass over all
# 181 declared queries compiles 1,710 (module docstring)
_CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "blockchaintoavro_spark") -> SparkSession:
    """Build (or fetch) the tuned local session."""
    builder = (
        SparkSession.builder.master(f"local[{_DEF_CPUS}]")
        .appName(app_name)
        .config(map=_SQL_CONFS)
        # static: fixed at session build, so not in _SQL_CONFS
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.shuffle.partitions", _DEF_CPUS)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (tests/driver need no Jetty server); bench.py
        # flips it on via SPARK_GRAFT_UI to read per-query shuffle
        # volumes from the UI's public REST API (VERDICT r14 #7).
        # Normalized — a raw "1"/"yes" passed straight through would
        # fail Spark's boolean conf parse and take down EVERY session
        # build, not just the UI consumer.
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower()
            in ("1", "true", "yes", "on")
            else "false",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # local-mode split size: the sf0.1 inputs are single ~10 MB files,
        # so the 128 MB default leaves 29 of 32 cores idle on the scan
        # (measured ~20% total bench win at 8 MB). Cluster deployments
        # should export SPARK_GRAFT_MAX_PARTITION_BYTES=134217728 —
        # fine splits at 100 TB would explode the task count.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package regardless of driver cwd — Python workers import
    # engine modules by name inside mapInPandas closures, and a session
    # built from an unrelated cwd (pytest from /tmp) otherwise hits
    # worker-side ModuleNotFoundError where a repo-cwd run passes
    _ship_package(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply this engine's runtime-settable configs to an externally created
    session (the correctness driver hands us one we didn't build), and ship
    the package to executors so Python-worker closures can import it even
    when the driver was launched from an unrelated cwd."""
    for k, v in _SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going
    _ship_package(spark)
    try:
        # make the engine's Avro OCF format available as
        # spark.read/write.format("avro_ocf") on any session
        from .sources.avro_datasource import register

        register(spark)
    except Exception as e:
        # Only a session without Python data-source support should land
        # here; a real registration bug would otherwise surface far away
        # as "DataSource avro_ocf not found", so say what happened.
        import warnings

        warnings.warn(f"avro_ocf DataSource not registered: {e!r}")
    return spark


def tiny_df(spark: SparkSession, rows, schema):
    """``createDataFrame`` for DRIVER-LOCAL model/ledger rows (centroids,
    codebooks, lookup tables, result ledgers) as ONE slice.

    The default path slices even a 4-row list into ``defaultParallelism``
    Python partitions; every partition pays the Python-worker handshake
    plus pyspark's per-task ``setup_spark_files`` tax (~0.27 CPU-s each,
    measured — and these tasks never import this package, so the
    zipimport guard cannot heal them), and a downstream ``coalesce(1)``
    pays all of them SEQUENTIALLY in one task (measured: 5 s wall to
    write 4 rows). One slice = one Python task total. Only for small
    local lists — real data never goes through the driver.
    """
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


def release_local_checkpoint(df) -> None:
    """Free the block-manager storage behind a ``df.localCheckpoint()``.

    ``DataFrame.unpersist`` only touches CacheManager entries, NOT the
    checkpoint RDD a ``localCheckpoint`` pinned, so iterative operators
    (connected components, BPE) that checkpoint per round otherwise leak
    2-4 persistent RDD block sets PER CALL into executor storage memory
    for the life of the session (measured via
    ``sc.getPersistentRDDs``: +2/+4/+4 over three dedup_clusters runs).
    At 100 TB those blocks are edge-list-sized — a long-lived session
    running repeated dedup jobs would creep into eviction/GC pressure
    that slows every later job (the r6 bench drift suspect). The RDD
    handle lives on the analyzed ``LogicalRDD``; reach it through the
    JVM and unpersist non-blocking. Best-effort: a Spark-internals
    change degrades to the old leak-until-GC behavior, never to an
    error.

    Only call this on checkpoints that nothing downstream will read
    again — the superseded per-round label tables, not the returned one.

    Goes through ``SparkContext.unpersistRDD`` directly rather than
    ``RDD.unpersist``: the RDD method logs a lineage-truncation WARN
    per release (by design — it cannot know the caller is done with the
    data), which at one per round per iterative operator dominated the
    bench tail (VERDICT r12 "Next round" #5). The context method is the
    same cleanup (block removal + persistentRdds eviction) minus the
    log line; ``private[spark]`` in Scala is public at the bytecode
    level, so py4j reaches it. Best-effort as before.
    """
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
    except Exception:
        pass


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """addPyFile a zip of this package (idempotent per session)."""
    key = id(spark)
    if key in _SHIPPED:
        return
    try:
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        staging = os.path.join(tempfile.gettempdir(), "blockchaintoavro_spark_pyfiles")
        os.makedirs(staging, exist_ok=True)
        zip_base = os.path.join(staging, "blockchaintoavro_spark")
        archive = shutil.make_archive(
            zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        spark.sparkContext.addPyFile(archive)
        _SHIPPED.add(key)
    except Exception as e:
        # pandas UDFs delegate to functions/base58.py BY REFERENCE, so
        # workers genuinely need this package importable — a shipping
        # failure must at least say so before a worker-side
        # ModuleNotFoundError obscures it
        import warnings

        warnings.warn(f"could not ship package to executors: {e!r}")
