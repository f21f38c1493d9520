"""Structured Streaming wrapper mirroring the reference daemon
(SURVEY §2.3-E, §3.1).

Reference flow (``Main.java``): P2P download → worker-pool convert →
synchronized rotated AvroWriter → onRotation GCS upload + BQ load, with
at-least-once retries and downstream SQL dedup.

Spark mapping:
- source: ``readStream`` over a drop directory (replayable file source —
  the P2P network source is out of engine scope, SURVEY §2.1 S1);
- trigger: ``processingTime = rotation period`` — Spark's micro-batch epoch
  IS the rotation window (AvroWriter.java:45-49 semantics);
- commit: ``foreachBatch`` appends each batch to a rotated table
  (Main.java:229-259's load job), idempotent via checkpointing + the
  downstream dedup (etl.sh:6-17 ↔ dropDuplicates);
- late/duplicate data: ``withWatermark + dropDuplicates`` (ST5/ST6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.rotation import write_rotated


def read_block_stream(
    spark: SparkSession, drop_dir: str, schema, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-drop streaming source (replayable; backpressure via
    maxFilesPerTrigger — the reference's unbounded queue had none,
    ThreadHelpers.java:20-21)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drop_dir)
    )


def start_rotating_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    rotation_seconds: int = 600,
    epoch_millis_col: str = "timestamp",
    processing_trigger: str | None = "1 second",
    dedup_key: str | None = None,
) -> StreamingQuery:
    """writeStream → foreachBatch rotated append (K1+K3 semantics).

    Each micro-batch appends into window_id-partitioned directories;
    checkpointing makes replays idempotent at the batch level, and the
    optional in-batch dedup mirrors the reference's tolerance for
    duplicate ingest (resolved downstream by dq06's window dedup).

    ``processing_trigger=None`` → availableNow (drain-and-stop, for tests
    and backfills); a duration string → continuous micro-batches whose
    period IS the reference's rotation cadence.

    Output is Avro container files (AvroWriter.java parity) written by
    the engine's own OCF writer through ``write_rotated``, with file
    names keyed by micro-batch id — a replayed batch rewrites its own
    files, keeping at-least-once commits idempotent.
    """

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df
        if dedup_key is not None:
            out = out.dropDuplicates([dedup_key])
        write_rotated(
            out,
            out_path,
            epoch_millis_col,
            rotation_seconds,
            mode="append",
            suffix=f"-b{batch_id:05d}",
        )

    writer = stream.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint
    )
    if processing_trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_trigger)
    return writer.start()
