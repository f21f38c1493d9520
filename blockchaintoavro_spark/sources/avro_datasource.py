"""Spark 4 Python DataSource exposing the engine's Avro OCF codec as a
first-class format: ``spark.read.format("avro_ocf").load(dir)`` and
``df.write.format("avro_ocf").save(dir)``.

Reference parity: the reference's entire output surface is Avro container
files (AvroWriter.java:38-67; Main.java:229-232 loads FormatOptions.avro());
the pip PySpark distribution ships no spark-avro DataSource, so the engine
registers its own spec-implemented OCF codec (sources/avro_io.py — Avro
1.12 binary encoding and all six spec block codecs, validated against the
official Avro Java library) through the public Python DataSource API
instead of a private mapInArrow convention.

Listing, task planning, writing and reading files are avro_io's (the
same lister, planner, per-task writer and per-file reader
``read_ocf_dataset`` and ``write_ocf_dataset`` use); this module holds
what is specific to a DataSource:
- one InputPartition per ``avro_io._pack_files`` group of byte-range
  splits, sized by ``split_size`` (default 128 MiB, the parquet-scan
  granularity): a file above it is read as several ranges that seek to
  the next 16-byte OCF sync marker — a multi-GB rotated file (the
  reference's ``--rotationtime`` × ingest-rate sizing) parallelizes
  across executors instead of single-threading one task — and smaller
  files are packed whole into tasks of at most ``split_size`` bytes.
- hive-style partition directories (``{col}={val}``) surface as a typed
  partition column, and predicates on it are consumed in ``pushFilters``
  — non-matching files are pruned from the partition list and never
  opened, the same partition-pruning contract the parquet scans get from
  Catalyst.
- stream offsets over an append-only drop directory.
- the writer is a ``DataSourceArrowWriter``: one container file per task
  (plus per partition value when ``partition_col`` is set), so write
  parallelism is the upstream partitioning and nothing shuffles; the
  driver commits the written files into a ``_SUCCESS`` manifest.

Options: ``partition_col`` (hive dir key), ``partition_type`` (``long``
default / ``string``), ``codec`` (``deflate`` default / ``null`` /
``snappy`` / ``bzip2`` / ``xz`` / ``zstandard``; an unknown name fails on
the driver before an overwrite deletes anything), ``split_size`` (read
task size in bytes).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any, Iterable, Iterator, List, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .avro_io import (
    MANIFEST,
    _check_codec,
    _fs_delete_dir,
    _fs_makedirs,
    _fs_rename,
    _fs_size,
    _is_local,
    _list_dataset,
    _pack_files,
    _pafs_resolve,
    _partition_value,
    _read_ocf_arrow,
    _write_task,
    avro_to_spark_schema,
    read_ocf_header,
    spark_to_avro_schema,
)

FORMAT_NAME = "avro_ocf"

# Read task size in bytes (option ``split_size`` overrides): files above
# it are read as several sync-aligned byte ranges, smaller ones are packed
# into tasks of at most this many bytes. 128 MiB matches
# spark.sql.files.maxPartitionBytes' default — the same granularity the
# parquet scans get (the Python planner process cannot read Spark conf).
DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024


@dataclass
class _OCFPartition(InputPartition):
    """One scan task: ``(path, partition value, start, end)`` byte-range
    splits (:func:`avro_io._pack_files`), read in order."""

    splits: tuple[tuple[str, Any, int, float], ...]


@dataclass
class _Committed(WriterCommitMessage):
    files: tuple[tuple[str, int], ...] = ()


def _read_partition(
    schema: T.StructType, pcol: str | None, partition: _OCFPartition
) -> Iterator[Any]:
    """Shared batch/stream partition read through avro_io's per-file
    reader. Each file is resolved against the avro schema derived from
    the read schema (evolved-reader support, e.g. a user-supplied
    ``.schema(...)``); files written with that exact schema skip
    resolution."""
    from pyspark.sql.pandas.types import to_arrow_schema

    data_schema = T.StructType([f for f in schema.fields if f.name != pcol])
    return _read_ocf_arrow(
        partition.splits,
        to_arrow_schema(schema),
        pcol,
        spark_to_avro_schema(data_schema),
    )


class AvroOCFReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict) -> None:
        self._schema = schema
        self._path = options["path"]
        self._pcol = options.get("partition_col")
        self._ptype = options.get("partition_type", "long")
        self._split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self._files = _list_dataset(self._path, self._pcol, self._ptype)
        if not self._files:
            raise FileNotFoundError(f"no .avro files under {self._path}")

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        """Consume partition-column predicates by pruning the file list;
        everything else is returned for Spark to evaluate post-scan.
        Pruning is applied eagerly — correctness must not depend on the
        caller consuming the returned iterable."""
        unsupported = []
        for f in filters:
            pred = self._partition_predicate(f)
            if pred is None:
                unsupported.append(f)
            else:
                self._files = [fp for fp in self._files if pred(fp[1])]
        return unsupported

    def _partition_predicate(self, f: Filter):
        if self._pcol is None or getattr(f, "attribute", None) != (self._pcol,):
            return None
        if isinstance(f, EqualTo):
            return lambda v, x=f.value: v == x
        if isinstance(f, In):
            return lambda v, xs=tuple(f.value): v in xs
        if isinstance(f, GreaterThan):
            return lambda v, x=f.value: v > x
        if isinstance(f, GreaterThanOrEqual):
            return lambda v, x=f.value: v >= x
        if isinstance(f, LessThan):
            return lambda v, x=f.value: v < x
        if isinstance(f, LessThanOrEqual):
            return lambda v, x=f.value: v <= x
        if isinstance(f, IsNotNull):
            return lambda v: v is not None
        return None

    def partitions(self) -> Sequence[InputPartition]:
        groups = _pack_files(self._files, self._split_size)
        return [_OCFPartition(tuple(g)) for g in groups]

    def read(self, partition: _OCFPartition) -> Iterator[Any]:
        return _read_partition(self._schema, self._pcol, partition)


class AvroOCFStreamReader(DataSourceStreamReader):
    """Micro-batch source over an append-only ``.avro`` drop directory —
    the layout the rotated sink produces continuously (the reference
    daemon's output surface, AvroWriter.java).

    Offsets are the sorted list of files seen, the same bookkeeping
    Spark's own FileStreamSource keeps: a replayed micro-batch re-plans
    from the *logged* (start, end) file lists, so recovery re-reads
    exactly the original files (idempotent with the sink's batch-suffix
    contract). A micro-batch's new files are planned like a batch read
    (:func:`avro_io._pack_files` by ``split_size``: small files packed
    into one task, a huge one cut into sync-aligned ranges) and read
    executor-side, Arrow-batched — the driver only lists names and
    stats the new files. Scale note: offset
    size grows with file count; compact retired windows out of the drop
    dir (the rotation contract) to bound it.
    """

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self._schema = schema
        self._path = options["path"]
        self._pcol = options.get("partition_col")
        self._ptype = options.get("partition_type", "long")
        self._split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))

    def _current_files(self) -> list[str]:
        return [
            f
            for f, _v, _sz in _list_dataset(
                self._path, self._pcol, self._ptype, use_manifest=False
            )
        ]

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": self._current_files()}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        new = sorted(set(end["files"]) - set(start["files"]))
        files = [
            (
                p,
                _partition_value(p, self._ptype) if self._pcol else None,
                _fs_size(p),
            )
            for p in new
        ]
        groups = _pack_files(files, self._split_size)
        return [_OCFPartition(tuple(g)) for g in groups]

    def read(self, partition: _OCFPartition) -> Iterator[Any]:
        return _read_partition(self._schema, self._pcol, partition)

    def commit(self, end: dict) -> None:
        pass  # files are immutable once rotated; nothing to release


class AvroOCFArrowWriter(DataSourceArrowWriter):
    def __init__(self, schema: T.StructType, options: dict, overwrite: bool) -> None:
        import uuid

        self._path = options["path"]
        if not _is_local(self._path):
            # The writer's commit protocol is rename-based (_SUCCESS
            # manifest swapped by an atomic rename) — sound only on a
            # renaming filesystem. Refuse URIs loudly instead of
            # producing an uncommittable dataset; the URI write path is
            # avro_io.write_ocf_dataset (pyarrow.fs) behind a
            # manifest.py commit.
            raise ValueError(
                f"{FORMAT_NAME} write supports local paths only, got "
                f"{self._path!r}; use sources.avro_io.write_ocf_dataset "
                "with the URI + operators/manifest.py for object stores"
            )
        self._pcol = options.get("partition_col")
        self._codec = options.get("codec", "deflate")
        _check_codec(self._codec)  # before an overwrite deletes anything
        # one token per write JOB (minted on the driver, shipped in the
        # pickled writer): taskAttemptId alone restarts at 0 per Spark
        # application, so a second app appending to the same directory
        # would silently truncate the first app's part-00000.avro
        self._job_token = uuid.uuid4().hex[:8]
        data_schema = T.StructType(
            [f for f in schema.fields if f.name != self._pcol]
        )
        self._avro_schema = spark_to_avro_schema(data_schema)
        # runs on the driver before any task: make overwrite atomic-enough
        # (same contract as the parquet overwrite mode dq23 exercises),
        # and read the manifest an append merges into — an unreadable one
        # fails the job here, before any task writes a file
        self._prev: dict[str, dict] = {}
        if overwrite:
            _fs_delete_dir(self._path)
        else:
            self._prev = _read_manifest(self._path)
        _fs_makedirs(self._path)

    def write(self, iterator: Iterator[Any]) -> _Committed:
        """Executor-side: one container file per (task, partition value).
        Bytes go to a per-attempt tmp file, atomically renamed at the
        end — a failed attempt leaves only a tmp the reader never lists
        (the manifest names committed files only), and duplicate
        speculative attempts cannot interleave into one file."""
        from pyspark import TaskContext

        tid = TaskContext.get().taskAttemptId()
        written = _write_task(
            iterator, self._path, self._pcol, self._avro_schema, self._codec,
            f"part-{self._job_token}-{tid:05d}.avro",
        )
        return _Committed(
            tuple((os.path.relpath(f, self._path), n) for _k, f, n in written)
        )

    def commit(self, messages: List[_Committed | None]) -> None:
        """Write the manifest of committed (dataset-relative) files.

        Append mode MERGES with the existing manifest (read in
        ``__init__``) — each append job rewriting it from scratch would
        un-commit every earlier append's files from the reader's view.
        Single concurrent writer per directory, the usual file-sink
        contract."""
        manifest = [
            {"path": p, "n_records": n}
            for m in messages
            if m is not None
            for p, n in m.files
        ]
        seen = {e["path"] for e in manifest}
        manifest = [e for p, e in self._prev.items() if p not in seen] + manifest
        mf = os.path.join(self._path, MANIFEST)
        # tmp + atomic rename, same as the data files: a crash (or a
        # concurrent reader) mid-rewrite must never leave a truncated
        # manifest whose JSON error would silently re-expose orphans
        tmp = f"{mf}.tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        _fs_rename(tmp, mf)

    def abort(self, messages: List[_Committed | None]) -> None:
        fs, root = _pafs_resolve(self._path)
        for m in messages:
            if m is None:
                continue  # failed attempt: only its .tmp remains, unlisted
            for p, _ in m.files:
                try:
                    fs.delete_file(os.path.join(root, p))
                except OSError:
                    pass


def _read_manifest(path: str) -> dict[str, dict]:
    """The entries of ``path``'s ``_SUCCESS`` manifest by file path; none
    when it does not exist. An unreadable manifest raises ValueError naming it:
    rewriting it with only the new files would hide every earlier
    commit from readers."""
    mf = os.path.join(path, MANIFEST)
    try:
        with open(mf) as fh:
            return {e["path"]: e for e in json.load(fh)}
    except FileNotFoundError:
        return {}
    except (ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"unreadable {FORMAT_NAME} manifest {mf} ({type(e).__name__}: "
            f"{e}); appending would un-commit the files it lists"
        ) from e


class AvroOCFDataSource(DataSource):
    """``avro_ocf`` — self-describing Avro container files (read/write)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        pcol = self.options.get("partition_col")
        ptype = self.options.get("partition_type", "long")
        files = _list_dataset(self.options["path"], pcol, ptype)
        if not files:
            raise FileNotFoundError(f"no .avro files under {self.options['path']}")
        schema = avro_to_spark_schema(read_ocf_header(files[0][0]))
        if pcol:
            # nullable: a null partition value lands in the hive default
            # partition dir and reads back as null
            schema = schema.add(
                pcol, T.LongType() if ptype == "long" else T.StringType(), True
            )
        return schema

    def reader(self, schema: T.StructType) -> AvroOCFReader:
        return AvroOCFReader(schema, dict(self.options))

    def streamReader(self, schema: T.StructType) -> AvroOCFStreamReader:
        return AvroOCFStreamReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> AvroOCFArrowWriter:
        return AvroOCFArrowWriter(schema, dict(self.options), overwrite)


def register(spark) -> None:
    """Idempotently register the ``avro_ocf`` format on a session.

    The class is shipped to Spark's data-source worker processes by
    cloudpickle; those workers don't inherit ``addPyFile`` includes the
    way task workers do, so the module (and the avro_io core it closes
    over) is marked pickle-by-value — the format then works on clusters
    where the package is not installed on every node, matching the
    session's self-contained-closure shipping policy (session.py).
    """
    import sys

    # MUST be pyspark's vendored cloudpickle — that is what the
    # registration path serializes the class with
    from pyspark import cloudpickle

    from . import avro_io

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(avro_io)
    # partition pruning runs through the Python pushdown hook, which is
    # off by default (runtime-settable SQL conf)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(AvroOCFDataSource)
