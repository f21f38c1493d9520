"""Pure-Python Apache Avro Object Container File codec + distributed writer.

Why this exists: the reference's entire output surface is Avro container
files (``AvroWriter.java:38-67``; ``Main.java:229-232`` loads
``FormatOptions.avro()``), but the pip PySpark distribution ships only the
core Avro JVM jars — NOT the ``spark-avro`` DataSource. Rather than
silently downgrading the sink format to parquet, this module implements
the PUBLIC Avro 1.12 specification (binary encoding + object container
files, https://avro.apache.org/docs/1.12.0/specification/) for the type
subset the engine's tables use, and distributes writes/reads over
executors via ``mapInArrow`` (Arrow batches preserve int64/null/binary/
nested fidelity that a pandas hop would mangle). It is the engine's one
Avro path in each direction: ``write_ocf_dataset``/``read_ocf_dataset``
and the ``avro_ocf`` DataSource (avro_datasource.py) share the same file
lister, per-task writer and per-file reader below.

Block codecs: all six the spec defines (null, deflate, snappy, bzip2, xz,
zstandard), one ``(compress, decompress)`` pair each in :data:`_CODECS` —
stdlib zlib/bz2/lzma, and pyarrow's bundled snappy and zstd (snappy with
the spec's CRC32 suffix). Corrupt compressed data raises the same
descriptive ``ValueError`` for every codec.

Format parity is proven in tests/test_avro.py by re-reading Python-written
files through the OFFICIAL Apache Avro Java library (``avro-1.12.1.jar``,
already on the Spark JVM classpath) via the session's JVM gateway, and by
reading files that library wrote, under every codec.

Scale notes:
- The writer is a narrow per-partition map: each task streams its Arrow
  batches into per-(task, partition-value) files block-by-block — nothing
  is buffered beyond one Arrow batch, no shuffle is introduced, and file
  count = tasks × live windows exactly like Spark's own dynamic-partition
  committer. Batches are encoded column-wise straight from the Arrow
  buffers (:func:`_compile_arrow_encoder`), the one encoder of every
  dataset write: no Python object per row or value, and the bytes equal
  what the dict-record encoder (:func:`_encode`, behind ``write_ocf``/
  ``OCFWriter.append`` and the container header) writes for the same
  rows.
- The reader parallelizes over files; each file's schema rides in its own
  header (self-describing, like any Avro file), so ``read_ocf_dataset``
  needs no external schema registry.
- Compaction (:func:`compact_ocf_dir`) moves record bytes, not records:
  a block whose file schema equals the output schema is appended to its
  window's pending output block still encoded, and only the output
  block is compressed; files of another schema are decoded, resolved,
  converted to Arrow and re-encoded by the column encoder.

Supported types (all the engine's sinks emit): null, boolean, int, long,
float, double, bytes, string, record, array, map, and 2-branch unions with
null, plus the temporal logical types (timestamp-millis/micros,
local-timestamp-millis/micros, date) mapped to Spark
Timestamp/TimestampNTZ/Date. Reader-writer schema RESOLUTION (spec
"Schema Resolution") is implemented for this subset — field
add-with-default / drop / reorder, numeric promotions (int→long→float→
double), string↔bytes, nullability widening — so evolved readers consume
old files (``reader_schema=`` on the read APIs; the Spark DataSource
resolves per file against a user-supplied ``.schema(...)``). Enum/fixed
and record-name/alias matching are out of scope and raise.
"""

from __future__ import annotations

import bz2
import datetime as _dt
import io
import json
import lzma as _lzma
import os
import struct as _struct
import threading as _threading
import zlib
from contextlib import contextmanager
from functools import partial
from typing import Any, BinaryIO, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# binary encoding (spec: "Binary Encoding")


def _write_long(out: BinaryIO, n: int) -> None:
    """Zigzag + variable-length encoding for int/long, in one write."""
    u = (n << 1) ^ (n >> 63)
    buf = bytearray()
    while u > 0x7F:
        buf.append((u & 0x7F) | 0x80)
        u >>= 7
    buf.append(u)
    out.write(buf)


def _read_long(buf: BinaryIO) -> int:
    u, shift = 0, 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise EOFError("truncated varint")
        b = raw[0]
        u |= (b & 0x7F) << shift
        if not (b & 0x80):
            return (u >> 1) ^ -(u & 1)
        shift += 7


# Sanity ceiling on any single corruption-controlled count (records per
# block, array/map block entries). Real writers never exceed this (our
# writer emits 5k-record blocks; arrays are the engine's 64-d embeddings
# and transaction lists). Items of an all-``null`` schema consume NO
# input bytes, so the EOF guard never fires and ``range(n)`` would
# otherwise materialize the declared count outright; the per-count
# ceiling caps any SINGLE block, and the cumulative per-payload budget
# below caps a crafted stream of REPEATED max-count zero-byte blocks
# (r6 ADVICE: ~5 input bytes must not amplify into 0.5 GB per block
# with only process memory as the stop).
_MAX_DECODE_COUNT = 1 << 26

# Cumulative declared-item budget while decoding ONE block payload:
# proportional to the real compressed-side bytes (every realistic item
# consumes ≥1 input byte — only pure-``null`` items are free, and no
# real writer emits megabytes of them) plus a fixed slack so tiny
# blocks of legitimate null-heavy data always fit. Thread-local because
# DataSource readers may decode concurrently in one worker.
_BUDGET_BYTES_RATIO = 64
_BUDGET_SLACK = 1 << 16

class _DecodeBudget(_threading.local):
    """Thread-local budget that survives cloudpickle: a bare
    ``threading.local`` cannot pickle, and avro_io functions ride into
    Python workers inside DataSource/mapInArrow closures — reconstruct
    fresh (no active budget) on the far side, which is exactly right
    since budgets are armed per-payload inside one task."""

    remaining: int | None = None

    def __reduce__(self):
        return (_DecodeBudget, ())


_DECODE_BUDGET = _DecodeBudget()


def _charge_items(n: int, what: str) -> None:
    """Charge ``n`` declared items against the active per-payload budget
    (``None`` outside block decode → no-op, e.g. header metadata whose
    entries all consume real bytes). Fails fast with the uniform corrupt
    ValueError instead of relying on process memory as the stop."""
    remaining = getattr(_DECODE_BUDGET, "remaining", None)
    if remaining is None:
        return
    remaining -= n
    if remaining < 0:
        raise ValueError(
            f"corrupt declared {what} count: cumulative items exceed the "
            f"payload-proportional decode budget"
        )
    _DECODE_BUDGET.remaining = remaining


def _check_count(n: int, what: str) -> int:
    if n < 0 or n > _MAX_DECODE_COUNT:
        raise ValueError(f"corrupt declared {what} count {n}")
    _charge_items(n, what)
    return n


def _read_exact(buf: BinaryIO, n: int, what: str) -> bytes:
    """Read exactly ``n`` bytes, where ``n`` is a DECODED (i.e.
    corruption-controlled) length. Never pre-allocates ``n`` bytes:
    reads in ≤1 MiB chunks, so a corrupt declared length of 2^50 fails
    with a descriptive ValueError after at most the buffer's remaining
    real bytes — no allocation bomb, no MemoryError, no multi-GiB
    wasted allocation even when memory IS available (r5 VERDICT #1)."""
    if n < 0:
        raise ValueError(f"corrupt negative declared {what} length {n}")
    if n <= (1 << 20):
        data = buf.read(n)
        if len(data) != n:
            raise ValueError(
                f"corrupt declared {what} length {n}: only {len(data)} bytes remain"
            )
        return data
    chunks: list[bytes] = []
    remaining = n
    while remaining:
        chunk = buf.read(min(remaining, 1 << 20))
        if not chunk:
            got = n - remaining
            raise ValueError(
                f"corrupt declared {what} length {n}: only {got} bytes remain"
            )
        chunks.append(chunk)
        remaining -= len(chunk)
    return b"".join(chunks)


_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_EPOCH_NAIVE = _dt.datetime(1970, 1, 1)
_EPOCH_DATE = _dt.date(1970, 1, 1)


def _logical_to_long(logical: str, v: Any) -> int:
    """Python temporal → the logical type's long/int representation
    (spec: Logical Types — timestamp-millis/micros are UTC instants,
    local-timestamp-* are wall-clock, date is days since epoch)."""
    if isinstance(v, bool) or isinstance(v, int):
        return v  # already the physical representation
    if logical == "date":
        if isinstance(v, _dt.datetime):
            v = v.date()
        return (v - _EPOCH_DATE).days
    if isinstance(v, _dt.datetime):
        if logical.startswith("local-"):
            delta = v.replace(tzinfo=None) - _EPOCH_NAIVE
        else:
            if v.tzinfo is None:  # naive treated as UTC instant
                v = v.replace(tzinfo=_dt.timezone.utc)
            delta = v - _EPOCH_UTC
        us = delta // _dt.timedelta(microseconds=1)
        return us // 1000 if logical.endswith("-millis") else us
    raise ValueError(f"cannot encode {type(v).__name__} as {logical}")


def _long_to_logical(logical: str, n: int) -> Any:
    if logical == "date":
        return _EPOCH_DATE + _dt.timedelta(days=n)
    us = n * 1000 if logical.endswith("-millis") else n
    if logical.startswith("local-"):
        return _EPOCH_NAIVE + _dt.timedelta(microseconds=us)
    return _EPOCH_UTC + _dt.timedelta(microseconds=us)


_LOGICAL_TYPES = {
    ("long", "timestamp-millis"),
    ("long", "timestamp-micros"),
    ("long", "local-timestamp-millis"),
    ("long", "local-timestamp-micros"),
    ("int", "date"),
}


# value range of the avro int and long types
_INT_RANGE = {"int": (-(2**31), 2**31), "long": (-(2**63), 2**63)}


def _encode(out: BinaryIO, schema: Any, v: Any) -> None:
    """Write the record value ``v`` in ``schema``'s binary encoding: the
    dict-record encoder (:func:`write_ocf`, :meth:`OCFWriter.append`, the
    container header) and the reference the Arrow encoder is tested
    against. Fails closed as that encoder does: a None without a null
    branch raises ValueError (a NULL record encodes its fields as None, a
    NULL array or map encodes empty), and so does an int or long out of
    its type's range."""
    if isinstance(schema, list):  # union — branch chosen by value nullness
        if v is None:
            if "null" not in schema:
                raise ValueError(f"None for union {schema!r} without null")
            _write_long(out, schema.index("null"))
            return
        idx = next(i for i, s in enumerate(schema) if s != "null")
        _write_long(out, idx)
        _encode(out, schema[idx], v)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        lt = schema.get("logicalType")
        if lt is not None and (t, lt) in _LOGICAL_TYPES:
            if v is None:
                raise ValueError(f"None for non-nullable avro {schema!r}")
            _encode(out, t, _logical_to_long(lt, v))
            return
        if t == "record":
            for f in schema["fields"]:
                _encode(out, f["type"], v.get(f["name"]) if v else None)
            return
        if t == "array":
            items = list(v) if v is not None else []
            if items:
                _write_long(out, len(items))
                for it in items:
                    _encode(out, schema["items"], it)
            _write_long(out, 0)
            return
        if t == "map":
            entries = dict(v) if v is not None else {}
            if entries:
                _write_long(out, len(entries))
                for k, val in entries.items():
                    _encode(out, "string", k)
                    _encode(out, schema["values"], val)
            _write_long(out, 0)
            return
        # e.g. {"type": "long"} wrapper
        _encode(out, t, v)
        return
    if schema == "null":
        return
    if schema not in ("boolean", "int", "long", "float", "double", "bytes", "string"):
        raise ValueError(f"unsupported avro schema: {schema!r}")
    if v is None:
        raise ValueError(f"None for non-nullable avro {schema!r}")
    if schema == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif schema in _INT_RANGE:
        n = int(v)
        lo, hi = _INT_RANGE[schema]
        if not lo <= n < hi:
            raise ValueError(f"{n} out of range for avro {schema!r}")
        _write_long(out, n)
    elif schema == "float":
        out.write(_struct.pack("<f", float(v)))
    elif schema == "double":
        out.write(_struct.pack("<d", float(v)))
    else:
        b = bytes(v) if schema == "bytes" else str(v).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)


# ---------------------------------------------------------------------------
# column-wise Arrow -> Avro encoding (the write path)
#
# A node of the compiled tree is ``measure(arr, emit) -> (lens, write)``:
# ``arr`` holds the node's slots (a RecordBatch's rows, a struct field, a
# list's items), ``emit`` says which slots are encoded (a NULL union
# value emits no branch; a NULL list no items), ``lens`` is each slot's
# encoded byte length (0 where not emitted) and ``write(out, starts)``
# writes the emitted slots at ``out[starts[i]:]``. Lengths go bottom-up,
# start offsets top-down, and each leaf writes with one numpy scatter.
# ``out`` starts zeroed, so array/map terminators need no write.

_U1, _U7, _LOW7 = np.uint64(1), np.uint64(7), np.uint64(0x7F)
_VARINT_STEPS = [np.uint64(1 << (7 * k)) for k in range(1, 10)]


def _zigzag(v: np.ndarray) -> np.ndarray:
    """int64 values -> the uint64 zigzag words :func:`_write_long` writes."""
    return (v.view(np.uint64) << _U1) ^ (v >> 63).view(np.uint64)


def _varint_len(u: np.ndarray) -> np.ndarray:
    n = np.ones(len(u), np.int64)
    for step in _VARINT_STEPS:
        more = u >= step
        if not more.any():
            break
        n += more
    return n


def _put_varints(out: np.ndarray, pos: np.ndarray, u: np.ndarray) -> None:
    """Write the zigzag words ``u`` as varints starting at ``out[pos]``."""
    while len(pos):
        more = u > _LOW7
        out[pos] = ((u & _LOW7) | (more.astype(np.uint64) << _U7)).astype(np.uint8)
        pos, u = pos[more] + 1, u[more] >> _U7


def _put_const(out: np.ndarray, pos: np.ndarray, b: bytes) -> None:
    for k, byte in enumerate(b):
        out[pos + k] = byte


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat indices of the byte ranges ``[starts[i], starts[i] + lens[i])``,
    in order."""
    skip = np.cumsum(lens) - lens
    return np.repeat(starts - skip, lens) + np.arange(int(lens.sum()))


def _nulls(arr: Any) -> np.ndarray:
    if arr.null_count == 0:
        return np.zeros(len(arr), bool)
    return arr.is_null().to_numpy(zero_copy_only=False)


def _fixed_values(arr: Any, dtype: Any) -> np.ndarray:
    """The value buffer of a fixed-width Arrow array (NULL slots hold
    arbitrary values)."""
    return np.frombuffer(arr.buffers()[1], dtype)[arr.offset : arr.offset + len(arr)]


def _arrow_longs(arr: Any, logical: str | None) -> np.ndarray:
    """int64 values of an int/long leaf: integers as they are; ``date32``
    days for ``date``; Spark's microsecond timestamps for a timestamp
    logical type (floored to millis, as :func:`_logical_to_long` does)."""
    t = arr.type
    if pa.types.is_integer(t) and not pa.types.is_uint64(t):
        return _fixed_values(arr, t.to_pandas_dtype()).astype(np.int64)
    if pa.types.is_date32(t) and logical == "date":
        return _fixed_values(arr, np.int32).astype(np.int64)
    if pa.types.is_timestamp(t) and t.unit == "us" and "timestamp" in (logical or ""):
        us = _fixed_values(arr, np.int64)
        return us // 1000 if logical.endswith("-millis") else us
    raise ValueError(f"cannot encode arrow {t} as avro {logical or 'long'}")


def _compile_arrow_encoder(schema: Any):
    """Schema-specialized column encoder for Arrow data, the encoder of
    every dataset write (:func:`_write_task`, :func:`_compact_task`): the
    bytes of each row equal what :func:`_encode` writes for the row's
    ``to_pylist()`` dict (property-pinned in tests/test_avro.py), without
    building a Python object per value. See the section comment for the
    ``measure(arr, emit)`` contract; :func:`_encode_batch` runs it.

    A NULL where the schema has no null branch fails closed, as in
    :func:`_encode`: a union without null raises, a record encodes its
    fields as NULL, an array or map encodes empty, and any other leaf
    raises ValueError. Map entries are written in Arrow order; Spark maps
    have no duplicate keys."""
    if isinstance(schema, list):
        null_idx = schema.index("null") if "null" in schema else None
        branch_idx = next(i for i, s in enumerate(schema) if s != "null")
        enc_branch = _compile_arrow_encoder(schema[branch_idx])
        branch_tag, null_tag = io.BytesIO(), io.BytesIO()
        _write_long(branch_tag, branch_idx)
        if null_idx is not None:
            _write_long(null_tag, null_idx)
        branch_tag, null_tag = branch_tag.getvalue(), null_tag.getvalue()

        def m_union(arr, emit):
            null = _nulls(arr) & emit
            if null_idx is None and null.any():
                raise ValueError(f"None for union {schema!r} without null")
            live = emit & ~null
            blens, bwrite = enc_branch(arr, live)
            lens = np.where(null, len(null_tag), np.where(live, len(branch_tag) + blens, 0))

            def write(out, starts):
                if any(null_tag):
                    _put_const(out, starts[null], null_tag)
                _put_const(out, starts[live], branch_tag)
                bwrite(out, starts + len(branch_tag))

            return lens, write

        return m_union
    if isinstance(schema, dict):
        t = schema["type"]
        lt = schema.get("logicalType")
        if lt is not None and (t, lt) in _LOGICAL_TYPES:
            return _arrow_long_encoder(schema, lt)
        if t == "record":
            fields = [
                (f["name"], _compile_arrow_encoder(f["type"]))
                for f in schema["fields"]
            ]

            def m_record(arr, emit):
                if isinstance(arr, pa.RecordBatch):
                    cols = dict(zip(arr.schema.names, arr.columns))
                elif pa.types.is_struct(arr.type):
                    # flatten() ANDs the struct's validity into each field
                    cols = dict(zip((f.name for f in arr.type), arr.flatten()))
                elif pa.types.is_null(arr.type):
                    cols = {}
                else:
                    raise ValueError(f"cannot encode arrow {arr.type} as avro record")
                parts = [
                    enc(cols[name] if name in cols else pa.nulls(len(arr)), emit)
                    for name, enc in fields
                ]
                lens = sum((p[0] for p in parts), np.zeros(len(arr), np.int64))

                def write(out, starts):
                    for flens, fwrite in parts:
                        fwrite(out, starts)
                        starts = starts + flens

                return lens, write

            return m_record
        if t == "array":
            return _arrow_items_encoder(
                schema, [("values", _compile_arrow_encoder(schema["items"]))]
            )
        if t == "map":
            return _arrow_items_encoder(
                schema,
                [
                    ("keys", _compile_arrow_encoder("string")),
                    ("items", _compile_arrow_encoder(schema["values"])),
                ],
            )
        return _compile_arrow_encoder(t)  # e.g. {"type": "long"} wrapper
    if schema == "null":
        return lambda arr, emit: (np.zeros(len(arr), np.int64), _no_write)
    if schema in ("int", "long"):
        return _arrow_long_encoder(schema, None)
    if schema in ("float", "double"):
        width, dtype = (4, "<f4") if schema == "float" else (8, "<f8")

        def m_real(arr, emit):
            t = arr.type
            if not pa.types.is_floating(t):
                raise ValueError(f"cannot encode arrow {t} as avro {schema}")
            v = _fixed_values(arr, t.to_pandas_dtype())
            raw = v.astype(dtype).view(np.uint8).reshape(-1, width)

            def write(out, starts):
                live = np.flatnonzero(emit)
                out[starts[live, None] + np.arange(width)] = raw[live]

            return emit * width, write

        return _leaf(schema, m_real)
    if schema == "boolean":

        def m_bool(arr, emit):
            if not pa.types.is_boolean(arr.type):
                raise ValueError(f"cannot encode arrow {arr.type} as avro boolean")
            bits = np.unpackbits(
                np.frombuffer(arr.buffers()[1], np.uint8), bitorder="little"
            )[arr.offset : arr.offset + len(arr)]

            def write(out, starts):
                out[starts[emit]] = bits[emit]

            return emit.astype(np.int64), write

        return _leaf(schema, m_bool)
    if schema in ("bytes", "string"):
        accept = (
            (pa.types.is_string, pa.types.is_large_string)
            if schema == "string"
            else (pa.types.is_binary, pa.types.is_large_binary)
        )

        def m_sized(arr, emit):
            t = arr.type
            if not any(ok(t) for ok in accept):
                raise ValueError(f"cannot encode arrow {t} as avro {schema}")
            _validity, offsets, data = arr.buffers()
            large = accept[1](t)
            off = np.frombuffer(offsets, np.int64 if large else np.int32)[
                arr.offset : arr.offset + len(arr) + 1
            ].astype(np.int64)
            data = np.frombuffer(data or b"", np.uint8)
            n = np.where(emit, np.diff(off), 0)
            u = n.astype(np.uint64) << _U1
            nlen = _varint_len(u)

            def write(out, starts):
                live = np.flatnonzero(emit)
                _put_varints(out, starts[live], u[live])
                size = n[live]
                out[_ranges(starts[live] + nlen[live], size)] = data[
                    _ranges(off[live], size)
                ]

            return np.where(emit, nlen + n, 0), write

        return _leaf(schema, m_sized)
    raise ValueError(f"unsupported avro schema: {schema!r}")


def _no_write(out: np.ndarray, starts: np.ndarray) -> None:
    pass


def _leaf(schema: Any, measure: Any):
    """A leaf encoder that emits nothing for a column nothing is emitted
    from (whatever its type: a field absent from the batch is a NULL
    column), and raises on an emitted NULL."""

    def m_leaf(arr, emit):
        if not emit.any():
            return np.zeros(len(arr), np.int64), _no_write
        if arr.null_count and (_nulls(arr) & emit).any():
            raise ValueError(f"None for non-nullable avro {schema!r}")
        return measure(arr, emit)

    return m_leaf


def _arrow_long_encoder(schema: Any, logical: str | None):
    def m_long(arr, emit):
        u = _zigzag(_arrow_longs(arr, logical))
        ulen = _varint_len(u)

        def write(out, starts):
            live = np.flatnonzero(emit)
            _put_varints(out, starts[live], u[live])

        return np.where(emit, ulen, 0), write

    return _leaf(schema, m_long)


def _arrow_items_encoder(schema: dict, children: list):
    """Array (``children`` = the list's values) or map (keys, then
    values): per emitted slot, ``count, item..., 0`` when the count is
    positive and a lone ``0`` otherwise — one block, as :func:`_encode`
    writes it."""

    def m_items(arr, emit):
        t = arr.type
        if pa.types.is_null(t):  # a field absent from the batch: all empty
            return emit.astype(np.int64), _no_write
        is_map = pa.types.is_map(t)
        if is_map != (schema["type"] == "map") or not (
            is_map or pa.types.is_list(t) or pa.types.is_large_list(t)
        ):
            raise ValueError(f"cannot encode arrow {t} as avro {schema['type']}")
        off = arr.offsets.to_numpy().astype(np.int64)
        raw = np.diff(off)
        live = emit & ~_nulls(arr)
        count = np.where(live, raw, 0)
        lo, hi = int(off[0]), int(off[-1])
        item_emit = np.repeat(live, raw)
        parts = [
            enc(getattr(arr, attr).slice(lo, hi - lo), item_emit)
            for attr, enc in children
        ]
        ilens = sum((p[0] for p in parts), np.zeros(hi - lo, np.int64))
        isum = np.zeros(hi - lo + 1, np.int64)
        np.cumsum(ilens, out=isum[1:])
        rel = off - lo
        u = count.astype(np.uint64) << _U1
        clen = _varint_len(u)
        lens = np.where(
            count > 0, clen + isum[rel[1:]] - isum[rel[:-1]] + 1, 1
        ) * emit

        def write(out, starts):
            has = np.flatnonzero(count)
            _put_varints(out, starts[has], u[has])
            # each item starts after its row's count, at its offset
            # within the row's items
            item_starts = np.repeat(starts + clen - isum[rel[:-1]], raw) + isum[:-1]
            for ilen, iwrite in parts:
                iwrite(out, item_starts)
                item_starts = item_starts + ilen

        return lens, write

    return m_items


def _encode_batch(measure: Any, batch: Any) -> tuple[np.ndarray, np.ndarray]:
    """``(record bytes, row offsets)`` of an Arrow RecordBatch: row ``i``
    is ``bytes[offsets[i]:offsets[i + 1]]``."""
    n = batch.num_rows
    lens, write = measure(batch, np.ones(n, bool))
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), np.uint8)
    write(out, offsets[:-1])
    return out, offsets


def _decode(buf: BinaryIO, schema: Any) -> Any:
    if isinstance(schema, list):
        return _decode(buf, schema[_read_long(buf)])
    if isinstance(schema, dict):
        t = schema["type"]
        lt = schema.get("logicalType")
        if lt is not None and (t, lt) in _LOGICAL_TYPES:
            return _long_to_logical(lt, _read_long(buf))
        if t == "record":
            return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
        if t == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:  # spec: negative count precedes a block byte-size
                    _read_long(buf)
                    n = -n
                _check_count(n, "array block")
                out.extend(_decode(buf, schema["items"]) for _ in range(n))
        if t == "map":
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    _read_long(buf)
                    n = -n
                _check_count(n, "map block")
                for _ in range(n):
                    k = _decode(buf, "string")
                    out[k] = _decode(buf, schema["values"])
        return _decode(buf, t)
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return _struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return _struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return _read_exact(buf, _read_long(buf), "bytes")
    if schema == "string":
        return _read_exact(buf, _read_long(buf), "string").decode("utf-8")
    raise ValueError(f"unsupported avro schema: {schema!r}")


def _compile_decoder(schema: Any):
    """Schema-specialized decoder: ``dec(d: bytes, pos: int) ->
    (value, new_pos)`` producing exactly the values :func:`_decode`
    yields from the same bytes (property-pinned in tests/test_avro.py):
    the schema tree is walked once into a closure tree instead of
    re-dispatching on it per value.

    Used only where the payload is already a fully-decompressed
    in-memory block (:func:`iter_ocf_blocks_split`, and compaction's cut
    of a block on a record boundary), so stream semantics reduce to
    position arithmetic. Error/safety semantics are preserved
    node for node: truncated varints raise the same
    ``EOFError('truncated varint')``; corruption-controlled lengths are
    bounds-checked BEFORE slicing with :func:`_read_exact`'s exact
    message; array/map declared counts charge the same thread-local
    decode budget via :func:`_check_count`; a truncated boolean is
    silently False; a corrupt union index raises IndexError (normalized
    upstream) — including the reference's negative-index quirk, kept by
    using the same list indexing."""
    if isinstance(schema, list):
        branches = [_compile_decoder(s) for s in schema]
        # fused fast paths for the engine's universal ["null", prim]
        # shape: the branch index still decodes through the generic
        # varint (non-canonical encodings included), and any index
        # other than 0/1 falls back to the same list lookup (IndexError
        # on overrun, the reference's negative-index quirk preserved)
        if len(schema) == 2 and schema[0] == "null":
            if schema[1] == "string":

                def dec_nstr(d, pos):
                    idx, pos = _dec_long(d, pos)
                    if idx == 0:
                        return None, pos
                    if idx == 1:
                        b, pos = _dec_sized(d, pos, "string")
                        return b.decode("utf-8"), pos
                    return branches[idx](d, pos)

                return dec_nstr
            if schema[1] in ("int", "long"):

                def dec_nlong(d, pos):
                    idx, pos = _dec_long(d, pos)
                    if idx == 0:
                        return None, pos
                    if idx == 1:
                        u, shift = 0, 0
                        n = len(d)
                        while True:
                            if pos >= n:
                                raise EOFError("truncated varint")
                            b = d[pos]
                            pos += 1
                            u |= (b & 0x7F) << shift
                            if not (b & 0x80):
                                return (u >> 1) ^ -(u & 1), pos
                            shift += 7
                    return branches[idx](d, pos)

                return dec_nlong
            if schema[1] == "bytes":

                def dec_nbytes(d, pos):
                    idx, pos = _dec_long(d, pos)
                    if idx == 0:
                        return None, pos
                    if idx == 1:
                        return _dec_sized(d, pos, "bytes")
                    return branches[idx](d, pos)

                return dec_nbytes

        def dec_union(d, pos):
            idx, pos = _dec_long(d, pos)
            return branches[idx](d, pos)

        return dec_union
    if isinstance(schema, dict):
        t = schema["type"]
        lt = schema.get("logicalType")
        if lt is not None and (t, lt) in _LOGICAL_TYPES:
            to_logical = _long_to_logical

            def dec_logical(d, pos, _lt=lt):
                n, pos = _dec_long(d, pos)
                return to_logical(_lt, n), pos

            return dec_logical
        if t == "record":
            fields = [
                (f["name"], _compile_decoder(f["type"]))
                for f in schema["fields"]
            ]

            def dec_record(d, pos):
                out = {}
                for name, dec_f in fields:
                    out[name], pos = dec_f(d, pos)
                return out, pos

            return dec_record
        if t == "array":
            dec_item = _compile_decoder(schema["items"])

            def dec_array(d, pos):
                out = []
                while True:
                    n, pos = _dec_long(d, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:  # spec: negative count precedes byte-size
                        _, pos = _dec_long(d, pos)
                        n = -n
                    _check_count(n, "array block")
                    for _ in range(n):
                        v, pos = dec_item(d, pos)
                        out.append(v)

            return dec_array
        if t == "map":
            dec_val = _compile_decoder(schema["values"])

            def dec_map(d, pos):
                out = {}
                while True:
                    n, pos = _dec_long(d, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:
                        _, pos = _dec_long(d, pos)
                        n = -n
                    _check_count(n, "map block")
                    for _ in range(n):
                        k, pos = _dec_string(d, pos)
                        out[k], pos = dec_val(d, pos)

            return dec_map
        return _compile_decoder(t)
    if schema == "null":
        return lambda d, pos: (None, pos)
    if schema == "boolean":

        def dec_bool(d, pos):
            # slice (not index) so a truncated stream yields False like
            # BytesIO.read(1) == b"\x01" does, instead of IndexError
            return d[pos : pos + 1] == b"\x01", pos + 1

        return dec_bool
    if schema in ("int", "long"):
        return _dec_long
    if schema == "float":
        unpack_from = _struct.unpack_from

        def dec_float(d, pos):
            return unpack_from("<f", d, pos)[0], pos + 4

        return dec_float
    if schema == "double":
        unpack_from = _struct.unpack_from

        def dec_double(d, pos):
            return unpack_from("<d", d, pos)[0], pos + 8

        return dec_double
    if schema == "bytes":
        return _dec_bytes
    if schema == "string":
        return _dec_string
    raise ValueError(f"unsupported avro schema: {schema!r}")


def _dec_long(d: bytes, pos: int) -> tuple[int, int]:
    """In-memory zigzag varint — same result/error as :func:`_read_long`."""
    u, shift = 0, 0
    n = len(d)
    while True:
        if pos >= n:
            raise EOFError("truncated varint")
        b = d[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not (b & 0x80):
            return (u >> 1) ^ -(u & 1), pos
        shift += 7


def _dec_sized(d: bytes, pos: int, what: str) -> tuple[bytes, int]:
    """Length-prefixed bytes with :func:`_read_exact`'s exact
    corruption errors — the slice is taken only AFTER the declared
    length is proven to fit the remaining real bytes."""
    ln, pos = _dec_long(d, pos)
    if ln < 0:
        raise ValueError(f"corrupt negative declared {what} length {ln}")
    if pos + ln > len(d):
        raise ValueError(
            f"corrupt declared {what} length {ln}: only {len(d) - pos} "
            "bytes remain"
        )
    return d[pos : pos + ln], pos + ln


def _dec_bytes(d: bytes, pos: int) -> tuple[bytes, int]:
    return _dec_sized(d, pos, "bytes")


def _dec_string(d: bytes, pos: int) -> tuple[str, int]:
    b, pos = _dec_sized(d, pos, "string")
    return b.decode("utf-8"), pos


# (parsed schema, compiled decoder) cached per file header's raw
# ``avro.schema`` bytes, so a file with a known schema costs neither a
# JSON parse nor a compile (bounded cap so a pathological many-schema
# scan cannot grow the cache without limit). Callers share the parsed
# schema and must not mutate it.
_DECODER_CACHE: dict[bytes, tuple[Any, Any]] = {}


def _decoder_for(schema_json: bytes) -> tuple[Any, Any]:
    hit = _DECODER_CACHE.get(schema_json)
    if hit is None:
        if len(_DECODER_CACHE) >= 64:
            _DECODER_CACHE.clear()
        schema = json.loads(schema_json)
        hit = _DECODER_CACHE[schema_json] = (schema, _compile_decoder(schema))
    return hit


# ---------------------------------------------------------------------------
# reader-writer schema resolution (spec: "Schema Resolution")

_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def _norm(s: Any) -> Any:
    """``{"type": "long"}`` wrapper (no annotations) → ``"long"``."""
    if isinstance(s, dict) and set(s) == {"type"} and isinstance(s["type"], str):
        return s["type"]
    return s


def _default_value(s: Any, d: Any) -> Any:
    """Materialize a reader field's JSON default per the spec (bytes
    defaults are latin-1 strings; union defaults match the FIRST branch)."""
    s = _norm(s)
    if isinstance(s, list):
        s = _norm(s[0])
    if s == "null":
        return None
    if isinstance(s, dict):
        t = s["type"]
        lt = s.get("logicalType")
        if lt is not None and (t, lt) in _LOGICAL_TYPES:
            return _long_to_logical(lt, int(d))
        if t == "record":
            return {
                f["name"]: _default_value(
                    f["type"], (d or {}).get(f["name"], f.get("default"))
                )
                for f in s["fields"]
            }
        if t == "array":
            return [_default_value(s["items"], x) for x in (d or [])]
        if t == "map":
            return {k: _default_value(s["values"], x) for k, x in (d or {}).items()}
        return _default_value(t, d)
    if s == "bytes":
        return d.encode("latin-1") if isinstance(d, str) else bytes(d)
    if s in ("float", "double"):
        return float(d)
    if s in ("int", "long"):
        return int(d)
    return d


def resolve_record(wschema: Any, rschema: Any, v: Any) -> Any:
    """Adapt one decoded value tree from the writer's schema to the
    reader's: field add-with-default / drop / reorder, numeric
    promotions, string↔bytes, nullability widening, logical-type
    (re)interpretation. Structural matching (record names/aliases are
    not consulted — the codec never writes name-discriminated unions)."""
    w, r = _norm(wschema), _norm(rschema)
    if w == r:
        return v
    wu, ru = isinstance(w, list), isinstance(r, list)
    if wu or ru:
        wb = next((b for b in w if b != "null"), "null") if wu else w
        rb = next((b for b in r if b != "null"), "null") if ru else r
        if v is None:
            if ru or r == "null":
                return None
            raise ValueError(
                "schema resolution: null value for non-nullable reader type"
            )
        return resolve_record(wb, rb, v)
    wd, rd = isinstance(w, dict), isinstance(r, dict)
    wt = w["type"] if wd else w
    rt = r["type"] if rd else r
    wl = w.get("logicalType") if wd else None
    rl = r.get("logicalType") if rd else None
    if wl is not None or rl is not None:
        phys = _logical_to_long(wl, v) if wl is not None else v
        if rl is not None:
            if wl is not None:
                # re-count the instant in the reader's unit: the writer's
                # long is in ITS unit (millis read as micros is 1000x off)
                phys = _logical_to_long(rl, _long_to_logical(wl, phys))
            return _long_to_logical(rl, int(phys))
        return resolve_record(wt, rt, phys)
    if wt == "record" and rt == "record":
        wmap = {f["name"]: f for f in w["fields"]}
        out = {}
        for f in r["fields"]:
            name = f["name"]
            ftype = f["type"]
            if name in wmap:
                out[name] = resolve_record(wmap[name]["type"], ftype, (v or {}).get(name))
            elif "default" in f:
                out[name] = _default_value(ftype, f["default"])
            elif isinstance(ftype, list) and "null" in ftype:
                # nullable reader field with no declared default: null —
                # the Spark new-column semantics a .schema() caller expects
                out[name] = None
            else:
                raise ValueError(
                    f"schema resolution: reader field {name!r} absent from "
                    "writer schema and has no default"
                )
        return out
    if wt == "array" and rt == "array":
        return [resolve_record(w["items"], r["items"], it) for it in (v or [])]
    if wt == "map" and rt == "map":
        return {
            k: resolve_record(w["values"], r["values"], x)
            for k, x in (v or {}).items()
        }
    if (wt, rt) in _PROMOTIONS:
        if rt in ("float", "double"):
            return float(v)
        if rt == "long":
            return int(v)
        if rt == "bytes":
            return v.encode("utf-8") if isinstance(v, str) else bytes(v)
        return bytes(v).decode("utf-8")
    raise ValueError(f"schema resolution: cannot read {wt!r} as {rt!r}")


# ---------------------------------------------------------------------------
# block codecs (spec: "Required Codecs" / "Optional Codecs")

# a data block decompressing past this is corruption or a bomb, not data
# (writers batch far below it)
_MAX_BLOCK = 2**31


def _deflate_compress(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw: no zlib header
    return co.compress(data) + co.flush()


def _snappy_compress(data: bytes) -> bytes:
    # the snappy block, then the big-endian CRC32 of the uncompressed data
    crc = _struct.pack(">I", zlib.crc32(data))
    return pa.compress(data, codec="snappy", asbytes=True) + crc


def _snappy_decompress(data: bytes) -> bytes:
    if len(data) < 4:
        raise ValueError("truncated snappy block")
    body, (crc,) = data[:-4], _struct.unpack(">I", data[-4:])
    # the block's varint length prefix: pyarrow allocates that many
    # bytes up front, so bound it first. A 3-byte copy tag emits at most
    # 64 bytes, so n valid bytes decode to fewer than 22*n.
    declared = 0
    for i, b in enumerate(body[:5]):
        declared |= (b & 0x7F) << (7 * i)
        if b < 0x80:
            break
    else:
        raise ValueError("truncated snappy length header")
    if declared >= 22 * len(body):
        raise ValueError(
            f"snappy block of {len(body)} bytes declares {declared} "
            "(corrupt or a bomb)"
        )
    out = pa.decompress(body, declared, codec="snappy", asbytes=True)
    if zlib.crc32(out) != crc:
        raise ValueError("snappy block CRC mismatch")
    return out


def _zstd_compress(data: bytes) -> bytes:
    # level 3, zstd's default; the frame declares its content size
    return pa.Codec("zstd", 3).compress(data, asbytes=True)


def _zstd_decompress(data: bytes) -> bytes:
    # streamed, so frames of unknown content size (avro-java's) decode
    # too, and memory grows only with what the frame really yields
    if not data:
        raise ValueError("not a zstd frame (empty block)")
    parts, total = [], 0
    with pa.CompressedInputStream(pa.BufferReader(data), "zstd") as stream:
        while chunk := stream.read(1 << 20):
            total += len(chunk)
            if total > _MAX_BLOCK:
                raise ValueError(
                    f"frame exceeds the {_MAX_BLOCK}-byte block cap "
                    "(corrupt or a bomb)"
                )
            parts.append(chunk)
    return b"".join(parts)


def _identity(data: bytes) -> bytes:
    return data


# ``avro.codec`` name -> (compress, decompress) of one block's bytes.
# Plain functions only: avro_io ships to workers pickle-by-value, and a
# ``pa.Codec`` does not pickle.
_CODECS = {
    "null": (_identity, _identity),
    "deflate": (
        _deflate_compress, lambda b: zlib.decompressobj(-15).decompress(b)
    ),
    "snappy": (_snappy_compress, _snappy_decompress),
    "bzip2": (bz2.compress, bz2.decompress),
    "xz": (
        partial(_lzma.compress, format=_lzma.FORMAT_XZ),
        partial(_lzma.decompress, format=_lzma.FORMAT_XZ),
    ),
    "zstandard": (_zstd_compress, _zstd_decompress),
}


def _check_codec(codec: str) -> None:
    """Raise before anything is written (or an overwrite deletes)."""
    if codec not in _CODECS:
        raise ValueError(
            f"unsupported codec {codec!r} (expected one of {', '.join(_CODECS)})"
        )


def _decompress_block(codec: str, payload: bytes, path: str) -> bytes:
    """One block's payload decoded by the file's codec. Corrupt data
    raises ``ValueError("corrupt <codec> block in <path>: ...")``; the
    call is in memory, so an ``OSError`` here (pyarrow's and bz2's report
    of corrupt data) is never an I/O failure."""
    if codec not in _CODECS:
        raise ValueError(f"unsupported avro codec {codec!r} in {path}")
    try:
        return _CODECS[codec][1](payload)
    except (OSError, ValueError, zlib.error, _lzma.LZMAError) as e:
        raise ValueError(f"corrupt {codec} block in {path}: {e}") from e


# ---------------------------------------------------------------------------
# object container files (spec: "Object Container Files")


class _SchemaCode:
    """What writing one schema needs, each built on first use: the
    container header per codec and the Arrow column encoder."""

    def __init__(self, schema: Any):
        self.schema = schema
        self._headers: dict[str, bytes] = {}
        self._columns = None

    def header(self, codec: str) -> bytes:
        """The container header up to its sync marker."""
        if codec not in self._headers:
            out = io.BytesIO()
            out.write(MAGIC)
            meta = {
                "avro.schema": json.dumps(self.schema).encode(),
                "avro.codec": codec.encode(),
            }
            _write_long(out, len(meta))
            for k, val in meta.items():
                _encode(out, "string", k)
                _encode(out, "bytes", val)
            _write_long(out, 0)
            self._headers[codec] = out.getvalue()
        return self._headers[codec]

    def columns(self):
        if self._columns is None:
            self._columns = _compile_arrow_encoder(self.schema)
        return self._columns


# :class:`_SchemaCode` per schema OBJECT (keyed by id, hit only while the
# same object is passed), so a task writing many files, or compacting
# many windows, serializes and compiles its schema once. Callers must
# not mutate a schema they have written with.
_SCHEMA_CODE: dict[int, _SchemaCode] = {}


def _schema_code(schema: Any) -> _SchemaCode:
    hit = _SCHEMA_CODE.get(id(schema))
    if hit is None or hit.schema is not schema:
        if len(_SCHEMA_CODE) >= 64:
            _SCHEMA_CODE.clear()
        hit = _SCHEMA_CODE[id(schema)] = _SchemaCode(schema)
    return hit


class OCFWriter:
    """Streaming OCF writer: header once, then one data block per
    :meth:`append` (dict records, each encoded by :func:`_encode`) or
    :meth:`write_block` (records already encoded, as the Arrow write path
    and compaction produce them) — memory stays bounded by a single block
    regardless of file size. The header comes from :func:`_schema_code`,
    so opening a file serializes nothing for a schema already written."""

    def __init__(
        self,
        fh: BinaryIO,
        schema: dict,
        codec: str = "deflate",
        sync: bytes | None = None,
    ):
        _check_codec(codec)
        self._fh = fh
        self._code = _schema_code(schema)
        self._compress = _CODECS[codec][0]
        # Random per-file sync marker, as the spec recommends: a
        # deterministic marker (pre-r5 this was md5(schema|codec)) meant a
        # payload that happened to CONTAIN those 16 bytes — e.g.
        # re-ingesting an engine-written .avro as a BinaryType column —
        # made the split scanner seek to a false sync and refuse the file.
        # With per-file randomness an embedded foreign marker is just data.
        if sync is not None:
            if len(sync) != 16:
                raise ValueError("sync marker must be exactly 16 bytes")
            self.sync = sync
        else:
            self.sync = os.urandom(16)
        fh.write(self._code.header(codec) + self.sync)
        self.n_records = 0

    def append(self, records: Iterable[dict]) -> int:
        out, n = io.BytesIO(), 0
        for r in records:
            _encode(out, self._code.schema, r)
            n += 1
        if n:
            self.write_block(n, out.getvalue())
        return n

    def write_block(self, n: int, payload: bytes) -> None:
        """One data block of ``n`` records that ``payload`` holds already
        encoded in this file's schema, compressed with its codec."""
        payload = self._compress(payload)
        out = io.BytesIO()
        _write_long(out, n)
        _write_long(out, len(payload))
        out.write(payload)
        out.write(self.sync)
        self._fh.write(out.getbuffer())
        self.n_records += n


def write_ocf(path: str, schema: dict, records: Iterable[dict], codec: str = "deflate") -> int:
    """Write ``records`` as one OCF file at the local ``path``. The header
    goes out before the first record encodes, so on any error the partial
    file is removed before the error propagates: a failed write must not
    leave a readable container that reads back as "no rows"."""
    with open(path, "wb") as fh:
        try:
            return OCFWriter(fh, schema, codec).append(records)
        except BaseException:
            os.remove(path)
            raise


# ---------------------------------------------------------------------------
# Paths: every read/write API takes a plain local path or a URI (hdfs://,
# s3a://, gs://, file://, ...). Every list, stat, mkdir, rename and delete
# goes through ``pyarrow.fs``, resolved per scheme by :func:`_pafs_resolve`
# (the DataSource planner process has no JVM to list through Hadoop).
# Only byte I/O on a plain path uses the builtin ``open``: the varint
# decoder reads one byte at a time, and a buffered builtin file serves a
# ``read(1)`` in ~0.05 us against ~0.8 us for a pyarrow local file
# (measured on a 4-vCPU x86 host).


def _split_scheme(path: str) -> tuple[str | None, str]:
    """``(scheme, rest-after-'://')`` — ``(None, path)`` for plain local
    paths. A bare ``scheme:`` prefix without ``//`` is treated as local."""
    i = path.find("://")
    if i <= 0:
        return None, path
    return path[:i], path[i + 3 :]


# Hadoop URI spellings → the pyarrow.fs module's scheme names
_PAFS_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}
# (scheme, authority) → (FileSystem, drop_authority_from_internal_path);
# plain local paths resolve under (None, "")
_PAFS_CACHE: dict[tuple[str | None, str], tuple[Any, bool]] = {}


def _pafs_resolve(path: str):
    """``(pyarrow.fs.FileSystem, fs-internal path)`` for a plain path
    (one cached ``LocalFileSystem``; the path is used as is) or a URI,
    resolved per scheme via ``pyarrow.fs.FileSystem.from_uri`` and cached
    per (scheme, authority) so an executor task resolves each store once
    (S3 credential-chain construction per file would dominate small
    reads). Object-store internal paths keep the bucket (``s3`` →
    ``bucket/key``); host-addressed schemes drop the authority (``hdfs``
    → ``/path``) — learned from the first resolution, not hardcoded.
    Unknown schemes raise pyarrow's own loud error."""
    scheme, rest = _split_scheme(path)
    if scheme is None:
        ent = _PAFS_CACHE.get((None, ""))
        if ent is None:
            from pyarrow.fs import LocalFileSystem

            ent = _PAFS_CACHE[(None, "")] = (LocalFileSystem(), False)
        return ent[0], path
    scheme = _PAFS_SCHEME_ALIASES.get(scheme, scheme)
    authority = "" if rest.startswith("/") else rest.split("/", 1)[0]
    key = (scheme, authority)
    ent = _PAFS_CACHE.get(key)
    if ent is None:
        from pyarrow.fs import FileSystem

        fs, internal = FileSystem.from_uri(f"{scheme}://{rest}")
        drop_auth = bool(authority) and not internal.startswith(authority)
        _PAFS_CACHE[key] = (fs, drop_auth)
        return fs, internal
    fs, drop_auth = ent
    return fs, (rest[len(authority) :] if drop_auth else rest)


def _is_local(path: str) -> bool:
    return _split_scheme(path)[0] is None


def _fs_open(path: str):
    """Seekable binary reader for a local path or URI. pyarrow
    ``NativeFile`` supports read/seek(whence)/tell and the
    context-manager protocol — everything the block iterator uses."""
    if _is_local(path):
        return open(path, "rb")
    fs, internal = _pafs_resolve(path)
    return fs.open_input_file(internal)


def _fs_size(path: str) -> int:
    """Byte size of ``path``; 0 when it is gone (a read of it then fails
    on open, naming the file)."""
    fs, internal = _pafs_resolve(path)
    return fs.get_file_info(internal).size or 0


def _fs_makedirs(path: str) -> None:
    fs, internal = _pafs_resolve(path)
    fs.create_dir(internal, recursive=True)


def _fs_rename(src: str, dst: str) -> None:
    """Move ``src`` onto ``dst``, replacing it. An atomic rename on
    renaming filesystems (local, HDFS); object stores implement the
    move as copy+delete, so visibility there must be gated by a
    manifest commit (operators/manifest.py), not by file presence."""
    fs, src_int = _pafs_resolve(src)
    fs.move(src_int, _pafs_resolve(dst)[1])


def _fs_delete_dir(path: str) -> None:
    """Remove the directory tree at ``path``; a missing one is fine."""
    fs, internal = _pafs_resolve(path)
    try:
        fs.delete_dir(internal)
    except FileNotFoundError:
        pass


# ---------------------------------------------------------------------------
# Dataset layout: flat ``{path}/*.avro`` or hive-partitioned
# ``{path}/{col}={value}/*.avro``. A NULL partition value lives in Hive's
# default-partition directory; ``_SUCCESS`` (written by the DataSource's
# commit) names the committed files when present.

NULL_PARTITION_DIR = "__HIVE_DEFAULT_PARTITION__"
MANIFEST = "_SUCCESS"


def _partition_value(f: str, partition_type: str = "long") -> Any:
    """Partition value of data file ``f`` from its ``{col}={value}``
    parent directory name."""
    raw = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
    if raw == NULL_PARTITION_DIR:
        return None
    return int(raw) if partition_type == "long" else raw


def _partition_dirs(path: str, partition_col: str) -> list[str]:
    """Names of the ``{partition_col}=*`` directories directly under the
    dataset root ``path`` — one directory-name listing, no file listing.
    Raises FileNotFoundError when ``path`` does not exist."""
    from pyarrow import fs as pafs

    fs, root = _pafs_resolve(path)
    return [
        i.base_name
        for i in fs.get_file_info(pafs.FileSelector(root))
        if i.type == pafs.FileType.Directory
        and i.base_name.startswith(f"{partition_col}=")
    ]


def _manifest_paths(path: str) -> set[str] | None:
    """Committed file set (dataset-relative) from the manifest, or None
    when no manifest exists (e.g. a rotated-sink drop dir — the listing
    is the contract there). ONLY a missing manifest (FileNotFoundError)
    means "no manifest" — a transient network/credential failure on the
    open or the read must RAISE, because silently widening the read to
    the raw listing would re-admit exactly the failed-attempt orphans
    the manifest exists to exclude. Unparseable CONTENT keeps the
    documented legacy-fallback (corrupt-on-disk is a layout vintage, not
    a transient)."""
    try:
        fh = _fs_open(path.rstrip("/") + "/" + MANIFEST)
    except FileNotFoundError:
        return None  # no manifest committed — the listing is the contract
    try:
        with fh:
            entries = json.load(fh)
        return {e["path"] for e in entries}
    except (ValueError, KeyError, TypeError):
        return None  # unparseable/legacy manifest — fall back to listing


def _list_dataset(
    path: str,
    partition_col: str | None = None,
    partition_type: str = "long",
    partition_values=None,
    use_manifest: bool = True,
) -> list[tuple[str, Any, int]]:
    """The dataset file lister: sorted ``(file, partition value, size)``
    triples of the ``*.avro`` files under ``path``, listed through
    ``pyarrow.fs`` and spelled in the caller's path space (a plain path
    or ``s3a://bucket/dir/...``) so executor opens re-resolve through
    :func:`_pafs_resolve`. Sizes ride the listing so task sizing never
    re-stats files (one metadata round-trip per file matters on remote
    stores). ``partition_values`` lists only those partition
    directories, so a pruned range read never lists the files of other
    windows.

    A commit manifest, when present, restricts the listing — a failed
    task attempt's orphan (its commit message never reached commit(),
    so abort() cannot know its path) must not be read back as duplicate
    or truncated data. The STREAM reader passes ``use_manifest=False``:
    a drop directory's producer is the rotated sink, which appends files
    without touching any manifest — filtering by a stale manifest would
    freeze the stream at whatever the last batch job committed."""
    from pyarrow import fs as pafs

    fs, root = _pafs_resolve(path)
    root, base = root.rstrip("/"), path.rstrip("/")
    if partition_col and partition_values is not None:
        dirs = [f"/{partition_col}={v}" for v in partition_values]
    elif partition_col:
        dirs = [f"/{d}" for d in _partition_dirs(path, partition_col)]
    else:
        dirs = [""]
    listed: list[tuple[str, int]] = []
    for d in dirs:
        try:
            infos = fs.get_file_info(pafs.FileSelector(root + d))
        except FileNotFoundError:
            continue  # absent partition dir == no files
        listed.extend(
            (f"{base}{d}/{i.base_name}", i.size)
            for i in infos
            if i.type == pafs.FileType.File and i.base_name.endswith(".avro")
        )
    out = [
        (f, _partition_value(f, partition_type) if partition_col else None, sz)
        for f, sz in sorted(listed)
    ]
    committed = _manifest_paths(path) if use_manifest else None
    if committed is not None:
        # Manifest entries are dataset-relative today, but earlier writer
        # versions recorded ABSOLUTE paths — membership is tested on the
        # layout-depth suffix (1 component flat, 2 hive-partitioned) so
        # both vintages keep reading after a dataset move. Depth-exact
        # matching (not bare basenames) keeps a committed file in one
        # hive partition from vouching for a same-named orphan in another.
        depth = 2 if partition_col else 1

        def _suffix(p: str) -> str:
            return "/".join(p.replace(os.sep, "/").split("/")[-depth:])

        committed_sfx = {_suffix(e) for e in committed}
        kept = [
            fp
            for fp in out
            if _suffix(os.path.relpath(fp[0], path)) in committed_sfx
        ]
        # A manifest matching NOTHING is foreign to this layout (e.g. a
        # renamed partition scheme): zeroing out the dataset would be a
        # silent data loss, so fall back to the full listing instead.
        out = kept if kept or not out else out
    return out


def _read_meta(fh: BinaryIO) -> tuple[dict, bytes]:
    if fh.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(fh)
        if n == 0:
            break
        if n < 0:
            _read_long(fh)
            n = -n
        _check_count(n, "metadata")
        for _ in range(n):
            k = _decode(fh, "string")
            meta[k] = _decode(fh, "bytes")
    return meta, fh.read(16)


def read_ocf_header(path: str) -> dict:
    """Schema (parsed JSON) from the file's own metadata — self-describing.
    ``path`` may be local or a URI (:func:`_fs_open`)."""
    try:
        with _fs_open(path) as fh:
            meta, _ = _read_meta(fh)
        key = b"avro.schema" if b"avro.schema" in meta else "avro.schema"
        return json.loads(meta[key])
    except (EOFError, IndexError, KeyError, OverflowError, UnicodeDecodeError) as e:
        raise ValueError(
            f"corrupt avro container header {path}: {type(e).__name__}: {e}"
        ) from e
    except ValueError as e:  # bad magic, corrupt metadata count
        if path in str(e):
            raise
        raise ValueError(f"{e} in {path}") from e


def _scan_sync(fh: BinaryIO, sync: bytes, start: int, end: float) -> int | None:
    """Byte offset of the first sync-marker occurrence starting in
    ``[start, end)``, or None. Chunked forward scan with a 15-byte
    overlap so a marker straddling a chunk boundary is still found —
    the same seek-to-next-sync primitive Hadoop's AvroRecordReader uses
    to make byte-range splits line up on block boundaries."""
    fh.seek(start)
    base = start
    buf = b""
    while True:
        chunk = fh.read(1 << 20)
        if not chunk:
            return None
        buf += chunk
        idx = buf.find(sync)
        if idx != -1:
            off = base + idx
            return off if off < end else None
        if len(buf) > 15:
            base += len(buf) - 15
            buf = buf[-15:]
        if base >= end:
            return None


# Raw exception types a corrupt container surfaces through the binary
# decoder (fuzz-derived): zigzag reads off the end (EOFError), truncated
# struct/union indices (IndexError), missing meta keys or bad union
# branches (KeyError), mangled deflate streams (zlib.error), and
# pathological varint shifts (OverflowError). MemoryError is
# deliberately NOT here (r6 ADVICE): every corruption-controlled size is
# bounded before allocation (_read_exact chunks, _check_count +
# _charge_items budget), so a MemoryError during decode means GENUINE
# executor memory pressure — normalizing it into the 'corrupt file'
# ValueError would let a transient OOM permanently quarantine a healthy
# file, the same misclassification argument that excludes OSError below.
# Corrupt bzip2, snappy and zstandard payloads raise OSError (stdlib bz2,
# pyarrow) — normalized AT THE DECOMPRESS CALL SITE only
# (:func:`_decompress_block`, r5 ADVICE), deliberately
# NOT listed here: a blanket OSError entry would misclassify genuine
# transient I/O failures (EIO on flaky storage, network filesystems) as
# data corruption and permanently quarantine healthy files. xz's
# lzma.LZMAError is corruption-specific, so it is safe as a belt.
_CORRUPT_ERRORS = (
    EOFError,
    IndexError,
    KeyError,
    _struct.error,
    zlib.error,
    OverflowError,
    _lzma.LZMAError,
)


@contextmanager
def _names_file(path: str) -> Iterator[None]:
    """Corruption normalizing for everything read from ``path``: any
    corrupt-data exception class becomes ``ValueError`` naming the file,
    and every ValueError names it too, so callers (and executors at
    100 TB) see one failure mode that says which file failed."""
    try:
        yield
    except _CORRUPT_ERRORS as e:
        raise ValueError(
            f"corrupt avro container {path}: {type(e).__name__}: {e}"
        ) from e
    except ValueError as e:
        # the decoder's own errors (_read_exact, _check_count) cannot
        # know the file; the codec and sync-marker ones already say it
        if path in str(e):
            raise
        raise ValueError(f"{e} in {path}") from e


def iter_ocf_blocks_split(
    path: str, start: int, end: float, reader_schema: Any = None
) -> Iterator[tuple[dict, list[dict]]]:
    """Stream the data blocks of the byte-range split ``[start, end)`` as
    ``(writer schema, records)``, resolved against ``reader_schema`` when
    it differs (spec Schema Resolution). The blocks are those
    :func:`_iter_ocf_payloads` owns; each payload must hold exactly its
    declared records — bytes after the last one are corruption. Errors
    name the file (:func:`_names_file`)."""
    with _names_file(path):
        for schema, dec, n, payload in _iter_ocf_payloads(path, start, end):
            yield schema, _block_records(schema, dec, n, payload, reader_schema)


def _block_records(
    schema: Any, dec: Any, n: int, payload: bytes, reader_schema: Any
) -> list:
    """The ``n`` records of a decompressed block payload, which must hold
    exactly them, resolved against ``reader_schema`` when it is given
    and differs from the writer's ``schema``."""
    block, pos = _decode_records(dec, payload, n)
    if pos != len(payload):
        raise ValueError(
            f"corrupt block: {len(payload) - pos} bytes after its {n} "
            "declared records"
        )
    if reader_schema is not None and reader_schema != schema:
        # evolved reader over an old file: adapt per the spec's Schema
        # Resolution rules (identical schemas skip this)
        block = [resolve_record(schema, reader_schema, r) for r in block]
    return block


def _decode_records(dec: Any, payload: bytes, n: int) -> tuple[list, int]:
    """The first ``n`` records of a decompressed block payload and the
    position after them."""
    # arm the cumulative item budget for THIS payload: declared counts
    # (records + every array/map block inside them) may sum to at most
    # ratio×payload-bytes + slack, so a crafted stream of repeated
    # max-count zero-byte-item blocks fails fast with the uniform corrupt
    # ValueError instead of growing lists until process memory is the
    # stop (r6 ADVICE)
    _DECODE_BUDGET.remaining = _BUDGET_BYTES_RATIO * len(payload) + _BUDGET_SLACK
    try:
        _charge_items(n, "block record")
        pos = 0
        block = []
        for _ in range(n):
            r, pos = dec(payload, pos)
            block.append(r)
    finally:
        _DECODE_BUDGET.remaining = None
    return block, pos


def _iter_ocf_payloads(
    path: str, start: int, end: float
) -> Iterator[tuple[Any, Any, int, bytes]]:
    """The raw block walk of the byte-range split ``[start, end)``:
    ``(writer schema, its compiled decoder, record count, decompressed
    payload)`` per owned block, records left encoded. Raise errors
    unnamed; callers wrap the walk in :func:`_names_file`.

    Split ownership follows the Avro/Hadoop convention: a block belongs
    to the split whose range contains the START of its PRECEDING sync
    marker (the header's trailing sync precedes block 0). Each split
    scans forward from ``start`` to the first sync in range and reads
    whole blocks from there, running past ``end`` to finish the last
    owned block — so N splits over one file partition the block set
    exactly, with no block read twice and none dropped, regardless of
    where the byte boundaries fall.

    This is what makes a single multi-GB rotated file (the reference's
    ``--rotationtime`` × ingest-rate sizing, AvroWriter.java:45-49)
    parallelize across executors instead of single-threading one task.
    Memory stays bounded by one block (the writer's own granularity).
    ``path`` may be local or a URI (:func:`_fs_open`).
    """
    with _fs_open(path) as fh:
        meta, sync = _read_meta(fh)
        # schema-specialized in-memory decoder (bit-identical values +
        # identical corruption errors — _compile_decoder), cached per
        # header schema text
        schema, dec = _decoder_for(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        header_sync_pos = fh.tell() - 16
        if start <= header_sync_pos:
            sync_pos: int | None = header_sync_pos
        else:
            sync_pos = _scan_sync(fh, sync, start, end)
        while sync_pos is not None and sync_pos < end:
            fh.seek(sync_pos + 16)
            probe = fh.read(1)
            if not probe:
                return  # clean EOF: file ends on a sync marker
            fh.seek(-1, os.SEEK_CUR)
            n = _check_count(_read_long(fh), "block record")
            size = _read_long(fh)
            payload = _read_exact(fh, size, "block payload")
            payload = _decompress_block(codec, payload, path)
            if fh.read(16) != sync:
                raise ValueError(f"sync marker mismatch in {path}")
            yield schema, dec, n, payload
            sync_pos = fh.tell() - 16


def read_ocf(path: str, reader_schema: Any = None) -> tuple[dict, list[dict]]:
    """Decode a whole container file → (schema, records) — resolved to
    ``reader_schema`` when given (spec Schema Resolution). Convenience
    for small files; scale paths should consume
    :func:`iter_ocf_blocks_split`."""
    schema = read_ocf_header(path)
    records: list[dict] = []
    for _, block in iter_ocf_blocks_split(path, 0, float("inf"), reader_schema):
        records.extend(block)
    return schema, records


# ---------------------------------------------------------------------------
# Spark schema ↔ Avro schema


_PRIMITIVES: list[tuple[type, str]] = [
    (T.LongType, "long"),
    (T.IntegerType, "int"),
    (T.ShortType, "int"),
    (T.ByteType, "int"),
    (T.DoubleType, "double"),
    (T.FloatType, "float"),
    (T.StringType, "string"),
    (T.BinaryType, "bytes"),
    (T.BooleanType, "boolean"),
]


def spark_to_avro_schema(st: T.StructType, name: str = "Record") -> dict:
    """StructType → Avro record schema (nullable fields become
    ``["null", T]`` unions, mirroring the reference's BQRow.avsc unions)."""

    def conv(dt: T.DataType, path: str) -> Any:
        if isinstance(dt, T.StructType):
            return {
                "type": "record",
                "name": path,
                "fields": [
                    {
                        "name": f.name,
                        "type": _nullable(
                            conv(f.dataType, f"{path}_{f.name}"), f.nullable
                        ),
                    }
                    for f in dt.fields
                ],
            }
        if isinstance(dt, T.ArrayType):
            return {
                "type": "array",
                "items": _nullable(
                    conv(dt.elementType, f"{path}_item"), dt.containsNull
                ),
            }
        if isinstance(dt, T.MapType):
            return {
                "type": "map",
                "values": _nullable(
                    conv(dt.valueType, f"{path}_value"), dt.valueContainsNull
                ),
            }
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.TimestampNTZType):
            return {"type": "long", "logicalType": "local-timestamp-micros"}
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        for py_t, avro_t in _PRIMITIVES:
            if isinstance(dt, py_t):
                return avro_t
        raise ValueError(f"unsupported spark type for avro: {dt}")

    def _nullable(s: Any, nullable: bool) -> Any:
        return ["null", s] if nullable else s

    return conv(st, name)


def avro_to_spark_schema(schema: dict) -> T.StructType:
    """Inverse mapping (top level must be a record) — lets readers recover
    the Spark schema from the file header alone."""
    back = {v: k for k, v in _PRIMITIVES if v != "int"}
    back["int"] = T.IntegerType

    def conv(s: Any) -> tuple[T.DataType, bool]:
        if isinstance(s, list):
            branch = next(b for b in s if b != "null")
            dt, _ = conv(branch)
            return dt, True
        if isinstance(s, dict):
            t = s["type"]
            lt = s.get("logicalType")
            if lt is not None and (t, lt) in _LOGICAL_TYPES:
                if lt.startswith("local-timestamp"):
                    return T.TimestampNTZType(), False
                if lt.startswith("timestamp"):
                    return T.TimestampType(), False
                return T.DateType(), False
            if t == "record":
                fields = []
                for f in s["fields"]:
                    dt, nullable = conv(f["type"])
                    fields.append(T.StructField(f["name"], dt, nullable))
                return T.StructType(fields), False
            if t == "array":
                dt, n = conv(s["items"])
                return T.ArrayType(dt, n), False
            if t == "map":
                dt, n = conv(s["values"])
                return T.MapType(T.StringType(), dt, n), False
            return conv(t)
        if s in back:
            return back[s](), False
        raise ValueError(f"unsupported avro type: {s}")

    dt, _ = conv(schema)
    if not isinstance(dt, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    return dt


# ---------------------------------------------------------------------------
# distributed write / read (mapInArrow — no shuffle, no pandas mangling)


class _TaskFiles:
    """One task's output files: one container file per partition value
    (``{path}/{partition_col}={value}/{file_name}``, a NULL value in
    :data:`NULL_PARTITION_DIR`; flat ``{path}/{file_name}`` without a
    partition column), opened on its first block.

    Each attempt writes to a private ``.tmp-{taskAttemptId}`` file and
    renames it onto the final name in :meth:`close` (:func:`_fs_rename`),
    so a speculative or zombie duplicate attempt can never interleave
    bytes into the winner's file — last complete attempt wins — and the
    lister's ``*.avro`` glob never sees a half-written file."""

    def __init__(
        self,
        path: str,
        partition_col: str | None,
        avro_schema: dict,
        codec: str,
        file_name: str,
    ):
        from pyspark import TaskContext

        self._attempt = TaskContext.get().taskAttemptId()
        self._path, self._pcol, self._file_name = path, partition_col, file_name
        self._schema, self._codec = avro_schema, codec
        self._open: dict[Any, tuple[Any, OCFWriter, str, str]] = {}

    def writer(self, key: Any) -> OCFWriter:
        if key not in self._open:
            d = self._path
            if self._pcol:
                dname = NULL_PARTITION_DIR if key is None else key
                d = os.path.join(self._path, f"{self._pcol}={dname}")
            _fs_makedirs(d)
            fpath = os.path.join(d, self._file_name)
            tmp = f"{fpath}.tmp-{self._attempt}"
            if _is_local(tmp):
                fh = open(tmp, "wb")
            else:
                fs, tmp_int = _pafs_resolve(tmp)
                fh = fs.open_output_stream(tmp_int, compression=None)
            self._open[key] = (fh, OCFWriter(fh, self._schema, self._codec), fpath, tmp)
        return self._open[key][1]

    def close(self) -> list[tuple[Any, str, int]]:
        """Rename every file into place; ``[(partition value, path,
        n_records)]`` in the order the files were opened."""
        out = []
        for key, (fh, w, fpath, tmp) in self._open.items():
            fh.close()
            _fs_rename(tmp, fpath)
            out.append((key, fpath, w.n_records))
        return out


def _rows_by_value(batch: Any, partition_col: str | None) -> list[tuple[Any, Any]]:
    """``(partition value, ascending row indices)`` per distinct value of
    ``partition_col`` in ``batch``, in order of first appearance; every
    row under ``None`` without a partition column."""
    if not partition_col:
        return [(None, np.arange(batch.num_rows))]
    enc = batch.column(partition_col).dictionary_encode(null_encoding="encode")
    codes = enc.indices.to_numpy()
    order = np.argsort(codes, kind="stable")
    ends = np.cumsum(np.bincount(codes, minlength=len(enc.dictionary)))
    return [
        (enc.dictionary[i].as_py(), order[ends[i] - count : ends[i]])
        for i, count in enumerate(np.diff(ends, prepend=0))
    ]


def _write_task(
    batches: Iterable[Any],
    path: str,
    partition_col: str | None,
    avro_schema: dict,
    codec: str,
    file_name: str,
) -> list[tuple[Any, str, int]]:
    """The per-task writer: the rows of the Arrow ``batches`` into one
    container file per partition value (:class:`_TaskFiles`), without the
    partition column. Each batch is encoded column-wise in one pass
    (:func:`_encode_batch`); each partition value's rows are then one OCF
    block, their record bytes gathered from the encoded batch. No Python
    object is built per row or value. Returns ``[(partition value, path,
    n_records)]``."""
    files = _TaskFiles(path, partition_col, avro_schema, codec, file_name)
    measure = _schema_code(avro_schema).columns()
    for batch in batches:
        if not batch.num_rows:
            continue
        buf, offsets = _encode_batch(measure, batch)
        for key, rows in _rows_by_value(batch, partition_col):
            starts = offsets[rows]
            if rows[-1] - rows[0] + 1 == len(rows):  # one contiguous run
                payload = buf[starts[0] : offsets[rows[-1] + 1]]
            else:
                payload = buf[_ranges(starts, offsets[rows + 1] - starts)]
            files.writer(key).write_block(len(rows), payload.tobytes())
    return files.close()


# Rows a reader task accumulates before each Arrow conversion (see
# _read_ocf_arrow).
_FLUSH_ROWS = 1000


def _read_ocf_arrow(
    splits: Iterable[tuple[str, Any, int, float]],
    arrow_schema: Any,
    partition_col: str | None = None,
    reader_schema: Any = None,
) -> Iterator[Any]:
    """The per-file reader: Arrow batches of the rows in ``splits``,
    each a ``(path, partition value, start, end)`` byte range of one
    container file, aligned on its sync markers
    (:func:`iter_ocf_blocks_split`) and resolved against
    ``reader_schema`` when given. The partition value is set on every
    row as ``partition_col``.

    Small OCF blocks are COALESCED across files up to
    :data:`_FLUSH_ROWS` rows before each Arrow conversion. A rotated
    sink yields hundreds of ~1-row files per task, and
    ``Table.from_pylist`` pays a schema-driven setup per call —
    per-block conversion cost 18.5 CPU-s to read 601 tiny windows
    (measured), the conversion, not the decode. Task memory stays
    bounded by ~one real writer block (big blocks flush at once)."""
    buf: list = []
    for path, value, start, end in splits:
        for _, block in iter_ocf_blocks_split(path, start, end, reader_schema):
            if partition_col:
                for r in block:
                    r[partition_col] = value
            buf.extend(block)
            if len(buf) >= _FLUSH_ROWS:
                yield from pa.Table.from_pylist(buf, schema=arrow_schema).to_batches()
                buf = []
    if buf:
        yield from pa.Table.from_pylist(buf, schema=arrow_schema).to_batches()


def _pack_files(
    files: list[tuple[str, Any, int]], cap_bytes: int
) -> list[list[tuple[str, Any, int, float]]]:
    """The one OCF task planner: groups of ``(file, partition value,
    start, end)`` byte-range splits for :func:`_read_ocf_arrow` and
    :func:`iter_ocf_blocks_split`, one group per task, from the sorted
    ``(file, partition value, size)`` listing (:func:`_list_dataset`).

    A file above ``cap_bytes`` is cut into ``cap_bytes`` ranges, one
    group each; the reader aligns each range on the file's sync markers,
    so one multi-GB rotated file fans out across tasks. Smaller files
    are packed whole into contiguous groups of at most ``cap_bytes``
    listed bytes, a new group opening when the next file would pass the
    cap; sorted input keeps each partition's files adjacent. A cap
    ``<= 0`` splits nothing and gives each file its own group. Callers:
    :func:`read_ocf_dataset` (``maxPartitionBytes``),
    :func:`compact_ocf_dir` (the target file size) and the ``avro_ocf``
    DataSource readers (``split_size``)."""
    groups: list[list[tuple[str, Any, int, float]]] = []
    size = None  # listed bytes in the open group; None: no open group
    for f, v, sz in files:
        if 0 < cap_bytes < sz:
            groups.extend(
                [(f, v, s, min(s + cap_bytes, sz))]
                for s in range(0, sz, cap_bytes)
            )
            size = None
            continue
        if size is None or size + sz > cap_bytes:
            groups.append([])
            size = 0
        groups[-1].append((f, v, 0, float("inf")))
        size += sz
    return groups


def _map_groups(spark: SparkSession, groups: list, fn, schema) -> DataFrame:
    """One task per group: task ``i`` yields the Arrow batches of
    ``fn(i, groups[i])``. The tasks come from ``spark.range(0, n, 1,
    n)``, a JVM-only source with one id per partition, and the group
    list rides the pickled closure — no Python task builds the list and
    no shuffle spreads it."""

    def task(batches):
        for batch in batches:
            for gid in batch.column(0).to_pylist():
                yield from fn(gid, groups[gid])

    n = len(groups)
    return spark.range(0, n, 1, n).mapInArrow(task, schema)


_MANIFEST_DDL = "partition string, path string, n_records long"


def _manifest_batches(written: list[tuple[Any, str, int]]) -> Iterator[Any]:
    """:func:`_write_task`'s result as one Arrow batch of
    :data:`_MANIFEST_DDL` rows; none when the task wrote no file."""
    if written:
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "partition": None if key is None else str(key),
                    "path": fpath,
                    "n_records": n,
                }
                for key, fpath, n in written
            ],
            schema=pa.schema(
                [
                    ("partition", pa.string()),
                    ("path", pa.string()),
                    ("n_records", pa.int64()),
                ]
            ),
        )


def write_ocf_dataset(
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
    codec: str = "deflate",
    suffix: str = "",
) -> list[dict]:
    """Write ``df`` as .avro container files, one per (task, partition
    value) — the same layout contract as ``DataFrameWriter.partitionBy``
    (``{partition_col}={value}/part-{task}{suffix}.avro``, partition column
    dropped from the records, NULL in Hive's default-partition dir).
    Returns the collected manifest [{partition, path, n_records}]; the
    collect is metadata-only.

    Files are written by :func:`_write_task` (tmp file per attempt,
    renamed when complete). The same replace semantics make re-runs
    idempotent: the rotated sink replays a failed micro-batch by
    rewriting the SAME (task, suffix) names, which is exactly the
    at-least-once → idempotent-commit contract (streaming/pipeline.py).
    A URI ``path`` writes through ``pyarrow.fs``; on object stores the
    final rename is copy+delete (:func:`_fs_rename`).
    """
    _check_codec(codec)
    data_schema = T.StructType(
        [f for f in df.schema.fields if f.name != partition_col]
    )
    avro_schema = spark_to_avro_schema(data_schema)

    def task(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        yield from _manifest_batches(
            _write_task(
                batches, path, partition_col, avro_schema, codec,
                f"part-{pid:05d}{suffix}.avro",
            )
        )

    _fs_makedirs(path)
    manifest = df.mapInArrow(task, _MANIFEST_DDL)
    return [r.asDict() for r in manifest.collect()]


def read_ocf_dataset(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    partition_values=None,
) -> DataFrame:
    """Parallel re-read of a :func:`write_ocf_dataset` layout. The Spark
    schema comes from the first file's own header (self-describing); the
    partition column is recovered from directory names as a nullable
    LONG (the rotation window id — the only partition key the sinks use;
    NULL for rows without an event time). ``partition_values`` restricts
    the read to those partition ids — only the matching directories are
    listed, so a pruned range read
    (operators/rotation.py:read_rotated_range) never lists the files of
    windows outside the probe. ``path`` may be local or a URI.

    The task count is BYTES-proportional, Spark's own scan-sizing rule:
    :func:`_pack_files` groups the listing by
    ``spark.sql.files.maxPartitionBytes``, so a pruned read of hundreds
    of tiny rotation windows is one task while a multi-GB layout (or one
    multi-GB file, cut into sync-aligned byte ranges) still fans out to
    maxPartitionBytes-sized tasks. Each group is one ``spark.range``
    task (:func:`_map_groups`) streaming its splits through
    :func:`_read_ocf_arrow`: the plan is ``MapInArrow`` over
    ``Range``, with no Python task to build the file list and no
    shuffle to spread it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if partition_values is not None and partition_col is None:
        raise ValueError("partition_values requires partition_col")
    files = _list_dataset(path, partition_col, partition_values=partition_values)
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    out_schema = avro_to_spark_schema(read_ocf_header(files[0][0]))
    if partition_col:
        out_schema = out_schema.add(partition_col, T.LongType(), True)
    arrow_schema = to_arrow_schema(out_schema)
    # Spark's own byte-string parser: '128m' is 128 MiB, not 128 bytes
    max_pb = int(
        spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    )

    def read_group(_gid, group):
        return _read_ocf_arrow(group, arrow_schema, partition_col)

    return _map_groups(spark, _pack_files(files, max_pb), read_group, out_schema)


def _compact_task(
    group: list[tuple[str, Any, int, float]],
    dst: str,
    partition_col: str | None,
    avro_schema: dict,
    arrow_schema: Any,
    codec: str,
    per_block: int | None,
    file_name: str,
) -> list[tuple[Any, str, int]]:
    """One compaction task: the records of ``group``'s splits into one
    output file per partition value (:class:`_TaskFiles`).

    Records are counted across the group in chunks of ``per_block``
    (``None``: one chunk); each chunk's records of one partition value
    become one output block, compressed once with ``codec``. A block of
    a file whose header schema equals ``avro_schema`` moves as its
    decompressed payload, records left encoded, so the output bytes are
    what decoding and re-encoding each record writes (for the engine's
    own canonical encoding). A block that straddles a chunk boundary is
    cut at the record boundary its decoder finds. A file with another
    schema is decoded, resolved to ``avro_schema``, converted to an
    ``arrow_schema`` batch and re-encoded (:func:`_encode_batch`).
    Errors name the source file."""
    files = _TaskFiles(dst, partition_col, avro_schema, codec, file_name)
    out_dec = seen = None
    pending: dict[Any, tuple[int, list[bytes]]] = {}
    room = per_block

    def flush():
        for key, (n, parts) in pending.items():
            files.writer(key).write_block(n, b"".join(parts))
        pending.clear()

    for f, v, start, end in group:
        with _names_file(f):
            for schema, dec, n, payload in _iter_ocf_payloads(f, start, end):
                if schema is not seen:
                    seen, same = schema, schema == avro_schema
                if not same:
                    rows = _block_records(schema, dec, n, payload, avro_schema)
                    batch = pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
                    measure = _schema_code(avro_schema).columns()
                    payload = _encode_batch(measure, batch)[0].tobytes()
                while n:
                    take = n if room is None else min(n, room)
                    count, parts = pending.get(v, (0, []))
                    if take == n:
                        parts.append(payload)
                    else:
                        if out_dec is None:
                            out_dec = _compile_decoder(avro_schema)
                        cut = _decode_records(out_dec, payload, take)[1]
                        parts.append(payload[:cut])
                        payload = payload[cut:]
                    pending[v] = (count + take, parts)
                    n -= take
                    if room is not None:
                        room -= take
                        if not room:
                            flush()
                            room = per_block
    flush()
    return files.close()


def compact_ocf_dir(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 128,
    partition_col: str | None = None,
    codec: str = "deflate",
) -> dict:
    """Small-file compaction for a rotated-sink drop directory: rewrite
    ``src``'s container files into ``dst`` sized at ~``target_mb`` per
    file. The rotated sink legitimately produces files per (task ×
    window) — exactly the small-file pile that throttles a 100 TB reader
    with per-file open/seek overhead; compaction is the maintenance job
    every file-based pipeline runs (the lakehouse OPTIMIZE analog for
    this engine's Avro layout).

    :func:`_pack_files` groups the listing into ~``target_mb`` groups
    (each window's files adjacent; a file above the target is cut into
    sync-aligned byte ranges), and one Spark job runs one
    ``spark.range`` task per group (:func:`_map_groups`). A task
    (:func:`_compact_task`) moves record bytes, not records: each source
    block's decompressed payload is appended to its window's pending
    block, and a pending block is compressed once per
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` records. Only a
    file whose header schema differs from the output schema is decoded,
    resolved and re-encoded column-wise. Nothing crosses to the JVM or
    through a shuffle. A payload is moved without being decoded, so a
    source block whose records do not fill it exactly fails on the first
    read of the compacted file (:func:`iter_ocf_blocks_split`), not here.
    Output goes to a NEW directory, never an in-place rewrite, so a
    failed compaction leaves the source untouched and the swap is the
    caller's atomic rename. Returns ``{"n_in", "bytes_in", "n_out", "rows"}``.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    _check_codec(codec)
    files = _list_dataset(src, partition_col)
    if not files:
        raise FileNotFoundError(f"no .avro files under {src}")
    spark_schema = avro_to_spark_schema(read_ocf_header(files[0][0]))
    avro_schema = spark_to_avro_schema(spark_schema)
    arrow_schema = to_arrow_schema(spark_schema)
    per_block = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    per_block = per_block if per_block > 0 else None  # <= 0: no limit

    def compact_group(gid, group):
        return _manifest_batches(
            _compact_task(
                group, dst, partition_col, avro_schema, arrow_schema, codec,
                per_block, f"part-{gid:05d}.avro",
            )
        )

    _fs_makedirs(dst)
    groups = _pack_files(files, target_mb << 20)
    manifest = _map_groups(spark, groups, compact_group, _MANIFEST_DDL).collect()
    return {
        "n_in": len(files),
        "bytes_in": sum(sz for _f, _v, sz in files),
        "n_out": len(manifest),
        "rows": sum(m["n_records"] for m in manifest),
    }
