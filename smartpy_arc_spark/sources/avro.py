"""Custom connector: Avro Object Container Files as a Spark data source.

The distribution ships the core ``avro-*.jar`` libraries but NOT the
``spark-avro`` SQL datasource, so ``spark.read.format("avro")`` is
unavailable; this module implements the public Avro 1.x Object Container
File specification (https://avro.apache.org/docs/1.12.0/specification/
#object-container-files) in pure Python — binary zigzag-varint encoding,
header metadata map, sync-marked data blocks, ``null`` and ``deflate``
codecs (raw zlib streams per the spec) — and exposes it as

    spark.read.format("avro_py").load("/path/to/file_or_dir")

via the PySpark 4 Python Data Source API (same pattern as
``sources/dbf.py``).  The reference has no Avro surface (arcpy formats
only); this is part of the interchange-format extension alongside the
CSV/JSONL/ORC round-trips.

Scale design: the reader hands one input partition per (file, block-run):
Avro blocks are delimited by the 16-byte sync marker precisely so readers
can split a large file without coordination — each partition seeks to its
byte offset and scans forward to the first sync before decoding, the same
contract HDFS-splittable Avro input formats use.  The writer emits one
container file per Spark partition on the executors (no driver collect).

Supported types (both directions): null/boolean/int/long/float/double/
bytes/string, records, nullable unions ``["null", T]``, logical types
``timestamp-micros`` and ``date``.
"""

from __future__ import annotations

import glob
import io
import json
import os
import struct
import zlib
from collections.abc import Iterator
from datetime import date, datetime, timedelta, timezone
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

MAGIC = b"Obj\x01"
_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1)

# ---------------------------------------------------------------------------
# binary encoding primitives (Avro spec "Binary encoding")


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


class _Decoder:
    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read_long(self) -> int:
        shift = acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_fixed(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


# ---------------------------------------------------------------------------
# schema-driven value codec


def _read_value(dec: _Decoder, schema: Any) -> Any:
    if isinstance(schema, list):  # union: branch index then value
        return _read_value(dec, schema[dec.read_long()])
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return tuple(_read_value(dec, f["type"]) for f in schema["fields"])
        logical = schema.get("logicalType")
        if logical == "timestamp-micros":
            return _EPOCH_DT + timedelta(microseconds=dec.read_long())
        if logical == "date":
            return _EPOCH_DATE + timedelta(days=dec.read_long())
        return _read_value(dec, t)
    if schema == "null":
        return None
    if schema == "boolean":
        v = dec.buf[dec.pos]
        dec.pos += 1
        return v == 1
    if schema in ("int", "long"):
        return dec.read_long()
    if schema == "float":
        return struct.unpack("<f", dec.read_fixed(4))[0]
    if schema == "double":
        return struct.unpack("<d", dec.read_fixed(8))[0]
    if schema == "bytes":
        return dec.read_bytes()
    if schema == "string":
        return dec.read_bytes().decode("utf-8")
    raise ValueError(f"unsupported avro type {schema!r}")


def _write_value(out: io.BytesIO, schema: Any, v: Any) -> None:
    if isinstance(schema, list):  # nullable union
        if v is None:
            branch = schema.index("null")
            out.write(_zigzag_encode(branch))
            return
        branch = next(i for i, s in enumerate(schema) if s != "null")
        out.write(_zigzag_encode(branch))
        _write_value(out, schema[branch], v)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f, fv in zip(schema["fields"], v):
                _write_value(out, f["type"], fv)
            return
        logical = schema.get("logicalType")
        if logical == "timestamp-micros":
            if isinstance(v, datetime):
                base = v.replace(tzinfo=None) if v.tzinfo else v
                delta = base - _EPOCH_DT
                v = delta // timedelta(microseconds=1)
            out.write(_zigzag_encode(int(v)))
            return
        if logical == "date":
            if isinstance(v, date):
                v = (v - _EPOCH_DATE).days
            out.write(_zigzag_encode(int(v)))
            return
        _write_value(out, t, v)
        return
    if schema == "null":
        return
    if schema == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif schema in ("int", "long"):
        out.write(_zigzag_encode(int(v)))
    elif schema == "float":
        out.write(struct.pack("<f", float(v)))
    elif schema == "double":
        out.write(struct.pack("<d", float(v)))
    elif schema == "bytes":
        out.write(_zigzag_encode(len(v)))
        out.write(bytes(v))
    elif schema == "string":
        raw = v.encode("utf-8")
        out.write(_zigzag_encode(len(raw)))
        out.write(raw)
    else:
        raise ValueError(f"unsupported avro type {schema!r}")


# ---------------------------------------------------------------------------
# container file: header / blocks


def read_avro_header(path: str) -> tuple[dict, bytes, int]:
    """Return (metadata dict, sync marker, data start offset)."""
    with open(path, "rb") as fh:
        head = fh.read(1 << 20)  # metadata map is small; blocks follow
        while True:
            dec = _Decoder(head)
            if dec.read_fixed(4) != MAGIC:
                raise ValueError(f"{path}: not an Avro object container file")
            try:
                meta: dict[str, bytes] = {}
                while True:
                    n = dec.read_long()
                    if n == 0:
                        break
                    if n < 0:  # negative count: block byte size follows
                        n = -n
                        dec.read_long()
                    for _ in range(n):
                        k = dec.read_bytes().decode("utf-8")
                        meta[k] = dec.read_bytes()
                sync = dec.read_fixed(16)
                if len(sync) == 16:
                    return meta, sync, dec.pos
            except IndexError:
                pass
            more = fh.read(1 << 20)
            if not more:
                raise ValueError(f"{path}: truncated Avro header")
            head += more


class _Window:
    """Grow-on-demand read window over a file region: the split reads only
    its own byte range plus the tail needed to finish its last block —
    never the whole container."""

    def __init__(self, fh, base: int):
        self.fh = fh
        self.base = base  # absolute offset of buf[0]
        self.buf = b""

    def ensure(self, upto_abs: int) -> bool:
        need = upto_abs - self.base - len(self.buf)
        if need > 0:
            chunk = self.fh.read(max(need, 1 << 20))
            self.buf += chunk
            return len(chunk) >= need
        return True

    def find_sync(self, sync: bytes, from_abs: int) -> int:
        """Absolute offset of the next sync at/after from_abs, or -1."""
        search = from_abs
        while True:
            self.ensure(search + (1 << 20))
            idx = self.buf.find(sync, search - self.base)
            if idx >= 0 and idx + 16 <= len(self.buf):
                return self.base + idx
            if idx >= 0:  # partial match at buffer tail: extend and retry
                if not self.ensure(self.base + idx + 16):
                    return -1
                continue
            if not self.ensure(self.base + len(self.buf) + (1 << 20)):
                return -1
            search = self.base + max(len(self.buf) - 15, 0)


def iter_avro_records(
    path: str, start: int | None = None, end: int | None = None
) -> Iterator[tuple]:
    """Decode records from the container; with ``start``/``end`` set, decode
    only this split's blocks — a split owns the block run introduced by
    sync markers whose offset lies in ``[start, end)`` (the first split
    additionally owns the header-adjacent first block).  Splits tile the
    file, so every block is decoded by exactly one split."""
    meta, sync, data_start = read_avro_header(path)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    with open(path, "rb") as fh:
        base = data_start if not start else start
        fh.seek(base)
        win = _Window(fh, base)
        if start:  # non-first split: begin after the first owned sync
            idx = win.find_sync(sync, start)
            if idx < 0 or (end is not None and idx >= end):
                return
            pos = idx + 16
        else:
            pos = data_start
        while True:
            # a block header is two varint longs: <= 20 bytes
            win.ensure(pos + 20)
            dec = _Decoder(win.buf, pos - win.base)
            try:
                n_objs = dec.read_long()
                n_bytes = dec.read_long()
            except IndexError:
                return  # clean EOF
            payload_abs = win.base + dec.pos
            if not win.ensure(payload_abs + n_bytes + 16):
                return
            payload = win.buf[
                payload_abs - win.base : payload_abs - win.base + n_bytes
            ]
            if codec == "deflate":
                payload = zlib.decompress(payload, -15)
            elif codec != "null":
                raise ValueError(f"unsupported avro codec {codec!r}")
            vdec = _Decoder(payload)
            for _ in range(n_objs):
                yield _read_value(vdec, schema)
            sync_pos = payload_abs + n_bytes
            if end is not None and sync_pos >= end:
                return  # the next block's sync belongs to the next split
            pos = sync_pos + 16


def write_avro(
    path: str,
    rows: list[tuple],
    schema: dict,
    *,
    codec: str = "deflate",
    rows_per_block: int = 4096,
    sync: bytes | None = None,
) -> str:
    """Write an Object Container File (deterministic when ``sync`` given)."""
    sync = sync or os.urandom(16)
    with open(path, "wb") as fh:
        fh.write(MAGIC)
        meta = {
            "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
            "avro.codec": codec.encode(),
        }
        fh.write(_zigzag_encode(len(meta)))
        for k, v in meta.items():
            kb = k.encode()
            fh.write(_zigzag_encode(len(kb)) + kb)
            fh.write(_zigzag_encode(len(v)) + v)
        fh.write(_zigzag_encode(0))
        fh.write(sync)
        for i in range(0, len(rows), rows_per_block):
            block = rows[i : i + rows_per_block]
            buf = io.BytesIO()
            for row in block:
                _write_value(buf, schema, row)
            payload = buf.getvalue()
            if codec == "deflate":
                co = zlib.compressobj(6, zlib.DEFLATED, -15)
                payload = co.compress(payload) + co.flush()
            fh.write(_zigzag_encode(len(block)))
            fh.write(_zigzag_encode(len(payload)))
            fh.write(payload)
            fh.write(sync)
    return path


# ---------------------------------------------------------------------------
# Spark schema <-> Avro schema


_SPARK_TO_AVRO = {
    "string": "string",
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "smallint": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "binary": "bytes",
}


def _avro_field_type(spark_type: str) -> Any:
    if spark_type in ("timestamp", "timestamp_ntz"):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if spark_type == "date":
        return {"type": "int", "logicalType": "date"}
    if spark_type in _SPARK_TO_AVRO:
        return _SPARK_TO_AVRO[spark_type]
    raise ValueError(f"no avro mapping for spark type {spark_type!r}")


def avro_schema_of(df: DataFrame, name: str = "row") -> dict:
    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": c, "type": ["null", _avro_field_type(t)]}
            for c, t in df.dtypes
        ],
    }


_AVRO_TO_SPARK = {
    "string": "string",
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "bytes": "binary",
    "null": "string",
}


def _spark_field_type(avro_type: Any) -> str:
    if isinstance(avro_type, list):  # nullable union
        non_null = [t for t in avro_type if t != "null"]
        return _spark_field_type(non_null[0]) if non_null else "string"
    if isinstance(avro_type, dict):
        logical = avro_type.get("logicalType")
        if logical == "timestamp-micros":
            return "timestamp_ntz"
        if logical == "date":
            return "date"
        if avro_type["type"] == "record":
            raise ValueError("nested records not supported")
        return _spark_field_type(avro_type["type"])
    return _AVRO_TO_SPARK[avro_type]


def avro_spark_schema(schema: dict) -> str:
    return ", ".join(
        f"`{f['name']}` {_spark_field_type(f['type'])}" for f in schema["fields"]
    )


# ---------------------------------------------------------------------------
# Spark data source (read path)


def _avro_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.avro")))
    return [path]


_SPLIT_BYTES = 32 * 1024 * 1024  # one partition per ~32 MB of container


class _AvroPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int | None):
        self.path = path
        self.start = start
        self.end = end


class AvroReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro_py source requires a path")

    def partitions(self) -> list[InputPartition]:
        # sync-marker splitting: large containers fan out by byte range,
        # small ones read whole — the HDFS-splittable Avro contract
        parts: list[InputPartition] = []
        for p in _avro_paths(self.path):
            size = os.path.getsize(p)
            if size <= _SPLIT_BYTES:
                parts.append(_AvroPartition(p, 0, None))
            else:
                for off in range(0, size, _SPLIT_BYTES):
                    parts.append(
                        _AvroPartition(
                            p, off, min(off + _SPLIT_BYTES, size)
                        )
                    )
        return parts

    def read(self, partition: _AvroPartition) -> Iterator[tuple]:
        yield from iter_avro_records(
            partition.path, partition.start or None, partition.end
        )


class AvroDataSource(DataSource):
    """``spark.read.format("avro_py").load(path)`` — pure-Python Avro OCF
    reader (file or directory of ``*.avro``)."""

    @classmethod
    def name(cls) -> str:
        return "avro_py"

    def schema(self) -> str:
        paths = _avro_paths(self.options.get("path", ""))
        if not paths:
            raise ValueError(f"no .avro files at {self.options.get('path')}")
        meta, _, _ = read_avro_header(paths[0])
        return avro_spark_schema(json.loads(meta["avro.schema"]))

    def reader(self, schema) -> AvroReader:
        return AvroReader(dict(self.options))


def register_avro_source(spark) -> None:
    """Idempotently register the avro_py format on a session."""
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    spark.dataSource.register(AvroDataSource)


# ---------------------------------------------------------------------------
# sink: one container file per Spark partition, written on executors


def write_avro_files(df: DataFrame, directory: str, *, codec: str = "deflate") -> str:
    """Distributed Avro sink: each partition serializes its rows to one
    ``part-NNNNN.avro`` container on the executor (no driver collect; the
    driver only creates the directory).  Deterministic sync markers keyed
    by partition id keep output byte-stable for a fixed partitioning."""
    os.makedirs(directory, exist_ok=True)
    schema = avro_schema_of(df)
    schema_json = json.dumps(schema)

    def _write_part(idx: int, rows: Iterator) -> Iterator[tuple]:
        import hashlib
        import json as _json

        sch = _json.loads(schema_json)
        data = [tuple(r) for r in rows]
        out = os.path.join(directory, f"part-{idx:05d}.avro")
        sync = hashlib.md5(f"avro-part-{idx}".encode()).digest()
        write_avro(out, data, sch, codec=codec, sync=sync)
        yield (idx, len(data))

    # bounded: one (index, count) pair per partition
    counts = df.rdd.mapPartitionsWithIndex(_write_part).collect()
    # empty-partition files still carry the schema, which keeps reads
    # consistent; counts is one tiny row per partition
    _ = counts
    return directory
