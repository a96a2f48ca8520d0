"""Avro Object Container File source/sink — implemented from the
PUBLIC Avro 1.11 specification (the file format legacy Kafka/Hive
pipelines emit), because this offline container ships neither the
``spark-avro`` connector jar nor a Python avro package (probed:
``spark.read.format("avro")`` raises FAILED_TO_FIND_DATA_SOURCE;
``import avro`` / ``import fastavro`` both ImportError).  The wire
format is small and fully documented — exactly the class of spec
this engine already implements for PNG/GIF/JPEG/G.711 — so the
engine gets a REAL reader/writer instead of a documented stub:

- OCF layout: magic ``Obj\\x01`` + metadata map (``avro.schema``
  JSON, ``avro.codec``) + 16-byte sync marker, then data blocks of
  ``(row count, byte size, payload, sync)`` — payload raw-DEFLATE
  (RFC 1951, no zlib wrapper) under the ``deflate`` codec.
- Binary encoding: zigzag varint ints/longs, little-endian IEEE
  float/double, length-prefixed utf-8 strings / bytes, 1-byte
  booleans, record fields in declared order, ``["null", T]`` unions
  as a branch index, arrays as counted blocks, ``date`` /
  ``timestamp-micros`` logical types.

Execution shape: both directions run EXECUTOR-side through
``mapInArrow`` (Arrow batches at the boundary, one task per file on
read, one file per partition on write) — the driver only touches the
first file's header (schema peek) and the bounded one-row-per-file
manifest.  Decode/encode is row-at-a-time Python by nature of the
format (varint-chained, no columnar layout) — the same
ingestion-boundary economics as XML (``read_xml``): convert to
parquet at the boundary; don't put Avro scans in a hot loop.

Schema-on-read carries the ``read_evolving`` contract: pass a target
schema and missing columns null out, extra file columns are never
surfaced, int→long / float→double widen.  Unsupported Avro features
(maps, fixed, enums, multi-branch unions beyond ``["null", T]``,
schema aliases) raise loudly — this is the engine's documented
subset, not a silent partial read.

Spec: https://avro.apache.org/docs/1.11.1/specification/ (public).
"""

from __future__ import annotations

import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .tables import local_frame

__all__ = ["read_avro", "write_avro", "AVRO_MAGIC"]

AVRO_MAGIC = b"Obj\x01"

_SIMPLE = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}

_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "byte": "int",
    "short": "int",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
}


# ---------------------------------------------------------------------------
# schema mapping
# ---------------------------------------------------------------------------

def _avro_field_type(dt: T.DataType) -> object:
    name = dt.typeName()
    if name in _SPARK_TO_AVRO:
        return _SPARK_TO_AVRO[name]
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if isinstance(dt, T.ArrayType):
        items = _avro_field_type(dt.elementType)
        if dt.containsNull:
            items = ["null", items]
        return {"type": "array", "items": items}
    if isinstance(dt, T.StructType):
        return _avro_record(dt, name="nested")
    raise TypeError(
        f"write_avro: unsupported Spark type {dt.simpleString()!r} — "
        "the engine's Avro subset covers "
        "boolean/int/long/float/double/string/binary/date/timestamp/"
        "array/struct (cast decimals to string or long cents first)")


_NESTED_SEQ = [0]


def _avro_record(schema: T.StructType, name: str = "row") -> dict:
    fields = []
    for f in schema.fields:
        ft = _avro_field_type(f.dataType)
        if isinstance(ft, dict) and ft.get("type") == "record":
            _NESTED_SEQ[0] += 1
            ft["name"] = f"{name}_{f.name}_{_NESTED_SEQ[0]}"
        if f.nullable:
            ft = ["null", ft]
        fields.append({"name": f.name, "type": ft})
    return {"type": "record", "name": name, "fields": fields}


def _spark_type_of(avro_type) -> tuple[T.DataType, bool]:
    """Avro type (possibly a ["null", T] union) → (Spark type,
    nullable)."""
    nullable = False
    t = avro_type
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        if len(t) - len(branches) != 1 or len(branches) != 1:
            raise TypeError(
                f"read_avro: only [\"null\", T] unions are supported, "
                f"got {t!r}")
        nullable = True
        t = branches[0]
    if isinstance(t, str):
        if t not in _SIMPLE:
            raise TypeError(f"read_avro: unsupported Avro type {t!r}")
        return _SIMPLE[t], nullable
    kind = t.get("type")
    lt = t.get("logicalType")
    if kind == "int" and lt == "date":
        return T.DateType(), nullable
    if kind == "long" and lt in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType(), nullable
    if kind == "long" and lt in ("local-timestamp-micros",
                                 "local-timestamp-millis"):
        return T.TimestampNTZType(), nullable
    if kind in _SIMPLE and lt is not None:
        return _SIMPLE[kind], nullable       # unknown logical: raw base
    if kind == "array":
        et, en = _spark_type_of(t["items"])
        return T.ArrayType(et, containsNull=en), nullable
    if kind == "record":
        return _record_to_struct(t), nullable
    if kind in _SIMPLE:
        return _SIMPLE[kind], nullable
    raise TypeError(f"read_avro: unsupported Avro type {t!r} — maps/"
                    "fixed/enums are outside the engine's subset")


def _record_to_struct(rec: dict) -> T.StructType:
    fields = []
    for f in rec["fields"]:
        dt, nullable = _spark_type_of(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# binary primitives (Avro spec §binary encoding)
# ---------------------------------------------------------------------------

def _zig(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


class _Reader:
    __slots__ = ("b", "i")

    def __init__(self, b: bytes):
        self.b = b
        self.i = 0

    def long(self) -> int:
        u = shift = 0
        while True:
            byte = self.b[self.i]
            self.i += 1
            u |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1)

    def raw(self, n: int) -> bytes:
        out = self.b[self.i:self.i + n]
        if len(out) != n:
            raise ValueError("read_avro: truncated data block")
        self.i += n
        return out


# value encoders/decoders keyed by the avro type structure ------------------

_EPOCH_D = __import__("datetime").date(1970, 1, 1)
_EPOCH_TS = __import__("datetime").datetime(
    1970, 1, 1, tzinfo=__import__("datetime").timezone.utc)
_DAY = __import__("datetime").timedelta(days=1)
_US = __import__("datetime").timedelta(microseconds=1)


def _enc_value(t, v, out: bytearray) -> None:
    if isinstance(t, list):                   # ["null", T]
        if v is None:
            out += _zig(0)
            return
        out += _zig(1)
        _enc_value(t[1], v, out)
        return
    if isinstance(t, dict):
        kind, lt = t.get("type"), t.get("logicalType")
        if kind == "int" and lt == "date":
            out += _zig((v - _EPOCH_D) // _DAY)
            return
        if kind == "long" and lt == "timestamp-micros":
            if v.tzinfo is None:
                v = v.replace(tzinfo=_EPOCH_TS.tzinfo)
            out += _zig((v - _EPOCH_TS) // _US)
            return
        if kind == "long" and lt == "local-timestamp-micros":
            out += _zig((v.replace(tzinfo=None)
                         - _EPOCH_TS.replace(tzinfo=None)) // _US)
            return
        if kind == "array":
            if len(v):
                out += _zig(len(v))
                for item in v:
                    _enc_value(t["items"], item, out)
            out += _zig(0)
            return
        if kind == "record":
            for f in t["fields"]:
                _enc_value(f["type"],
                           v.get(f["name"]) if isinstance(v, dict)
                           else getattr(v, f["name"]), out)
            return
        kind_s = kind
    else:
        kind_s = t
    if v is None:
        raise ValueError(
            "write_avro: NULL in a non-nullable column (the Spark "
            "schema said nullable=False)")
    if kind_s in ("long", "int"):
        out += _zig(int(v))
    elif kind_s == "double":
        out += struct.pack("<d", float(v))
    elif kind_s == "float":
        out += struct.pack("<f", float(v))
    elif kind_s == "string":
        raw = str(v).encode("utf-8")
        out += _zig(len(raw)) + raw
    elif kind_s == "bytes":
        raw = bytes(v)
        out += _zig(len(raw)) + raw
    elif kind_s == "boolean":
        out.append(1 if v else 0)
    else:
        raise TypeError(f"write_avro: unsupported type {t!r}")


def _dec_value(t, r: _Reader):
    if isinstance(t, list):
        return None if r.long() == 0 else _dec_value(t[1], r)
    if isinstance(t, dict):
        kind, lt = t.get("type"), t.get("logicalType")
        if kind == "int" and lt == "date":
            return _EPOCH_D + r.long() * _DAY
        if kind == "long" and lt == "timestamp-micros":
            return _EPOCH_TS + r.long() * _US
        if kind == "long" and lt == "timestamp-millis":
            return _EPOCH_TS + (r.long() * 1000) * _US
        if kind == "long" and lt == "local-timestamp-micros":
            return _EPOCH_TS.replace(tzinfo=None) + r.long() * _US
        if kind == "long" and lt == "local-timestamp-millis":
            return (_EPOCH_TS.replace(tzinfo=None)
                    + (r.long() * 1000) * _US)
        if kind == "array":
            out = []
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:                     # block with byte size
                    n = -n
                    r.long()
                for _ in range(n):
                    out.append(_dec_value(t["items"], r))
        if kind == "record":
            return {f["name"]: _dec_value(f["type"], r)
                    for f in t["fields"]}
        t = kind
    if t in ("long", "int"):
        return r.long()
    if t == "double":
        return struct.unpack("<d", r.raw(8))[0]
    if t == "float":
        return struct.unpack("<f", r.raw(4))[0]
    if t == "string":
        return r.raw(r.long()).decode("utf-8")
    if t == "bytes":
        return r.raw(r.long())
    if t == "boolean":
        return r.raw(1) == b"\x01"
    raise TypeError(f"read_avro: unsupported type {t!r}")


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------

def _write_ocf(fh, schema_json: str, rows, codec: str,
               sync: bytes, block_rows: int = 4096) -> int:
    meta = {"avro.schema": schema_json.encode(),
            "avro.codec": codec.encode()}
    fh.write(AVRO_MAGIC)
    fh.write(_zig(len(meta)))
    for k, v in sorted(meta.items()):
        kk = k.encode()
        fh.write(_zig(len(kk)) + kk + _zig(len(v)) + v)
    fh.write(_zig(0))
    fh.write(sync)
    schema = json.loads(schema_json)
    n_total = 0
    buf: list = []

    def flush():
        nonlocal n_total
        if not buf:
            return
        body = bytearray()
        for row in buf:
            _enc_value(schema, row, body)
        payload = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        fh.write(_zig(len(buf)) + _zig(len(payload)))
        fh.write(payload)
        fh.write(sync)
        n_total += len(buf)
        buf.clear()

    for row in rows:
        buf.append(row)
        if len(buf) >= block_rows:
            flush()
    flush()
    return n_total


def _fh_varint(fh, first: bytes | None = None) -> int | None:
    """Zigzag varint read directly off a file handle.  ``first`` lets
    the caller hand over an already-peeked byte; returns None at
    clean EOF (only when peeking the first byte itself)."""
    if first is None:
        first = fh.read(1)
        if not first:
            return None
    b = first[0]
    u = b & 0x7F
    shift = 7
    while b & 0x80:
        nxt = fh.read(1)
        if not nxt:
            raise ValueError("read_avro: truncated varint")
        b = nxt[0]
        u |= (b & 0x7F) << shift
        shift += 7
    return (u >> 1) ^ -(u & 1)


def _read_header(fh) -> tuple[dict, str, bytes]:
    head = fh.read(4)
    if head != AVRO_MAGIC:
        raise ValueError(
            f"read_avro: bad magic {head!r} — not an Avro object "
            "container file")
    # metadata map: counted blocks of (bytes key, bytes value)
    meta: dict = {}
    while True:
        n = _fh_varint(fh)
        if not n:
            break
        if n < 0:
            n = -n
            _fh_varint(fh)                   # block byte size, unused
        for _ in range(n):
            k = fh.read(_fh_varint(fh)).decode()
            meta[k] = fh.read(_fh_varint(fh))
    sync = fh.read(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"read_avro: unsupported codec {codec!r}")
    return schema, codec, sync


def _read_ocf(path: str) -> tuple[dict, list]:
    with open(path, "rb") as fh:
        schema, codec, sync = _read_header(fh)
        rows: list = []
        while True:
            n_rows = _fh_varint(fh)
            if n_rows is None:
                break
            size = _fh_varint(fh)
            payload = fh.read(size)
            if len(payload) != size or fh.read(16) != sync:
                raise ValueError(
                    f"read_avro: sync marker mismatch in {path!r} — "
                    "corrupt or truncated block")
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            r = _Reader(payload)
            for _ in range(n_rows):
                rows.append(_dec_value(schema, r))
    return schema, rows


# ---------------------------------------------------------------------------
# Spark-facing API
# ---------------------------------------------------------------------------

def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> int:
    """Write ``df`` as a directory of ``.avro`` object container
    files — one file per partition, written EXECUTOR-side (the tar-
    shard sink pattern; the driver sees only the one-row-per-file
    manifest).  Returns the row count written.  An empty frame still
    materializes the directory with one empty (schema-bearing) file —
    the empty-input read-back rule every side-channel sink in this
    repo follows."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"write_avro: codec must be null|deflate, "
                         f"got {codec!r}")
    schema_json = json.dumps(_avro_record(df.schema))
    os.makedirs(path, exist_ok=True)
    for old in os.listdir(path):             # overwrite semantics —
        if old.endswith(".avro"):            # stale parts would double
            os.remove(os.path.join(path, old))  # the data on read-back

    def _writer(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()

        def rows():
            for batch in batches:
                yield from batch.to_pylist()

        fname = os.path.join(path, f"part-{pid:05d}.avro")
        tmp = fname + ".tmp"
        with open(tmp, "wb") as fh:
            n = _write_ocf(fh, schema_json, rows(), codec,
                           os.urandom(16))
        if n:
            os.replace(tmp, fname)
        else:
            os.remove(tmp)                    # no empty per-partition files
        yield pa.RecordBatch.from_pylist(
            [{"file": fname if n else None, "n_rows": n}],
            schema=pa.schema([("file", pa.string()),
                              ("n_rows", pa.int64())]))

    manifest = df.mapInArrow(_writer, "file string, n_rows long") \
        .collect()                            # bounded: one row/partition
    total = sum(r["n_rows"] for r in manifest)
    if total == 0:
        with open(os.path.join(path, "part-00000.avro"), "wb") as fh:
            _write_ocf(fh, schema_json, [], codec, os.urandom(16))
    return int(total)


def _target_arrow_schema(schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def read_avro(spark: SparkSession, path: str,
              schema: T.StructType | None = None) -> DataFrame:
    """Read a directory (or single file) of Avro object container
    files.  Without ``schema`` the FIRST file's embedded writer
    schema is the table schema (one driver-side header read — no data
    touched).  With ``schema`` you get schema-ON-READ exactly like
    :func:`read_orc` / :func:`read_evolving`: missing columns null
    out, extra file columns are never surfaced, int→long /
    float→double widen.  Each file decodes in its own task
    (``mapInArrow``); blocks verify their sync marker and fail
    loudly on corruption (a damaged block is an error, not a row —
    the binary-container contract, same as ORC)."""
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if f.endswith(".avro"))
    else:
        files = [path]
    if not files:
        raise ValueError(f"read_avro: no .avro files under {path!r}")
    if schema is None:
        with open(files[0], "rb") as fh:
            writer_schema, _codec, _sync = _read_header(fh)
        schema = _record_to_struct(writer_schema)
    arrow_schema = _target_arrow_schema(schema)
    names = [f.name for f in schema.fields]

    def _reader(batches):
        import pyarrow as pa

        for batch in batches:
            for row in batch.to_pylist():
                _schema, rows = _read_ocf(row["f"])
                data = [{n: r.get(n) for n in names} for r in rows]
                yield pa.RecordBatch.from_pylist(data,
                                                 schema=arrow_schema)

    flist = local_frame(spark, [(f,) for f in files], "f string") \
        .repartition(len(files), "f")
    return flist.mapInArrow(_reader, schema)
