"""WARC (Web ARChive, ISO 28500) source/sink — implemented from the
PUBLIC specification (r10 VERDICT #4), because real pretraining
corpora start at Common Crawl WARC files and this offline container
ships no warc library (probed: ``import warcio`` / ``import
fastwarc`` both ImportError).  The format is small and fully
documented — the Avro/PNG/G.711 playbook: implement the spec, get a
REAL reader instead of a stub.

Format facts implemented (ISO 28500 / the WARC 1.1 draft, public):

- A WARC file is a sequence of records.  Each record: a version line
  (``WARC/1.0`` or ``WARC/1.1``), named header fields
  (``Name: value`` CRLF, continuation lines start with space/tab),
  an empty line, ``Content-Length`` bytes of content block, then two
  CRLFs.  ``WARC-Type``, ``WARC-Record-ID``, ``WARC-Date``,
  ``Content-Length`` are mandatory.
- Crawl archives are ``.warc.gz`` with EACH RECORD ITS OWN GZIP
  MEMBER (the Common Crawl convention — members concatenate into a
  valid gzip stream, and a reader can seek to a member boundary).
  Python's ``gzip.GzipFile`` reads multi-member streams
  transparently; the writer emits one member per record.
- ``response`` records carry an HTTP/1.1 response message
  (``application/http;msgtype=response``): status line, headers,
  CRLF CRLF, payload.  The reader extracts status / Content-Type
  and DECHUNKS ``Transfer-Encoding: chunked`` payloads (RFC 9112
  §7.1) — raw crawl captures store the wire bytes.

Execution shape (the Avro source's): the driver only lists files;
each file parses in its OWN task (``mapInArrow`` over a one-row-per-
file frame), record walk and HTTP split in executor Python, Arrow
batches at the boundary.  Row-at-a-time by format nature — the same
ingestion-boundary economics as Avro/XML: convert to parquet at the
boundary, then the existing ``strip_html`` → quality → dedup chain
(``functions.text``) runs as pure expressions.

Spec: https://iso.org/standard/68004.html (ISO 28500:2017);
the equivalent public draft: https://iipc.github.io/warc-specifications/
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .tables import local_frame

__all__ = ["read_warc", "write_warc"]

_CRLF = b"\r\n"

#: read_warc's fixed output schema (one row per WARC record).
_WARC_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("rec_index", T.LongType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("record_id", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("content_length", T.LongType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("http_content_type", T.StringType()),
    T.StructField("body", T.BinaryType()),
])


def _parse_warc_headers(lines: list[bytes]) -> dict:
    """Named WARC header fields with RFC-822-style continuation
    folding (a line starting with SP/HTAB continues the previous
    field's value)."""
    out: dict[str, str] = {}
    last = None
    for ln in lines:
        if ln[:1] in (b" ", b"\t") and last is not None:
            out[last] += " " + ln.strip().decode("utf-8", "replace")
            continue
        if b":" not in ln:
            continue
        name, _, val = ln.partition(b":")
        last = name.strip().decode("ascii", "replace").lower()
        out[last] = val.strip().decode("utf-8", "replace")
    return out


def _dechunk(body: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding: hex-size line, chunk,
    CRLF, ... until a zero-size chunk (trailers dropped).  A malformed
    stream returns the raw bytes unchanged (crawl captures contain
    truncated responses; degrading beats dropping the record)."""
    out = bytearray()
    i = 0
    try:
        while True:
            j = body.index(_CRLF, i)
            size = int(body[i:j].split(b";")[0], 16)
            if size == 0:
                return bytes(out)
            out += body[j + 2:j + 2 + size]
            i = j + 2 + size + 2            # skip chunk + its CRLF
    except (ValueError, IndexError):
        return body


def _parse_http_response(content: bytes):
    """(status, content_type, payload) of an HTTP response message;
    (None, None, content) when the block is not HTTP."""
    if not content.startswith(b"HTTP/"):
        return None, None, content
    sep = content.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, content
    head, payload = content[:sep], content[sep + 4:]
    lines = head.split(_CRLF)
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, content
    hdrs = _parse_warc_headers(lines[1:])
    if "chunked" in hdrs.get("transfer-encoding", "").lower():
        payload = _dechunk(payload)
    return status, hdrs.get("content-type"), payload


def _iter_warc_records(fh):
    """Walk records off a binary file object (plain or a
    multi-member ``gzip.GzipFile``).  Yields ``(headers, content)``;
    raises on a structurally broken record (bad version line or
    missing Content-Length) — corruption is an error, not a skipped
    row (the binary-container contract)."""
    while True:
        line = fh.readline()
        while line in (_CRLF, b"\n"):        # inter-record blank lines
            line = fh.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            raise ValueError(
                f"warcio: expected a WARC version line, got "
                f"{line[:40]!r}")
        hdr_lines = []
        while True:
            ln = fh.readline()
            if ln in (_CRLF, b"\n", b""):
                break
            hdr_lines.append(ln.rstrip(b"\r\n"))
        headers = _parse_warc_headers(hdr_lines)
        if "content-length" not in headers:
            raise ValueError("warcio: record without Content-Length")
        n = int(headers["content-length"])
        content = fh.read(n)
        if len(content) != n:
            raise ValueError(
                f"warcio: truncated record content ({len(content)} of "
                f"{n} bytes)")
        yield headers, content


def _open_warc(path: str):
    import gzip

    with open(path, "rb") as probe:
        magic = probe.read(2)
    if magic == b"\x1f\x8b":
        return gzip.open(path, "rb")
    return open(path, "rb")


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory (or single file) of ``.warc`` /
    ``.warc.gz`` files — one row per WARC record, one TASK per file
    (crawl volume parallelizes across its files; a Common Crawl
    segment is ~thousands of them).  ``response`` records get
    ``http_status`` / ``http_content_type`` parsed and ``body`` =
    the DECHUNKED HTTP payload; other record types carry their raw
    content block as ``body``.  Decode bytes downstream with
    ``F.decode(col, 'utf-8')`` (or charset-sniff first — body stays
    BINARY because crawls are not all UTF-8)."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith((".warc", ".warc.gz")))
    else:
        files = [path]
    if not files:
        raise ValueError(f"read_warc: no .warc[.gz] files under "
                         f"{path!r}")

    def _reader(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(_WARC_SCHEMA)
        for batch in batches:
            for row in batch.to_pylist():
                f = row["f"]
                rows = []
                with _open_warc(f) as fh:
                    for i, (h, content) in enumerate(
                            _iter_warc_records(fh)):
                        wtype = h.get("warc-type")
                        if wtype == "response":
                            status, ctype, body = \
                                _parse_http_response(content)
                        else:
                            status, ctype, body = None, None, content
                        rid = h.get("warc-record-id")
                        rows.append({
                            "file": os.path.basename(f),
                            "rec_index": i,
                            "warc_type": wtype,
                            # the spec wraps ids in <>; strip for a
                            # clean join/dedup key
                            "record_id": (rid.strip("<>")
                                          if rid else None),
                            "warc_date": h.get("warc-date"),
                            "target_uri": h.get("warc-target-uri"),
                            "content_type": h.get("content-type"),
                            "content_length":
                                int(h["content-length"]),
                            "http_status": status,
                            "http_content_type": ctype,
                            "body": body,
                        })
                yield pa.RecordBatch.from_pylist(rows, schema=target)

    flist = local_frame(spark, [(f,) for f in files], "f string") \
        .repartition(len(files), "f")
    return flist.mapInArrow(_reader, _WARC_SCHEMA)


def _warc_record(wtype: str, rec_id: str, date: str, content: bytes,
                 content_type: str,
                 target_uri: str | None = None) -> bytes:
    hdr = [b"WARC/1.0",
           b"WARC-Type: " + wtype.encode(),
           b"WARC-Record-ID: <" + rec_id.encode() + b">",
           b"WARC-Date: " + date.encode()]
    if target_uri is not None:
        hdr.append(b"WARC-Target-URI: " + target_uri.encode())
    hdr += [b"Content-Type: " + content_type.encode(),
            b"Content-Length: " + str(len(content)).encode()]
    return _CRLF.join(hdr) + _CRLF * 2 + content + _CRLF * 2


def write_warc(df: DataFrame, path: str, uri_col: str = "uri",
               body_col: str = "body",
               date: str = "2024-01-01T00:00:00Z",
               http_content_type: str = "text/html",
               status: int = 200) -> int:
    """Write HTTP ``response`` records — one ``.warc.gz`` per
    partition, EXECUTOR-side (the Avro sink pattern), each record its
    own gzip member (the Common Crawl layout), led by a ``warcinfo``
    record.  ``body_col`` may be binary or string (utf-8 encoded).
    Record IDs are deterministic (md5 of uri + date — replayable
    roundtrips; pass distinct uris).  Returns records written.
    Primarily the fixture half of the ingestion boundary — real
    pipelines READ warc and write parquet."""
    os.makedirs(path, exist_ok=True)
    for old in os.listdir(path):
        if old.endswith(".warc.gz"):
            os.remove(os.path.join(path, old))

    def _writer(batches):
        import gzip

        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}.warc.gz")
        tmp = fname + ".tmp"
        n = 0
        with open(tmp, "wb") as out:
            info = (b"software: filters_spark-warcio\r\n"
                    b"format: WARC File Format 1.0\r\n")
            out.write(gzip.compress(_warc_record(
                "warcinfo", "urn:uuid:" + "0" * 32, date, info,
                "application/warc-fields")))
            for batch in batches:
                for row in batch.to_pylist():
                    uri = row[uri_col]
                    body = row[body_col]
                    if isinstance(body, str):
                        body = body.encode("utf-8")
                    http = (b"HTTP/1.1 " + str(status).encode()
                            + b" OK\r\nContent-Type: "
                            + http_content_type.encode()
                            + b"\r\nContent-Length: "
                            + str(len(body)).encode()
                            + b"\r\n\r\n" + body)
                    rid = "urn:uuid:" + hashlib.md5(
                        (uri + "|" + date).encode()).hexdigest()
                    out.write(gzip.compress(_warc_record(
                        "response", rid, date, http,
                        "application/http;msgtype=response",
                        target_uri=uri)))
                    n += 1
        if n:
            os.replace(tmp, fname)
        else:
            os.remove(tmp)
        yield pa.RecordBatch.from_pylist(
            [{"file": fname if n else None, "n": n}],
            schema=pa.schema([("file", pa.string()),
                              ("n", pa.int64())]))

    manifest = df.mapInArrow(_writer, "file string, n long") \
        .collect()                           # bounded: one row/partition
    total = sum(r["n"] for r in manifest)
    if total == 0:
        import gzip

        info = (b"software: filters_spark-warcio\r\n"
                b"format: WARC File Format 1.0\r\n")
        with open(os.path.join(path, "part-00000.warc.gz"),
                  "wb") as out:
            out.write(gzip.compress(_warc_record(
                "warcinfo", "urn:uuid:" + "0" * 32, date, info,
                "application/warc-fields")))
    return int(total)
