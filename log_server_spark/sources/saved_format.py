"""Reference wire-format (`.saved` / `.saved.gz`) reader + golden writer.

Format parity (citations into /root/reference):

- File = big-endian int32 ``StorageVersion`` (= 2, LogServer.scala:7)
  followed by records until EOF (LogWriterClient.scala:59-86; decode:
  NewLogReader.scala:56-119).
- Record = ``str(tableName) | recordId | int64 timestamp | str(log)`` where
  ``str`` = UInt29 byte length + UTF-8 bytes (LogWriterClient.scala:60-64)
  and ``recordId`` = marker byte 0 (empty) | 1 + int32 BE (int id) |
  2 + UInt29 length + bytes (string id) (RecordId.scala:46-48,
  LogWriterClient.scala:88-101).
- UInt29 = the 1..4-byte AMF-style varint (UInt29.scala:68-96): 7 data bits
  per byte with a continuation MSB for the first three bytes, all 8 bits in
  the fourth; max value 0x3FFFFFFF.
- Reader guards (NewLogReader.scala:76-106): version must match, tableName
  and log must be nonempty, tableName ``"\\u0000"`` is the
  version-bytes-mid-file corruption signature, a string length over
  ``MaxBytesBuffer`` (1 MiB, Storage.scala:19) is broken data. ``.gz``
  suffix streams through gzip (NewLogReader.scala:70).

The writer here is the producer substitute for golden tests (SURVEY S1/C4 —
the reference's client-side format writer, built only for fixtures). The
reader is a real source: ``read_saved`` scans files with Spark's
``binaryFile`` source (one task per file — the same unit of parallelism as
the reference's per-file reader thread) and decodes each file's records in
one Python pass inside ``mapInArrow``, emitting Arrow batches with the
reference content hash attached (murmur3(log) ^ ts-fold, Storage.scala:48)
so records drop straight into the dedup pipeline.
"""

from __future__ import annotations

import gzip as _gzip
import io
import struct
from collections.abc import Iterable

import numpy as np
import pyarrow as pa

STORAGE_VERSION = 2  # LogServer.scala:7
MAX_BYTES_BUFFER = 1 << 20  # Storage.scala:19
EMPTY_ID_MARKER, INT_ID_MARKER, STRING_ID_MARKER = 0, 1, 2  # RecordId.scala:46-48

SAVED_SCHEMA = (
    "source_file string, rec_seq int, table string, record_id string, "
    "id_kind int, ts_millis long, text string, n_bytes long, record_hash int"
)


def write_uint29(out: io.BytesIO, ref: int) -> None:
    """UInt29.scala:68-96, including the out-of-range throw."""
    if ref < 0:
        raise ValueError(f"Integer out of range: {ref}")
    if ref < 0x80:
        out.write(bytes([ref]))
    elif ref < 0x4000:
        out.write(bytes([((ref >> 7) & 0x7F) | 0x80, ref & 0x7F]))
    elif ref < 0x200000:
        out.write(bytes([((ref >> 14) & 0x7F) | 0x80, ((ref >> 7) & 0x7F) | 0x80, ref & 0x7F]))
    elif ref < 0x40000000:
        out.write(
            bytes(
                [
                    ((ref >> 22) & 0x7F) | 0x80,
                    ((ref >> 15) & 0x7F) | 0x80,
                    ((ref >> 8) & 0x7F) | 0x80,
                    ref & 0xFF,
                ]
            )
        )
    else:
        raise ValueError(f"Integer out of range: {ref}")


def read_uint29(buf: bytes, pos: int) -> tuple[int, int]:
    """UInt29.scala:25-47. Returns (value, new_pos)."""
    b = buf[pos]
    if b < 128:
        return b, pos + 1
    value = (b & 0x7F) << 7
    b = buf[pos + 1]
    if b < 128:
        return value | b, pos + 2
    value = (value | (b & 0x7F)) << 7
    b = buf[pos + 2]
    if b < 128:
        return value | b, pos + 3
    value = (value | (b & 0x7F)) << 8
    return value | buf[pos + 3], pos + 4


def encode_saved(records: Iterable[tuple[str, int | str | bytes | None, int, str]]) -> bytes:
    """Encode records as one `.saved` stream, byte-identical to
    ``LogWriterClient.append`` + ``close`` (single rotation window).

    ``records``: (normalizedTableName, id, timestamp_millis, log); id may be
    None (empty), a Python int (must fit int32 — the client's Int overload),
    str, or raw bytes (string-id variants).
    """
    out = io.BytesIO()
    out.write(struct.pack(">i", STORAGE_VERSION))  # LogWriterClient.scala:77

    def write_str(s: str) -> None:
        b = s.encode("utf-8")
        write_uint29(out, len(b))
        out.write(b)

    for table, rid, ts, log in records:
        write_str(table)
        if rid is None:
            out.write(bytes([EMPTY_ID_MARKER]))
        elif isinstance(rid, int):
            if not -(1 << 31) <= rid < (1 << 31):
                raise ValueError(f"int id out of int32 range: {rid}")
            out.write(bytes([INT_ID_MARKER]) + struct.pack(">i", rid))
        else:
            b = rid.encode("utf-8") if isinstance(rid, str) else bytes(rid)
            out.write(bytes([STRING_ID_MARKER]))
            write_uint29(out, len(b))
            out.write(b)
        out.write(struct.pack(">q", ts))
        write_str(log)
    return out.getvalue()


def gzip_deterministic(data: bytes) -> bytes:
    """gzip with a zeroed mtime header byte — byte-reproducible fixtures."""
    buf = io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(data)
    return buf.getvalue()


def write_saved(
    path: str,
    records: Iterable[tuple[str, int | str | bytes | None, int, str]],
    compress: bool | None = None,
) -> None:
    """:func:`encode_saved` to a file; ``.gz`` paths gzip-compress."""
    data = encode_saved(records)
    if compress is None:
        compress = path.endswith(".gz")
    with open(path, "wb") as f:
        f.write(gzip_deterministic(data) if compress else data)


def decode_saved_bytes(name: str, data: bytes) -> list[tuple]:
    """One file's bytes -> [(seq, table, record_id, ts, log_text)], with the
    reader's exact guards (NewLogReader.scala:73-106)."""
    if name.endswith(".gz"):
        data = _gzip.decompress(data)
    if len(data) < 4:
        raise ValueError(f"Truncated file (no version): {name}")
    version = struct.unpack_from(">i", data, 0)[0]
    if version != STORAGE_VERSION:
        raise ValueError(f"Invalid version: {version}")
    pos, n = 4, len(data)
    out: list[tuple] = []
    seq = 0

    def read_str(p: int) -> tuple[str, int]:
        length, p = read_uint29(data, p)
        if length > MAX_BYTES_BUFFER:
            raise ValueError(f"Read too big byte array size: {length}. Broken data?")
        if p + length > n:
            # python slicing would silently yield a SHORT string here; the
            # reference reader hits EOF mid-read and raises instead
            raise IndexError(f"string of {length} bytes past EOF at {p}")
        return data[p : p + length].decode("utf-8"), p + length

    while pos < n:
        rec_start = pos
        try:
            table, pos = read_str(pos)
            if not table:
                raise ValueError(f"Empty tableName in file {name}")
            if table == "\u0000":
                raise ValueError(f"Invalid read tableName. Version bytes in middle of file? {name}")
            marker = data[pos]
            pos += 1
            if marker == STRING_ID_MARKER:
                size, pos = read_uint29(data, pos)
                rid = data[pos : pos + size].decode("utf-8")
                pos += size
            elif marker == EMPTY_ID_MARKER:
                rid = ""
            elif marker == INT_ID_MARKER:
                rid = str(struct.unpack_from(">i", data, pos)[0])
                pos += 4
            else:
                raise ValueError(f"Unknown record id marker {marker} in {name}")
            ts = struct.unpack_from(">q", data, pos)[0]
            pos += 8
            log, pos = read_str(pos)
        except (IndexError, struct.error) as e:
            # truncated records surface raw IndexError/struct.error from the
            # byte reads -- wrap them in the same guard-style ValueError with
            # the file position, matching the reference's wrapped decode
            # failures (NewLogReader's RuntimeException with context)
            raise ValueError(f"Truncated record in {name} at byte {rec_start}") from e
        if not log:
            raise ValueError(f"Empty log in file {name}")
        # marker rides along: the reference RecordId is a SUM type
        # (IntRecordId(42) != StringRecordId("42"), RecordId.scala:60-75) —
        # a lone string rendering would conflate the two variants
        out.append((seq, table, rid, int(marker), ts, log))
        seq += 1
    return out


def _decode_batches(batches):
    from log_server_spark.functions.hashing import record_hash_batch

    for batch in batches:
        paths = batch.column(0).to_pylist()
        contents = batch.column(1)
        rows: dict[str, list] = {k: [] for k in ("f", "seq", "table", "rid", "kind", "ts", "text")}
        for path, content in zip(paths, contents):
            for seq, table, rid, kind, ts, log in decode_saved_bytes(path, content.as_py()):
                rows["f"].append(path)
                rows["seq"].append(seq)
                rows["table"].append(table)
                rows["rid"].append(rid)
                rows["kind"].append(kind)
                rows["ts"].append(ts)
                rows["text"].append(log)
        datas = [t.encode("utf-8") for t in rows["text"]]
        hashes = record_hash_batch(datas, np.array(rows["ts"], dtype=np.int64))
        yield pa.record_batch(
            {
                "source_file": pa.array(rows["f"], pa.string()),
                "rec_seq": pa.array(rows["seq"], pa.int32()),
                "table": pa.array(rows["table"], pa.string()),
                "record_id": pa.array(rows["rid"], pa.string()),
                "id_kind": pa.array(rows["kind"], pa.int32()),
                "ts_millis": pa.array(rows["ts"], pa.int64()),
                "text": pa.array(rows["text"], pa.string()),
                "n_bytes": pa.array([len(d) for d in datas], pa.int64()),
                "record_hash": pa.array(hashes, pa.int32()),
            }
        )


SAVED_GLOB = "*.saved*"


def read_saved(spark, path):
    """Scan a directory, glob or list of ``*.saved`` / ``*.saved.gz`` files
    into a DataFrame — one decode task per file via the binaryFile source."""
    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").option("pathGlobFilter", SAVED_GLOB).load(path)
    return files.select(F.col("path"), F.col("content")).mapInArrow(
        _decode_batches, schema=SAVED_SCHEMA
    )


def saved_records_projection(df):
    """Decoded `.saved` rows -> the parsed-records shape the pipeline/sink
    stages consume. Records arrive already structured (the decode guards
    RAISE on corruption like the reference, so there is no error route from
    this source); ``url`` is synthesized as file#seq (unique, deterministic,
    sorted = source order O4); capture ts := record ts (the wire carries
    only one); no page language/domain -> routed by the lookup misses."""
    from pyspark.sql import functions as F

    return df.select(
        F.concat_ws("#", F.col("source_file"), F.col("rec_seq").cast("string")).alias("url"),
        F.timestamp_millis(F.col("ts_millis")).alias("warc_ts"),
        F.lit("und").alias("lang"),
        F.col("rec_seq").alias("seq"),
        F.lit("ok").alias("status"),
        "table",
        "record_id",
        "ts_millis",
        "text",
        "n_bytes",
        "record_hash",
        F.lit("").alias("domain"),
    )
