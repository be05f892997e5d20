"""Wire-format parity: the `.saved` writer/reader pair must round-trip the
reference format byte-exactly — UInt29 boundaries, all three RecordId
variants, gzip, the reader's corruption guards, and the Spark binaryFile
source path (reference analogue: LogServerSpecInt.scala:19-106)."""

import gzip
import io
import struct

import pytest

from log_server_spark.sources.saved_format import (
    MAX_BYTES_BUFFER,
    STORAGE_VERSION,
    decode_saved_bytes,
    read_saved,
    read_uint29,
    write_saved,
    write_uint29,
)


def _u29(v: int) -> bytes:
    out = io.BytesIO()
    write_uint29(out, v)
    return out.getvalue()


def test_uint29_known_encodings():
    """The exact byte patterns from UInt29.scala:74-92."""
    assert _u29(0) == bytes([0x00])
    assert _u29(0x7F) == bytes([0x7F])
    assert _u29(0x80) == bytes([0x81, 0x00])
    assert _u29(0x3FFF) == bytes([0xFF, 0x7F])
    assert _u29(0x4000) == bytes([0x81, 0x80, 0x00])
    assert _u29(0x1FFFFF) == bytes([0xFF, 0xFF, 0x7F])
    assert _u29(0x200000) == bytes([0x80, 0xC0, 0x80, 0x00])
    assert _u29(0x1FFFFFFF) == bytes([0xFF, 0xFF, 0xFF, 0xFF])
    with pytest.raises(ValueError):
        _u29(0x40000000)


def test_uint29_roundtrip_boundaries():
    for v in [0, 1, 0x7F, 0x80, 0x3FFF, 0x4000, 0x1FFFFF, 0x200000, 0x1FFFFFFF, 12345, 9999999]:
        got, pos = read_uint29(_u29(v), 0)
        assert (got, pos) == (v, len(_u29(v)))


def test_uint29_reference_truncation_quirk():
    """Faithful reference quirk: 29 data bits (7+7+7+8) can hold at most
    0x1FFFFFFF, but the writer's range guard admits up to 0x3FFFFFFF
    (UInt29.scala:88,93 — its comments overstate the 4-byte form) and
    silently drops bit 29: ``(ref >> 22) & 0x7F``. Round-tripping
    0x3FFFFFFF therefore yields 0x1FFFFFFF, in our port exactly as in the
    reference. Unreachable in practice — string lengths are capped at
    MaxBytesBuffer (1 MiB) long before bit 29."""
    got, _ = read_uint29(_u29(0x3FFFFFFF), 0)
    assert got == 0x1FFFFFFF
    assert _u29(0x3FFFFFFF) == _u29(0x1FFFFFFF) == bytes([0xFF, 0xFF, 0xFF, 0xFF])


GOLDEN = [
    ("users", 7, 1709287200000, "---- 2024-03-01 10:00:00 table:users id:7\nhello"),
    ("pages", None, 1709287201000, "no id record"),
    ("events", "u42", 1709287202000, "string id record"),
    ("events", 42, 1709287202000, "int id 42 is distinct from string id"),
    ("t", -2147483648, 0, "int32 min id, epoch ts"),
    ("unicode", "kéy", 1709287203000, "body with üпривет"),
    ("big", 1, 1709287204000, "x" * 20000),  # 2-byte and 3-byte u29 lengths
]


def test_saved_roundtrip_plain_and_gzip(tmp_path):
    for name in ("a.saved", "b.saved.gz"):
        p = str(tmp_path / name)
        write_saved(p, GOLDEN)
        raw = open(p, "rb").read()
        if name.endswith(".gz"):
            assert raw[:2] == b"\x1f\x8b"
        else:
            assert raw[:4] == struct.pack(">i", STORAGE_VERSION)
        rows = decode_saved_bytes(p, raw)
        assert len(rows) == len(GOLDEN)
        for (seq, table, rid, kind, ts, log), (etable, erid, ets, elog) in zip(rows, GOLDEN):
            assert table == etable and ts == ets and log == elog
            if erid is None:
                assert rid == "" and kind == 0
            elif isinstance(erid, int):
                assert rid == str(erid) and kind == 1
            else:
                assert rid == erid and kind == 2


def test_saved_byte_layout_golden():
    """Byte-for-byte check of one record against the hand-assembled
    reference layout (LogWriterClient.scala:59-101)."""
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".saved") as f:
        write_saved(f.name, [("tbl", 258, 0x0102030405060708, "log1")])
        raw = open(f.name, "rb").read()
    expect = (
        struct.pack(">i", 2)
        + bytes([3]) + b"tbl"                      # u29 len + utf8
        + bytes([1]) + struct.pack(">i", 258)      # IntIdMarker + int32 BE
        + struct.pack(">q", 0x0102030405060708)    # int64 BE ts
        + bytes([4]) + b"log1"
    )
    assert raw == expect


def test_reader_guards(tmp_path):
    p = str(tmp_path / "g.saved")
    # bad version
    open(p, "wb").write(struct.pack(">i", 99))
    with pytest.raises(ValueError, match="Invalid version"):
        decode_saved_bytes(p, open(p, "rb").read())
    # empty table name
    open(p, "wb").write(struct.pack(">i", 2) + bytes([0]))
    with pytest.raises(ValueError, match="Empty tableName"):
        decode_saved_bytes(p, open(p, "rb").read())
    # oversize string length
    body = io.BytesIO()
    body.write(struct.pack(">i", 2))
    write_uint29(body, MAX_BYTES_BUFFER + 1)
    with pytest.raises(ValueError, match="too big"):
        decode_saved_bytes(p, body.getvalue())
    # empty log
    body = io.BytesIO()
    body.write(struct.pack(">i", 2))
    write_uint29(body, 1)
    body.write(b"t" + bytes([0]) + struct.pack(">q", 5))
    write_uint29(body, 0)
    with pytest.raises(ValueError, match="Empty log"):
        decode_saved_bytes(p, body.getvalue())


def test_read_saved_through_spark(spark, tmp_path):
    """End-to-end: real wire files -> binaryFile scan -> decoded DataFrame
    with the reference content hash, ready for the dedup pipeline."""
    import numpy as np

    from log_server_spark.functions.hashing import record_hash_batch

    write_saved(str(tmp_path / "20240301T100000.saved"), GOLDEN[:4])
    write_saved(str(tmp_path / "20240301T100500.saved.gz"), GOLDEN[4:])
    write_saved(str(tmp_path / "ignored.other"), GOLDEN[:1])

    df = read_saved(spark, str(tmp_path)).orderBy("source_file", "rec_seq")
    rows = df.collect()
    assert len(rows) == len(GOLDEN)
    by_key = {(r["table"], r["record_id"], r["ts_millis"]): r for r in rows}
    for table, rid, ts, log in GOLDEN:
        canon = "" if rid is None else str(rid)
        r = by_key[(table, canon, ts)]
        assert r["text"] == log
        assert r["n_bytes"] == len(log.encode("utf-8"))
        want = int(record_hash_batch([log.encode("utf-8")], np.array([ts]))[0])
        assert r["record_hash"] == want
    # the sum-type distinction survives: int 42 vs string "u42"/unicode keys
    kinds = {(r["record_id"], r["id_kind"]) for r in rows}
    assert ("42", 1) in kinds and ("u42", 2) in kinds and ("", 0) in kinds
    # dedup-pipeline compatibility: the decoded frame joins on the same
    # dedup key columns with no nulls
    assert df.filter("table IS NULL OR record_id IS NULL OR record_hash IS NULL").count() == 0


def test_saved_rotation_lands_between_updates(spark, tmp_path):
    """A `.saved` rotation that lands after an update is ingested by the next
    one (T2 file rotation), an exact copy of an already committed record in
    it is dropped (T3 late duplicate), and a third update has nothing to do."""
    from pyspark.sql import functions as F

    from log_server_spark.catalog import Warehouse
    from log_server_spark.plans.pipeline import RECORDS, run_pipeline

    ts0 = 1_700_000_000_000
    saved_dir = tmp_path / "in"
    saved_dir.mkdir()
    wh_dir = str(tmp_path / "wh")

    def update():
        return run_pipeline(spark, str(saved_dir), wh_dir, batch_files=1, source_format="saved")

    recs_a = [("users", i, ts0 + i * 1_000, f"row a{i}") for i in range(50)]
    write_saved(str(saved_dir / "unit-00000.saved"), recs_a)
    assert [(r.batch, r.added) for r in update()] == [("b00000", 50)]

    recs_b = [("orders", f"u{i}", ts0 + i * 777, f"row b{i}") for i in range(30)]
    recs_b.append(recs_a[0])
    write_saved(str(saved_dir / "unit-00001.saved.gz"), recs_b)
    assert [(r.batch, r.added, r.duplicates) for r in update()] == [("b00001", 30, 1)]
    records = Warehouse(wh_dir, spark).read(RECORDS)
    assert records.filter(F.col("status") == "ok").count() == records.count() == 80

    assert update() == []
