"""The Spark parse stage must be row-for-row identical to ``parse_ref``
run in plain Python over the same pages — over the full datagen corpus
(every planted error class + cp1251 residue) and adversarial edge pages."""

import random

import pyarrow as pa
import pytest

from log_server_spark.datagen import gen_pages
from log_server_spark.functions.hashing import murmur3_32
from log_server_spark.functions.parse import parse_pages
from log_server_spark.parse_ref import OK, parse_page

KEY = ["url", "seq", "status", "table", "record_id", "ts_millis", "text", "n_bytes", "record_hash"]


def _record_hash(data: bytes, ts: int) -> int:
    """Scalar reference hash: murmur3(data) ^ int32((ts >> 32) ^ ts)."""
    h = (murmur3_32(data) ^ (ts >> 32) ^ ts) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def _reference_rows(df) -> list[tuple]:
    """``parse_ref.parse_page`` over the collected pages, shaped like the
    parse stage's KEY columns (empty table/id as "", hash only on ok rows)."""
    out = []
    for p in df.select("url", "html").collect():
        html = bytes(p["html"]) if p["html"] is not None else None
        for r in parse_page(html):
            data = r.text.encode("utf-8")
            out.append((
                p["url"], r.seq, r.status, r.table or "", r.record_id or "",
                r.ts_millis, r.text, len(data),
                _record_hash(data, r.ts_millis or 0) if r.status == OK else None,
            ))
    return out


def _rows(spark, df):
    out = [tuple(r) for r in parse_pages(df).select(*KEY).collect()]
    ref = _reference_rows(df)
    k = lambda r: tuple((v if v is not None else "\0") for v in r)
    return sorted(out, key=k), sorted(ref, key=k)


def _pages_df(spark, htmls: list[bytes | None]):
    tbl = pa.table(
        {
            "url": pa.array([f"https://t.example.com/p/{i}" for i in range(len(htmls))]),
            "warc_ts": pa.array([1_700_000_000_000_000] * len(htmls), pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "lang": pa.array(["en"] * len(htmls)),
        }
    )
    return spark.createDataFrame(
        tbl.to_pandas(), schema="url string, warc_ts timestamp, html binary, lang string"
    )


EDGE_PAGES: list[bytes | None] = [
    None,
    b"",
    b"no newline here at all",
    b"---- 2024-03-01 10:00:00 table:users id:7 op:x\nbody text",
    # leading delimiter -> empty chunk 0 (err_no_newline, text "")
    b"\n\n---- 2024-03-01 10:00:00 table:users id:8\nbody",
    # consecutive delimiters
    b"\n\n---- \n\n---- x\ny",
    # trailing delimiter -> final chunk trims to "----" (no newline)
    b"a\nb\n\n---- ",
    # delimiter mid-page: 3 chunks
    b"---- 2024-03-01 10:00:00 table:t id:1\nb1\n\n---- 2024-03-02 11:00:00 table:t id:2\nb2\n\n---- bad\nb3",
    # strict-date torture
    b"---- 2024-02-30 10:00:00 table:t id:1\nfeb30",
    b"---- 2024-02-29 10:00:00 table:t id:1\nleap day ok",
    b"---- 2023-02-29 10:00:00 table:t id:1\nnot a leap year",
    b"---- 2024-13-01 10:00:00 table:t id:1\nmonth 13",
    b"---- 0000-01-01 00:00:00 table:t id:1\nyear zero",
    b"---- 9999-12-31 23:59:59 table:t id:1\nmax year",
    b"---- 2024-03-01 10:00:60 table:t id:1\nleap second",
    b"---- 2024-03-01 10:60:00 table:t id:1\nminute 60",
    b"---- 2024-03-01 24:00:00 table:t id:1\nhour 24",
    b"---- 2024-03-0a 10:00:00 table:t id:1\nnon-digit day",
    b"---- 2024-3-01 10:00:00 table:t id:1\nnon-padded",
    b"---- 2024-03-01T10:00:00 table:t id:1\nwrong separator",
    b"---- 2024\nshort header",
    b"----2024-03-01 10:00:00 table:t\nmissing space after dashes",
    # RecordId coercion torture (RecordId.scala:61-75)
    b"---- 2024-03-01 10:00:00 table:t id:+42\nplus",
    b"---- 2024-03-01 10:00:00 table:t id:-42\nminus",
    b"---- 2024-03-01 10:00:00 table:t id:-0\nminus zero",
    b"---- 2024-03-01 10:00:00 table:t id:0042\npadded",
    b"---- 2024-03-01 10:00:00 table:t id:2147483647\nint max",
    b"---- 2024-03-01 10:00:00 table:t id:2147483648\nint max + 1 -> string",
    b"---- 2024-03-01 10:00:00 table:t id:-2147483648\nint min",
    b"---- 2024-03-01 10:00:00 table:t id:-2147483649\nint min - 1 -> string",
    b"---- 2024-03-01 10:00:00 table:t id:00000000000000042\nlong zero pad",
    b"---- 2024-03-01 10:00:00 table:t id:u77\nstring id",
    b"---- 2024-03-01 10:00:00 table:t id:7a7\nmixed",
    b"---- 2024-03-01 10:00:00 table:t\nno id token",
    b"---- 2024-03-01 10:00:00 table:t id:9 id:10\nfirst id wins",
    b"---- 2024-03-01 10:00:00 table:t\n id:9 in body does not count",
    # table normalization / absence
    b"---- 2024-03-01 10:00:00 table:ros.users id:1\nprefix stripped",
    b"---- 2024-03-01 10:00:00 table:ros. id:1\nempty after strip",
    b"---- 2024-03-01 10:00:00 table:ros.ros.x id:1\nstrip once only",
    b"---- 2024-03-01 10:00:00 id:1\nno table tag",
    b"---- 2024-03-01 10:00:00 table: id:1\nempty token never matches",
    # whitespace torture (java trim <= U+0020 both ends)
    b"\x01\x02 ---- 2024-03-01 10:00:00 table:t id:5\nbody\x1f \t\r\n",
    b"\t---- 2024-03-01 10:00:00 table:t id:5\r\nbody with\r\ncrlf\r\n",
    b"   \n\n---- 2024-03-01 10:00:00 table:t id:5\npadded chunk 0",
]


def test_fast_path_matches_reference_on_edge_pages(spark):
    out, ref = _rows(spark, _pages_df(spark, EDGE_PAGES))
    assert len(out) == len(ref)
    for a, b in zip(out, ref):
        assert a == b, f"\nspark: {a}\nref:   {b}"


def test_fast_path_matches_reference_on_datagen_corpus(spark):
    """Full corpus: every planted class incl. cp1251 pages, which must route
    through the Python residue path and still line up after the union."""
    tbl = gen_pages(seed=99, n=800)
    df = spark.createDataFrame(tbl.to_pandas())
    out, ref = _rows(spark, df)
    assert len(out) == len(ref) > 800
    assert out == ref


def test_fast_path_matches_reference_on_ascii_fuzz(spark):
    """Deterministic fuzz: random ASCII soup with delimiter fragments,
    header-ish lines, and control chars."""
    rng = random.Random(20260816)
    frags = [
        "\n\n---- ", "---- ", "2024-03-01 10:00:00", "2024-99-99 10:00:00",
        " table:users", " table:ros.t", " id:42", " id:u9", " id:007",
        "\n", " ", "\t", "\r\n", "body words here", "x", "\x00\x1f",
        "id:", "table:", "----", "\n\n", "2024-03-01", " 10:00:00",
    ]
    pages = []
    for _ in range(300):
        n = rng.randint(0, 12)
        pages.append("".join(rng.choice(frags) for _ in range(n)).encode("ascii"))
    out, ref = _rows(spark, _pages_df(spark, pages))
    assert len(out) == len(ref)
    assert out == ref


NON_ASCII_EDGE_PAGES: list[bytes] = [
    # pure cp1251 page (invalid as UTF-8 -> whole-chunk redecode)
    "---- 2024-03-01 10:00:00 table:логи id:7 op:x\nтело записи".encode("cp1251"),
    # valid UTF-8 Cyrillic (must NOT be redecoded as cp1251)
    "---- 2024-03-01 10:00:00 table:логи id:8 op:x\nтело записи".encode("utf-8"),
    # mixed page: ASCII chunk + cp1251 chunk + UTF-8 chunk (charset choice
    # is PER CHUNK, SourceUtils.scala:8-13 applied per record)
    b"---- 2024-03-01 10:00:00 table:t id:1\nascii body"
    + b"\n\n---- "
    + "2024-03-02 11:00:00 table:t id:2\nтело".encode("cp1251")[7:]
    + b"\n\n---- "
    + "2024-03-03 12:00:00 table:t id:3\nтело".encode("utf-8")[7:],
    # a GENUINE U+FFFD in valid UTF-8 still triggers the cp1251 redecode
    # (parse_ref checks the decoded string for the replacement char)
    "---- 2024-03-01 10:00:00 table:t id:4\nbody � here".encode("utf-8"),
    # multibyte char INSIDE the date window shifts char-vs-byte positions
    "é--- 2024-03-01 10:00:00 table:t id:5\nbody".encode("utf-8"),
    "-я-- 2024-03-01 10:00:00 table:t id:5\nbody".encode("cp1251"),
    # multibyte directly before the window: byte slice != char slice
    "πé--- 2024-03-01 10:00:00 table:t id:5\nbody".encode("utf-8"),
    # non-ASCII id / table tokens (\S covers them in both engines)
    "---- 2024-03-01 10:00:00 table:ros.таблица id:идент77\nbody".encode("utf-8"),
    "---- 2024-03-01 10:00:00 table:ros.таблица id:идент77\nbody".encode("cp1251"),
    # cp1251 high bytes that ARE valid UTF-8 when adjacent (torture: the
    # sniff sees valid UTF-8 and keeps it even though cp1251 "meant" it)
    b"---- 2024-03-01 10:00:00 table:t id:6\n\xd0\xb0 body",
    # lone high byte (invalid UTF-8 everywhere) -> cp1251
    b"---- 2024-03-01 10:00:00 table:t id:9\nbody \xff tail",
    # high bytes in an err_no_newline chunk
    "нет переносов строк вообще".encode("cp1251"),
    # trailing non-ASCII whitespace-adjacent bytes (trim must not eat them)
    "---- 2024-03-01 10:00:00 table:t id:10\nbody я \t".encode("cp1251"),
]


def test_fast_path_matches_reference_on_non_ascii_edge_pages(spark):
    """The vectorized mixed-encoding path (round 4) against parse_ref:
    per-chunk charset decision, codepoint date slice, utf8-byte hashing."""
    out, ref = _rows(spark, _pages_df(spark, NON_ASCII_EDGE_PAGES))
    assert len(out) == len(ref)
    for a, b in zip(out, ref):
        assert a == b, f"\nspark: {a}\nref:   {b}"


def test_fast_path_matches_reference_on_non_ascii_fuzz(spark):
    """Deterministic fuzz over byte soup mixing delimiter fragments with
    cp1251/UTF-8/invalid high-byte runs, overlongs, surrogates, and
    truncated multibyte sequences at chunk ends."""
    rng = random.Random(20260817)
    frags = [
        b"\n\n---- ", b"---- ", b"2024-03-01 10:00:00", b" table:users",
        b" id:42", b"\n", b" ", b"body", b"\xff", b"\xd0", b"\xb0",
        "тело".encode("cp1251"), "тело".encode("utf-8"), b"\xef\xbf\xbd",
        "é".encode("utf-8"), b"\xe9", b"\x00\x1f", b"----",
        b"\xc0\xaf", b"\xed\xa0\x80", b"\xf4\x90\x80\x80", "😀".encode(),
        b"\xe0\xa0", b"\xf0\x90\x80", b"\xc2",
    ]
    pages = []
    for _ in range(300):
        n = rng.randint(0, 12)
        pages.append(b"".join(rng.choice(frags) for _ in range(n)))
    out, ref = _rows(spark, _pages_df(spark, pages))
    assert len(out) == len(ref)
    assert out == ref


def test_fast_path_plan_is_single_arrow_crossing(spark):
    """The parse stage must be ONE MapInArrow node — no row-at-a-time Python
    (BatchEvalPython), no pandas conversion (MapInPandas), no second Python
    crossing for the hash."""
    tbl = gen_pages(seed=5, n=50)
    df = spark.createDataFrame(tbl.to_pandas())
    plan = parse_pages(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("MapInArrow") == 1


@pytest.mark.parametrize("n", [0, 1])
def test_fast_path_handles_degenerate_inputs(spark, n):
    pages = [b"---- 2024-03-01 10:00:00 table:t id:1\nx"] * n
    df = _pages_df(spark, pages)
    out, ref = _rows(spark, df)
    assert out == ref and len(out) == n
