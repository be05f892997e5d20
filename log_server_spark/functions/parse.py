"""Spark parse stage: pages -> exploded log records.

Two code paths, one semantics (:mod:`log_server_spark.parse_ref` is the
semantic truth — see its docstring for reference citations):

- **Vectorized fast path (default)**: ``mapInArrow`` over
  :func:`log_server_spark.functions.parse_vec.parse_record_batch` — pure
  pyarrow/numpy kernels for ASCII pages (C++ split/trim/RE2 + numpy date
  parse + zero-copy murmur3 over the Arrow buffer), with non-ASCII pages
  (the cp1251 sniff territory, SourceUtils.scala:8-13) falling back to
  ``parse_ref.parse_page`` per record inside the same batch — kept on
  MEASURED evidence: a full vectorization of that residue ran 0.3-0.7x
  slower (see parse_vec.py's docstring). One Python
  crossing, no pandas object materialization, no per-row Python on the hot
  subset. See parse_vec's docstring for why this beats a JVM codegen
  restatement.
- **Reference slow path** (``fast=False``): ``mapInPandas`` over
  ``parse_ref.parse_page`` for every page — per-record Python, byte-exact
  by construction; the A/B target for the parity suite.

``tests/test_parse_fastpath.py`` asserts row-for-row equality of fast vs
slow output over the full datagen corpus (every planted error class, incl.
cp1251 pages) plus adversarial edge pages.

Missing/empty record ids are canonicalized to ``""`` (the reference's
``RecordId.empty``), never NULL — this keeps the dedup key null-free so the
cross-batch left-anti join needs no null-safe equality.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_server_spark.functions.hashing import record_hash_batch
from log_server_spark.parse_ref import OK, parse_page

PARSED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, seq int, status string, "
    "table string, record_id string, ts_millis long, text string, "
    "n_bytes long, record_hash int"
)


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        urls: list[str] = []
        wts: list = []
        langs: list = []
        seqs: list[int] = []
        statuses: list[str] = []
        tables: list[str] = []
        rids: list[str] = []
        tsms: list = []
        texts: list[str] = []
        datas: list[bytes] = []
        for url, w, lang, html in zip(pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["html"]):
            for r in parse_page(html):
                urls.append(url)
                wts.append(w)
                langs.append(lang)
                seqs.append(r.seq)
                statuses.append(r.status)
                tables.append(r.table or "")
                rids.append(r.record_id or "")
                tsms.append(r.ts_millis)
                texts.append(r.text)
                datas.append(r.text.encode("utf-8"))
        ts_arr = np.array([t if t is not None else 0 for t in tsms], dtype=np.int64)
        hashes = record_hash_batch(datas, ts_arr)
        # the UTF-8 payload bytes (`data` in the reference record) are NOT
        # carried downstream — `text` is the same content (UTF-8 encoding of
        # a unicode string is unique), so shipping both would double every
        # shuffle/persist/write; we keep the byte length for stats (A1)
        out = pd.DataFrame(
            {
                "url": urls,
                "warc_ts": wts,
                "lang": langs,
                "seq": pd.array(seqs, dtype="int32"),
                "status": statuses,
                "table": tables,
                "record_id": rids,
                "ts_millis": pd.array(tsms, dtype="Int64"),
                "text": texts,
                "n_bytes": pd.array([len(d) for d in datas], dtype="int64"),
                "record_hash": pd.array(hashes, dtype="Int32"),
            }
        )
        # hash is only meaningful for parseable records
        out.loc[out["status"] != OK, "record_hash"] = pd.NA
        yield out


def _parse_batches_arrow(batches):
    """mapInArrow generator: each Arrow batch of pages through the
    vectorized parser (parse_vec), yielded as record batches; non-ASCII
    pages take its per-record residue path (measured faster than the
    rejected vectorized restatement)."""
    from log_server_spark.functions.parse_vec import parse_record_batch

    for batch in batches:
        yield from parse_record_batch(batch).to_batches()


def parse_pages(pages: DataFrame, fast: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> one row per parsed record.

    ``fast=True`` (default) takes the vectorized Arrow path; ``fast=False``
    is the per-record reference path the parity suite compares against.

    Also derives ``domain`` JVM-side (regexp over url — stays in codegen,
    never enters Python).
    """
    base = pages.select("url", "warc_ts", "lang", "html")
    if fast:
        parsed = base.mapInArrow(_parse_batches_arrow, schema=PARSED_SCHEMA)
    else:
        parsed = base.mapInPandas(_parse_batches, schema=PARSED_SCHEMA)
    return parsed.withColumn(
        "domain", F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1)
    )
