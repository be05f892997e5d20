"""Spark parse stage: pages -> exploded log records.

One code path, with :mod:`log_server_spark.parse_ref` as the semantic truth
(see its docstring for reference citations): ``mapInArrow`` over
:func:`log_server_spark.functions.parse_vec.parse_record_batch` — pure
pyarrow/numpy kernels for ASCII pages (C++ split/trim/RE2 + numpy date
parse + zero-copy murmur3 over the Arrow buffer), with non-ASCII pages (the
cp1251 sniff territory, SourceUtils.scala:8-13) taking
``parse_ref.parse_page`` per record inside the same batch — kept on
MEASURED evidence: a full vectorization of that residue ran 0.3-0.7x
slower (see parse_vec.py's docstring). One Python crossing, no pandas
object materialization, no per-row Python on the hot subset. See
parse_vec's docstring for why this beats a JVM codegen restatement.

``tests/test_parse_fastpath.py`` asserts row-for-row equality with
``parse_ref.parse_page`` run in plain Python (plus the scalar murmur3
record hash) over the full datagen corpus (every planted error class, incl.
cp1251 pages) and adversarial edge pages.

The UTF-8 payload bytes (``data`` in the reference record) are not carried
downstream: ``text`` is the same content, so shipping both would double
every shuffle/persist/write; ``n_bytes`` keeps the byte length for stats.

Missing/empty record ids are canonicalized to ``""`` (the reference's
``RecordId.empty``), never NULL — this keeps the dedup key null-free so the
cross-batch left-anti join needs no null-safe equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARSED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, seq int, status string, "
    "table string, record_id string, ts_millis long, text string, "
    "n_bytes long, record_hash int"
)


def _parse_batches_arrow(batches):
    """mapInArrow generator: each Arrow batch of pages through the
    vectorized parser (parse_vec), yielded as record batches; non-ASCII
    pages take its per-record residue path (measured faster than the
    rejected vectorized restatement)."""
    from log_server_spark.functions.parse_vec import parse_record_batch

    for batch in batches:
        yield from parse_record_batch(batch).to_batches()


def parse_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> one row per parsed record.

    Also derives ``domain`` JVM-side (regexp over url — stays in codegen,
    never enters Python).
    """
    parsed = pages.select("url", "warc_ts", "lang", "html").mapInArrow(
        _parse_batches_arrow, schema=PARSED_SCHEMA
    )
    return parsed.withColumn(
        "domain", F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1)
    )
