"""Driver-oracle queries for the graft core: the real parse -> dedup path.

Round 1 verified the legacy-format parser (S3/C6-C9), record-id coercion
(F7), and first-wins dedup (J1/A5) only through pytest goldens. These
queries put the SAME code paths (``functions/parse.py`` mapInArrow over
``parse_vec``, ``operators/dedup.py``) under the driver's DuckDB value
check:

- ``parse_records``: synthesize legacy-format pages (the OldLogReader wire
  shape, /root/reference/log-server-db/.../reader/OldLogReader.scala:19-66)
  deterministically FROM the driver's ``documents`` table inside the query
  — header line ``---- yyyy-MM-dd HH:mm:ss table:<t> id:<tok>``, chunks
  separated by the ``\\n\\n---- `` delimiter, planted bad-date /
  missing-table / no-newline / zero-padded-id / string-id variants — run
  the real Arrow parse stage over the bytes, and emit
  ``(doc_id, seq, status, tbl, record_id, ts_ms, fp=md5(text))``. The
  DuckDB oracle constructs the expected rows from the same pure functions
  of ``doc_id``/``text``.

- ``dedup_pipeline``: two-slice ingest over the same synthetic pages with
  planted cross-doc exact clones; slice 1 is deduped first-wins in-batch
  (BigStorage.scala:316-333), its keys become the committed set, slice 2 is
  deduped in-batch then anti-joined against the committed keys
  (HeaderStorage.scala:99-114) — the reference's cross-generation probe.
  The oracle replays the same decisions with window functions keyed on
  ``(tbl, record_id, ts_ms, fp)``; the Spark side keys on the REAL record
  hash (murmur3 ^ ts-fold, Storage.scala:48-49), which is a pure function
  of (text, ts), so the decisions coincide (hash collisions aside, ~1e-6
  at this scale).

Everything here is ASCII-only by construction (payloads are
whitespace-normalized slices of ``documents.text``), so the byte-level
charset-sniff paths stay pytest/golden territory while the structural
parse semantics get the driver's hard signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_server_spark.functions.parse import parse_pages
from log_server_spark.operators.dedup import DEDUP_KEY
from log_server_spark.plan_util import spread_small_input

# 2024-01-01T00:00:00Z — synthetic record-time origin
E0 = 1_704_067_200


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Spark-side page synthesis (all JVM expressions — no Python until the parse)
# ---------------------------------------------------------------------------

def synth_legacy_pages(docs: DataFrame, url_id: str = "doc_id", content_id: str = "doc_id") -> DataFrame:
    """documents-ish frame -> pages(url, warc_ts, lang, html).

    ``html`` embeds two legacy chunks derived purely from ``content_id`` +
    ``text`` + ``source``; ``url`` encodes ``url_id`` (zero-padded so string
    order == numeric order, the deterministic source order O4). When
    ``content_id != url_id`` the page is an exact content clone of another
    doc — the planted-duplicate knob.
    """
    cid = F.col(content_id)
    clean = F.trim(F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\s+", " "))
    pay1 = F.trim(F.concat(F.lit("p1 "), F.substring(clean, 1, 120)))
    pay2 = F.trim(F.concat(F.lit("p2 "), F.substring(clean, 121, 120)))
    ts1 = F.date_format(F.timestamp_seconds(F.lit(E0) + cid * 7), "yyyy-MM-dd HH:mm:ss")
    ts2 = F.date_format(F.timestamp_seconds(F.lit(E0) + cid * 7 + 61), "yyyy-MM-dd HH:mm:ss")
    ts1s = F.when(cid % 17 == 0, F.lit("XXXX-01-01 00:00:00")).otherwise(ts1)
    id_tok = (
        F.when(cid % 23 == 21, F.concat(F.lit("u"), cid.cast("string")))
        .when(cid % 5 == 0, F.lpad(cid.cast("string"), 8, "0"))
        .otherwise(cid.cast("string"))
    )
    chunk1 = F.concat(
        F.lit("---- "), ts1s, F.lit(" table:ros."), F.col("source"),
        F.lit(" id:"), id_tok, F.lit(" op:sync\n"), pay1,
    )
    body2 = (
        F.when(
            cid % 19 == 0,
            F.concat(ts2, F.lit(" table:"), F.col("source"), F.lit(" id:9 no-body-here")),
        )
        .when(
            cid % 13 == 0,
            F.concat(ts2, F.lit(" level:INFO id:"), cid.cast("string"), F.lit(" op:read\n"), pay2),
        )
        .otherwise(
            F.concat(ts2, F.lit(" table:"), F.col("source"), F.lit("_x op:read\n"), pay2)
        )
    )
    html_s = F.concat(chunk1, F.lit("\n\n---- "), body2)
    # small-input/heavy-compute guard: the documents table fits one parquet
    # split, which would run the downstream Arrow parse on a single core
    # (file-size-gated, no plan probe — see plan_util.spread_small_input)
    docs = spread_small_input(docs)
    return docs.select(
        # lpad TRUNCATES beyond the pad width (both engines) — 12 digits
        # keeps string order == numeric order up to 10^12 ids
        F.concat(F.lit("doc://"), F.lpad(F.col(url_id).cast("string"), 12, "0")).alias("url"),
        F.timestamp_seconds(F.lit(E0)).alias("warc_ts"),
        F.col("lang"),
        F.encode(html_s, "UTF-8").alias("html"),
    )


_PARSED_OUT = [
    # doc_id back out of the url; the rest straight off the parse stage
    lambda: F.regexp_extract("url", r"doc://(\d+)", 1).cast("long").alias("doc_id"),
    lambda: F.col("seq").cast("long").alias("seq"),
    lambda: F.col("status"),
    lambda: F.col("table").alias("tbl"),
    lambda: F.col("record_id"),
    lambda: F.coalesce(F.col("ts_millis"), F.lit(-1)).alias("ts_ms"),
    lambda: F.md5(F.encode("text", "UTF-8")).alias("fp"),
]


def q_parse_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synth_legacy_pages(_t(spark, sf_dir, "documents"))
    return parse_pages(pages).select(*[c() for c in _PARSED_OUT])


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch ingest with in-batch first-wins + cross-batch anti-join.

    Docs with ``doc_id % 10 in (8, 9)`` are exact content clones of the
    decade anchor (``doc_id - doc_id % 10``); slices by ``doc_id % 3`` put
    clones both in-batch (same slice as anchor) and cross-batch.

    Round 6 plan shape: because BOTH batches are in one plan here, the
    per-batch first-wins dedups and the cross-batch anti-join collapse
    into ONE aggregate over the dedup key — per key take the batch-1
    winner ``min(struct(order, row))`` over batch-1 rows and the batch-2
    winner over batch-2 rows, then emit the batch-1 winner when it exists,
    else the batch-2 winner. Provably the same rows as
    ``split_duplicates(b1) UNION (split_duplicates(b2) ANTI JOIN keys(b1))``:
    the dedup keys partition the output, batch-1 keys keep their batch-1
    winner (the anti-join would have dropped the batch-2 one), and keys
    seen only in batch 2 keep their batch-2 winner
    (tests/test_round6.py asserts equality with the operator composition).
    This replaces 1 persist + 2 aggregate exchanges + a broadcast anti-join
    + a union with a single shuffle, and the parse stage runs exactly once
    WITHOUT a cache (one consumer), so no persist bookkeeping either
    (measured sf0.1 local[32]: 29.2 -> ~16 cpu-s, wall 1.72 -> ~0.95).
    The real incremental pipeline (plans/pipeline.py) keeps the
    split_duplicates + anti_join_committed composition — there the
    committed side is an EXISTING table, not a co-planned batch.
    """
    docs = _t(spark, sf_dir, "documents")
    anchor = F.when(
        F.col("doc_id") % 10 >= 8, F.col("doc_id") - F.col("doc_id") % 10
    ).otherwise(F.col("doc_id"))
    content = docs.select(
        F.col("doc_id").alias("cid"), F.col("text"), F.col("source"), F.col("lang")
    )
    anchored = (
        docs.select(F.col("doc_id"), anchor.alias("anchor"))
        .join(F.broadcast(content), F.col("anchor") == F.col("cid"))
        .select("doc_id", "cid", "text", "source", "lang")
    )
    pages = synth_legacy_pages(anchored, url_id="doc_id", content_id="cid")
    parsed = (
        parse_pages(pages)
        .filter(F.col("status") == "ok")
        .withColumn("doc_id", F.regexp_extract("url", r"doc://(\d+)", 1).cast("long"))
    )
    in_b1 = (F.col("doc_id") % 3 != 2).alias("__b1")
    # §2.3 project-before-the-exchange (round 6, second pass): the packed
    # winner carries exactly the 7 OUTPUT columns, computed BEFORE the
    # dedup shuffle — fp (a 16-byte md5) replaces the ~240-char text, and
    # lang/warc_ts/n_bytes (never output) don't cross the wire at all.
    # fp is a pure function of the winner row's text, so computing it
    # pre-aggregate on every row vs post-aggregate on the winner yields
    # the same value for the same winner; the winner itself is pinned by
    # the unchanged (url, seq) order key. Narrower rows also shrink the
    # two min-buffer payload copies per first-seen key.
    outcols = F.struct(
        F.col("doc_id"),
        F.col("seq").cast("long").alias("seq"),
        F.col("status"),
        F.col("table").alias("tbl"),
        F.col("record_id"),
        F.coalesce(F.col("ts_millis"), F.lit(-1)).alias("ts_ms"),
        F.md5(F.encode("text", "UTF-8")).alias("fp"),
    )
    ordk = F.struct(F.col("url"), F.col("seq"))
    packed = F.struct(ordk.alias("k"), outcols.alias("r"))
    winners = (
        parsed.withColumn("__b1", in_b1)
        .groupBy(*DEDUP_KEY)
        .agg(
            F.min(F.when(F.col("__b1"), packed)).alias("w1"),
            F.min(F.when(~F.col("__b1"), packed)).alias("w2"),
        )
    )
    return winners.select(
        F.when(F.col("w1").isNotNull(), F.lit(1)).otherwise(F.lit(2)).cast("long").alias("batch"),
        F.coalesce(F.col("w1.r"), F.col("w2.r")).alias("_row"),
    ).select("batch", "_row.*")


# ---------------------------------------------------------------------------
# DuckDB oracles — expected rows as pure SQL functions of (doc_id, text)
# ---------------------------------------------------------------------------

def _base_cte(anchored: bool) -> str:
    if anchored:
        d = r"""
d AS (
  SELECT x.doc_id, a.doc_id AS cid, a.source, a.lang,
         trim(regexp_replace(coalesce(a.text, ''), '\s+', ' ', 'g')) AS clean
  FROM documents x
  JOIN documents a
    ON a.doc_id = CASE WHEN x.doc_id % 10 >= 8 THEN x.doc_id - x.doc_id % 10
                       ELSE x.doc_id END
)"""
    else:
        d = r"""
d AS (
  SELECT doc_id, doc_id AS cid, source, lang,
         trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS clean
  FROM documents
)"""
    return (
        d
        + f""",
base AS (
  SELECT doc_id, cid, source, lang,
         trim('p1 ' || substr(clean, 1, 120)) AS pay1,
         trim('p2 ' || substr(clean, 121, 120)) AS pay2,
         strftime(make_timestamp(({E0} + cid * 7) * 1000000), '%Y-%m-%d %H:%M:%S') AS ts1,
         strftime(make_timestamp(({E0} + cid * 7 + 61) * 1000000), '%Y-%m-%d %H:%M:%S') AS ts2,
         CASE WHEN cid % 23 = 21 THEN 'u' || CAST(cid AS VARCHAR)
              WHEN cid % 5 = 0 THEN lpad(CAST(cid AS VARCHAR), 8, '0')
              ELSE CAST(cid AS VARCHAR) END AS id_tok
  FROM d
),
r1 AS (
  SELECT doc_id, lang, CAST(0 AS BIGINT) AS seq,
         CASE WHEN cid % 17 = 0 THEN 'err_bad_date' ELSE 'ok' END AS status,
         CASE WHEN cid % 17 = 0 THEN '' ELSE source END AS tbl,
         CASE WHEN cid % 23 = 21 THEN 'u' || CAST(cid AS VARCHAR)
              ELSE CAST(cid AS VARCHAR) END AS record_id,
         CASE WHEN cid % 17 = 0 THEN -1 ELSE ({E0} + cid * 7) * 1000 END AS ts_ms,
         md5('---- ' || CASE WHEN cid % 17 = 0 THEN 'XXXX-01-01 00:00:00' ELSE ts1 END
             || ' table:ros.' || source || ' id:' || id_tok || ' op:sync'
             || chr(10) || pay1) AS fp
  FROM base
),
r2 AS (
  SELECT doc_id, lang, CAST(1 AS BIGINT) AS seq,
         CASE WHEN cid % 19 = 0 THEN 'err_no_newline'
              WHEN cid % 13 = 0 THEN 'err_missing_table'
              ELSE 'ok' END AS status,
         CASE WHEN cid % 19 = 0 OR cid % 13 = 0 THEN '' ELSE source || '_x' END AS tbl,
         CASE WHEN cid % 19 = 0 THEN ''
              WHEN cid % 13 = 0 THEN CAST(cid AS VARCHAR)
              ELSE '' END AS record_id,
         CASE WHEN cid % 19 = 0 THEN -1 ELSE ({E0} + cid * 7 + 61) * 1000 END AS ts_ms,
         md5('---- ' ||
             CASE WHEN cid % 19 = 0
                  THEN ts2 || ' table:' || source || ' id:9 no-body-here'
                  WHEN cid % 13 = 0
                  THEN ts2 || ' level:INFO id:' || CAST(cid AS VARCHAR) || ' op:read' || chr(10) || pay2
                  ELSE ts2 || ' table:' || source || '_x op:read' || chr(10) || pay2
             END) AS fp
  FROM base
)"""
    )


SQL_PARSE_RECORDS = f"""
WITH {_base_cte(anchored=False)}
SELECT doc_id, seq, status, tbl, record_id, ts_ms, fp FROM r1
UNION ALL
SELECT doc_id, seq, status, tbl, record_id, ts_ms, fp FROM r2
"""


SQL_DEDUP_PIPELINE = f"""
WITH {_base_cte(anchored=True)},
recs AS (
  SELECT * FROM r1 WHERE status = 'ok'
  UNION ALL
  SELECT * FROM r2 WHERE status = 'ok'
),
b AS (
  SELECT *, CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS batch FROM recs
),
k1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, record_id, ts_ms, fp
                                 ORDER BY doc_id, seq) AS rn
    FROM b WHERE batch = 1) WHERE rn = 1
),
k2c AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, record_id, ts_ms, fp
                                 ORDER BY doc_id, seq) AS rn
    FROM b WHERE batch = 2) WHERE rn = 1
),
k2 AS (
  SELECT * FROM k2c
  WHERE NOT EXISTS (SELECT 1 FROM k1
                    WHERE k1.tbl = k2c.tbl AND k1.record_id = k2c.record_id
                      AND k1.ts_ms = k2c.ts_ms AND k1.fp = k2c.fp)
)
SELECT CAST(batch AS BIGINT) AS batch, doc_id, seq, status, tbl, record_id, ts_ms, fp FROM k1
UNION ALL
SELECT CAST(batch AS BIGINT) AS batch, doc_id, seq, status, tbl, record_id, ts_ms, fp FROM k2
"""


# ---------------------------------------------------------------------------
# Wire-format round-trip: real .saved bytes encoded AND decoded in-plan
# ---------------------------------------------------------------------------

_SAVED_TS0 = 1_700_000_000_000


def q_saved_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode records into the reference's `.saved` wire format and decode
    them back, entirely executor-side — the new-format writer/reader pair
    (LogWriterClient.scala:59-101 / NewLogReader.scala:56-147) under the
    driver's value check.

    Each group of documents becomes one in-memory `.saved` "file" (odd file
    numbers gzip-compressed, exercising the `.saved.gz` branch) built by the
    REAL ``encode_saved``; the bytes then pass through the REAL reader
    decode (``_decode_batches`` — the same generator ``read_saved`` wires
    behind Spark's binaryFile source). All three RecordId variants are
    planted by ``doc_id % 3``. The oracle reconstructs the expected rows as
    pure SQL of (doc_id, text) — any codec asymmetry shows up as a value
    mismatch.
    """
    import pandas as pd

    from log_server_spark.sources.saved_format import (
        SAVED_SCHEMA,
        _decode_batches,
        encode_saved,
        gzip_deterministic,
    )

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 8).alias("file_no"),
        F.col("doc_id"),
        F.concat(F.lit("t"), (F.col("doc_id") % 5).cast("string")).alias("tbl"),
        (F.lit(_SAVED_TS0) + F.col("doc_id") * 1000).alias("ts"),
        F.concat(
            F.lit("d"), F.col("doc_id").cast("string"), F.lit(":"),
            F.coalesce(F.col("text"), F.lit("")),
        ).alias("log"),
    )

    def _encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = []
        for r in pdf.itertuples():
            k = int(r.doc_id) % 3
            rid = int(r.doc_id) if k == 0 else (f"u{r.doc_id}" if k == 1 else None)
            recs.append((r.tbl, rid, int(r.ts), r.log))
        no = int(pdf["file_no"].iloc[0])
        data = encode_saved(recs)
        if no % 2 == 1:
            return pd.DataFrame({"path": [f"mem://{no}.saved.gz"], "content": [gzip_deterministic(data)]})
        return pd.DataFrame({"path": [f"mem://{no}.saved"], "content": [data]})

    files = docs.groupBy("file_no").applyInPandas(
        _encode_group, schema="path string, content binary"
    )
    decoded = files.mapInArrow(_decode_batches, schema=SAVED_SCHEMA)
    return decoded.select(
        F.regexp_extract("text", r"^d(\d+):", 1).cast("long").alias("doc_id"),
        F.col("table").alias("tbl"),
        "record_id",
        "id_kind",
        "ts_millis",
        "text",
        "n_bytes",
    )


SQL_SAVED_ROUNDTRIP = f"""
SELECT doc_id,
       't' || CAST(doc_id % 5 AS VARCHAR) AS tbl,
       CASE doc_id % 3 WHEN 0 THEN CAST(doc_id AS VARCHAR)
                       WHEN 1 THEN 'u' || CAST(doc_id AS VARCHAR)
                       ELSE '' END AS record_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS INTEGER) AS id_kind,
       {_SAVED_TS0} + doc_id * 1000 AS ts_millis,
       'd' || CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '') AS text,
       CAST(strlen('d' || CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')) AS BIGINT) AS n_bytes
FROM documents
"""


# ---------------------------------------------------------------------------
# Full-protocol end-to-end: run_pipeline itself under the driver oracle
# ---------------------------------------------------------------------------


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ``run_pipeline`` protocol — lineage, advisory lock, torn-write
    sweep, day-partitioned keys, anti-join, observe metrics,
    routing, partitioned write — run over two batches of synthesized legacy
    pages into a scratch warehouse, returning the final records projection.

    Batch layout mirrors ``dedup_pipeline``'s two slices (unit file 0 =
    docs with ``doc_id % 3 != 2`` -> batch b00000; file 1 = the rest ->
    b00001), so the oracle is that query's SQL extended with the error rows
    (which bypass dedup, route.py's F4 semantics) and the sink assignment
    (route.py:with_sink — doc:// urls have no extractable domain, so the
    non-error route is lang_<lang> for primary langs else cat_unknown).

    Construction executes the ingest (Spark write jobs + the pipeline's
    O(1)-row driver aggregates) and returns a lazy scan of the warehouse it
    produced — rebuilt from scratch on every call for determinism.
    """
    import hashlib
    import os
    import shutil
    import tempfile

    from log_server_spark.datagen import gen_domain_lookup, gen_lang_lookup
    from log_server_spark.plans.pipeline import RECORDS, run_pipeline

    docs = _t(spark, sf_dir, "documents")
    anchor = F.when(
        F.col("doc_id") % 10 >= 8, F.col("doc_id") - F.col("doc_id") % 10
    ).otherwise(F.col("doc_id"))
    content = docs.select(
        F.col("doc_id").alias("cid"), F.col("text"), F.col("source"), F.col("lang")
    )
    anchored = (
        docs.select(F.col("doc_id"), anchor.alias("anchor"))
        .join(F.broadcast(content), F.col("anchor") == F.col("cid"))
        .select("doc_id", "cid", "text", "source", "lang")
    )
    pages = synth_legacy_pages(anchored, url_id="doc_id", content_id="cid").withColumn(
        "slice", F.regexp_extract("url", r"doc://(\d+)", 1).cast("long") % 3 == 2
    )

    import atexit

    # scratch keyed by (sf_dir, applicationId): two concurrent sessions
    # benching the same sf_dir must not race each other's rmtree; the
    # atexit hook stops per-session dirs from accumulating in the temp fs
    # across repeated bench/correctness runs on a long-lived host
    app_id = spark.sparkContext.applicationId
    base = os.path.join(
        tempfile.gettempdir(),
        f"lss_e2e_{hashlib.md5(f'{sf_dir}|{app_id}'.encode()).hexdigest()[:10]}",
    )
    shutil.rmtree(base, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    pages_dir = os.path.join(base, "pages")
    os.makedirs(pages_dir)
    # two unit files = two batches; fixed names pin the sorted-unit order
    # (slice 0 -> b00000, slice 1 -> b00001)
    for i, sl in enumerate((False, True)):
        tmp = os.path.join(base, f"slice{i}")
        pages.filter(F.col("slice") == sl).drop("slice").coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(pages_dir, f"unit-{i:05d}.parquet"))
        shutil.rmtree(tmp)

    import pyarrow.parquet as _pq

    _pq.write_table(gen_lang_lookup(), os.path.join(base, "lang_lookup.parquet"))
    _pq.write_table(gen_domain_lookup(), os.path.join(base, "domain_lookup.parquet"))

    wh_dir = os.path.join(base, "wh")
    run_pipeline(spark, pages_dir, wh_dir, batch_files=1)

    recs = spark.read.parquet(os.path.join(wh_dir, RECORDS))
    return recs.select(
        F.col("batch"),
        F.col("sink"),
        *[c() for c in _PARSED_OUT],
    )


SQL_PIPELINE_E2E = f"""
WITH {_base_cte(anchored=True)},
recs AS (
  SELECT * FROM r1
  UNION ALL
  SELECT * FROM r2
),
tagged AS (
  SELECT *, CASE WHEN doc_id % 3 = 2 THEN 'b00001' ELSE 'b00000' END AS batch
  FROM recs
),
k1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, record_id, ts_ms, fp
                                 ORDER BY doc_id, seq) AS rn
    FROM tagged WHERE batch = 'b00000' AND status = 'ok') WHERE rn = 1
),
k2c AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, record_id, ts_ms, fp
                                 ORDER BY doc_id, seq) AS rn
    FROM tagged WHERE batch = 'b00001' AND status = 'ok') WHERE rn = 1
),
k2 AS (
  SELECT * FROM k2c
  WHERE NOT EXISTS (SELECT 1 FROM k1
                    WHERE k1.tbl = k2c.tbl AND k1.record_id = k2c.record_id
                      AND k1.ts_ms = k2c.ts_ms AND k1.fp = k2c.fp)
),
final AS (
  SELECT batch, lang, doc_id, seq, status, tbl, record_id, ts_ms, fp FROM k1
  UNION ALL
  SELECT batch, lang, doc_id, seq, status, tbl, record_id, ts_ms, fp FROM k2
  UNION ALL
  -- error rows bypass dedup entirely (route.py F4): every parse-error row
  -- of both batches lands in the error sink, clones included
  SELECT batch, lang, doc_id, seq, status, tbl, record_id, ts_ms, fp
  FROM tagged WHERE status <> 'ok'
)
SELECT batch,
       CASE WHEN status <> 'ok' THEN 'error'
            WHEN lang IN ('en', 'ru', 'de', 'fr', 'es') THEN 'lang_' || lang
            ELSE 'cat_unknown' END AS sink,
       doc_id, seq, status, tbl, record_id, ts_ms, fp
FROM final
"""


REGISTRY_GRAFT: dict[str, tuple] = {
    "parse_records": (q_parse_records, SQL_PARSE_RECORDS),
    "dedup_pipeline": (q_dedup_pipeline, SQL_DEDUP_PIPELINE),
    "saved_roundtrip": (q_saved_roundtrip, SQL_SAVED_ROUNDTRIP),
    "pipeline_e2e": (q_pipeline_e2e, SQL_PIPELINE_E2E),
}
