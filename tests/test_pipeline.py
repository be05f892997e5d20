"""End-to-end DAG tests: dedup semantics, routing, resume/idempotence.

Mirrors the reference's integration golden test structure
(LogServerSpecInt.scala:19-106) and recovery matrix (BigStorageTest).
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from log_server_spark.catalog import Warehouse
from log_server_spark.datagen import gen_pages, write_dataset
from log_server_spark.parse_ref import OK, parse_page
from log_server_spark.plans.pipeline import (
    LINEAGE,
    METRICS_INGEST,
    RECORDS,
    refresh_aggregates,
    run_pipeline,
)

N = 1500
SEED = 42


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    d = tmp_path_factory.mktemp("lss_data")
    write_dataset(str(d), seed=SEED, n=N, num_files=6)
    return str(d)


@pytest.fixture(scope="module")
def warehouse(spark, dataset, tmp_path_factory):
    whdir = str(tmp_path_factory.mktemp("lss_wh"))
    results = run_pipeline(spark, os.path.join(dataset, "pages"), whdir, batch_files=2)
    return Warehouse(whdir, spark), results


def _expected_records(rows_per_batch=500):
    """Driver-side reference computation: global first-wins dedup for ok
    rows; per-batch full-row distinct for error rows (the idempotent error
    sink, round 5 — an exact-duplicate malformed page re-ingested in the
    same batch writes ONE error row; across batches both copies land).
    ``rows_per_batch`` mirrors the module fixture: num_files=6 over N=1500
    pages -> 250 rows/file, batch_files=2 -> 500 consecutive rows/batch."""
    tbl = gen_pages(seed=SEED, n=N)
    seen = set()
    ok_kept, dups, errors = [], 0, 0
    err_seen: set = set()
    rows = list(zip(tbl["url"].to_pylist(), tbl["warc_ts"].to_pylist(), tbl["html"].to_pylist()))
    # pipeline order: files sorted, rows in file order == generation order
    for i, (url, wts, html) in enumerate(rows):
        if i % rows_per_batch == 0:
            err_seen = set()
        for r in parse_page(html):
            if r.status != OK:
                # every parse-output column is a function of (url, wts,
                # html, seq) — this tuple IS the full-row identity
                k = (url, wts, html, r.seq)
                if k not in err_seen:
                    err_seen.add(k)
                    errors += 1
                continue
            key = (r.table, r.record_id or "", r.text.encode("utf-8"), r.ts_millis)
            if key in seen:
                dups += 1
            else:
                seen.add(key)
                ok_kept.append((url, r.seq, r.table, r.record_id or "", r.ts_millis))
    return ok_kept, dups, errors


@pytest.mark.slow
def test_dedup_and_error_counts_match_reference(spark, warehouse):
    wh, results = warehouse
    ok_kept, dups, errors = _expected_records()
    records = wh.read(RECORDS)
    assert records.filter(F.col("status") == "ok").count() == len(ok_kept)
    assert records.filter(F.col("status") != "ok").count() == errors
    assert sum(r.duplicates for r in results) == dups
    assert sum(r.added for r in results) == len(ok_kept)


def test_first_wins_keeps_earliest_and_versions_kept(spark, warehouse):
    wh, _ = warehouse
    ok_kept, _, _ = _expected_records()
    got = {
        (r["table"], r["record_id"], r["ts_millis"], r["seq"]): r["url"]
        for r in wh.read(RECORDS).filter(F.col("status") == "ok").collect()
    }
    # every reference-kept record present, with the first-seen url winning
    want = {}
    for url, seq, table, rid, ts in ok_kept:
        want.setdefault((table, rid, ts, seq), url)
    for k, url in want.items():
        assert k in got
    # same-key different-content versions are all kept: keys with >1 ts
    from collections import Counter

    per_key = Counter((t, r) for t, r, _, _ in want)
    assert any(v > 1 for v in per_key.values()), "fixture should contain same-key versions"


def test_routing_total_and_error_sink(spark, warehouse):
    wh, _ = warehouse
    records = wh.read(RECORDS)
    n_total = records.count()
    sinks = {r["sink"]: r["n"] for r in records.groupBy("sink").agg(F.count("*").alias("n")).collect()}
    assert sum(sinks.values()) == n_total  # exactly one sink per row
    _, _, errors = _expected_records()
    assert sinks.get("error", 0) == errors
    assert records.filter((F.col("status") != "ok") & (F.col("sink") != "error")).count() == 0
    assert any(s.startswith("lang_") for s in sinks)
    assert any(s.startswith("cat_") for s in sinks)


def test_enrichment_broadcast_nulls_for_missing_domains(spark, warehouse):
    wh, _ = warehouse
    records = wh.read(RECORDS)
    # every 10th domain is absent from domain_lookup -> NULL category rows exist
    assert records.filter(F.col("category").isNull()).count() > 0
    known = records.filter(F.col("category").isNotNull())
    assert known.count() > 0


def test_resume_noop_when_committed(spark, warehouse, dataset):
    wh, _ = warehouse
    before = wh.read(RECORDS).count()
    results = run_pipeline(spark, os.path.join(dataset, "pages"), wh.root, batch_files=2)
    assert results == []
    assert wh.read(RECORDS).count() == before


@pytest.mark.slow
def test_torn_batch_reprocessed_idempotently(spark, warehouse, dataset):
    """Crash-after-write-before-lineage: batch dir exists, no lineage row.
    Rerun must converge to the identical final state (T4 analogue)."""
    wh, _ = warehouse
    records_before = sorted(
        (r["table"], r["record_id"], r["ts_millis"] or -1, r["seq"], r["url"], r["sink"])
        for r in wh.read(RECORDS).collect()
    )
    # simulate torn state: drop last batch's lineage rows, keep its data dir
    lineage = wh.read(LINEAGE)
    last = lineage.agg(F.max("batch").alias("b")).collect()[0]["b"]
    keep = lineage.filter(F.col("batch") != last).collect()
    shutil.rmtree(wh.path(LINEAGE))
    if keep:
        spark.createDataFrame(keep, lineage.schema).write.parquet(wh.path(LINEAGE))
    results = run_pipeline(spark, os.path.join(dataset, "pages"), wh.root, batch_files=2)
    assert len(results) == 1 and results[0].batch == last
    records_after = sorted(
        (r["table"], r["record_id"], r["ts_millis"] or -1, r["seq"], r["url"], r["sink"])
        for r in wh.read(RECORDS).collect()
    )
    assert records_after == records_before


def test_update_with_zero_pages(spark, tmp_path):
    """A unit with no pages commits its batch with zero counts and writes no
    records (so no partials: there is nothing to aggregate); a rerun has
    nothing to do."""
    pages = tmp_path / "pages"
    pages.mkdir()
    pq.write_table(gen_pages(seed=SEED, n=1).slice(0, 0), str(pages / "part-00000.parquet"))
    wh_dir = str(tmp_path / "wh")
    results = run_pipeline(spark, str(pages), wh_dir, batch_files=1)
    assert [(r.batch, r.added, r.duplicates, r.errors) for r in results] == [
        ("b00000", 0, 0, 0)
    ]
    wh = Warehouse(wh_dir, spark)
    assert not wh.exists(RECORDS)
    assert [(r["batch"], r["n_pages"]) for r in wh.read(LINEAGE).collect()] == [("b00000", 0)]
    assert [tuple(r)[:5] for r in wh.read(METRICS_INGEST).collect()] == [("b00000", 0, 0, 0, 0)]
    assert refresh_aggregates(wh).collect() == []
    assert run_pipeline(spark, str(pages), wh_dir, batch_files=1) == []


def test_point_lookup_get(spark, warehouse):
    from log_server_spark.operators.lookup import get_records, to_json_records

    wh, _ = warehouse
    records = wh.read(RECORDS)
    sample = records.filter((F.col("status") == "ok") & (F.col("record_id") != "")).limit(1).collect()[0]
    out = get_records(records, sample["table"], sample["record_id"]).collect()
    assert len(out) >= 1
    ts = [r["ts_millis"] for r in out]
    assert ts == sorted(ts)  # O1 ordering
    js = to_json_records(get_records(records, sample["table"], int(sample["record_id"]))).collect()
    assert all('"tableName"' in r["json"] for r in js)


def test_ingest_metrics_sum(spark, warehouse):
    wh, results = warehouse
    m = wh.read(METRICS_INGEST)
    rows = {r["batch"]: r for r in m.collect()}
    for res in results:
        assert rows[res.batch]["added"] == res.added
        assert rows[res.batch]["duplicates"] == res.duplicates
        assert rows[res.batch]["errors"] == res.errors


@pytest.mark.slow
def test_salting_does_not_change_results(spark, dataset, tmp_path_factory):
    """Skew knob (SURVEY §5): hot-domain input must produce identical final
    state with and without salting; salting only spreads reducer load."""
    import glob

    pages = os.path.join(dataset, "pages")
    whs = {}
    for salt in (1, 16):
        whdir = str(tmp_path_factory.mktemp(f"salt{salt}"))
        run_pipeline(spark, pages, whdir, batch_files=6, salt=salt)
        whs[salt] = whdir
    key = lambda r: (r["table"], r["record_id"], r["ts_millis"] or -1, r["seq"], r["url"], r["sink"])
    a = sorted(key(r) for r in spark.read.parquet(os.path.join(whs[1], RECORDS)).collect())
    b = sorted(key(r) for r in spark.read.parquet(os.path.join(whs[16], RECORDS)).collect())
    assert a == b
    # at test scale AQE coalesces the tiny shuffle partitions, so file-count
    # spreading is not observable here; the semantic equality above is the
    # invariant (load-balance evidence lives in the bench at 240k+ pages)
    def nfiles(wh):
        return len(glob.glob(os.path.join(wh, RECORDS, "**", "*.parquet"), recursive=True))
    assert nfiles(whs[16]) >= nfiles(whs[1])


def test_dedup_anti_join_shuffles_batch_once(spark, anti_join_plan):
    """Fast plan check on in-memory frames: the in-batch dedup aggregate's
    shuffle is the only one the batch pays; the anti-join reuses its hash
    partitioning on the dedup key, and only the committed keys shuffle."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    ok = spark.createDataFrame(
        [
            ("u/1", t0, 0, "users", "1", 11, "a"),
            ("u/0", t0, 0, "users", "1", 11, "a"),  # in-batch duplicate, wins on url
            ("u/2", t0, 0, "users", "2", 22, "b"),  # committed earlier
            ("u/3", t0, 0, "users", "3", 33, "c"),
        ],
        "url string, warc_ts timestamp, seq int, table string, record_id string, "
        "record_hash int, text string",
    )
    committed = spark.createDataFrame(
        [("users", "2", 22), ("users", "2", 22), ("users", "3", 34)],
        "table string, record_id string, record_hash int",
    )
    anti_join_plan(ok, committed)
    from log_server_spark.operators.dedup import anti_join_committed, split_duplicates

    assert split_duplicates(ok)[0].columns == ok.columns
    kept = anti_join_committed(split_duplicates(ok)[0], committed)
    assert sorted((r["url"], r["record_id"]) for r in kept.collect()) == [("u/0", "1"), ("u/3", "3")]


def test_keys_one_file_per_batch_day_and_replay_is_cross_batch_dup(spark, tmp_path):
    """Two batches over hand-made pages: the keys table holds exactly one
    file per (batch, day), and a page replayed in batch 2 is counted as a
    cross-batch duplicate, not added again."""
    import datetime as dt
    import glob

    import pyarrow as pa

    from log_server_spark.plans.pipeline import RECORDS_KEYS

    def page(url, day, rid):
        html = f"---- 2024-03-0{day} 10:00:00 level:INFO table:users id:{rid} op:create\nbody {rid}"
        return url, dt.datetime(2024, 3, day, 12, tzinfo=dt.timezone.utc), html

    def unit(path, rows):
        pq.write_table(pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r[2].encode() for r in rows], pa.binary()),
            "text": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        }), path)

    pages = tmp_path / "pages"
    pages.mkdir()
    unit(str(pages / "part-00000.parquet"), [page("https://a.example/1", 1, 1), page("https://a.example/2", 2, 2)])
    unit(str(pages / "part-00001.parquet"), [
        page("https://a.example/1", 1, 1),  # replay of batch 1's first page
        page("https://a.example/3", 2, 3),
        page("https://a.example/4", 3, 4),
    ])
    wh_dir = str(tmp_path / "wh")
    results = run_pipeline(spark, str(pages), wh_dir, batch_files=1)
    assert [(r.batch, r.added, r.duplicates, r.errors) for r in results] == [
        ("b00000", 2, 0, 0), ("b00001", 2, 1, 0),
    ]
    wh = Warehouse(wh_dir, spark)
    day_dirs = glob.glob(os.path.join(wh.path(RECORDS_KEYS), "batch=*", "day=*"))
    assert sorted(os.path.relpath(d, wh.path(RECORDS_KEYS)) for d in day_dirs) == [
        "batch=b00000/day=2024-03-01", "batch=b00000/day=2024-03-02",
        "batch=b00001/day=2024-03-02", "batch=b00001/day=2024-03-03",
    ]
    for d in day_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert sorted(r["record_id"] for r in wh.read(RECORDS).collect()) == ["1", "2", "3", "4"]


def test_repeated_batch_compiles_no_generated_code(spark, tmp_path):
    """A batch whose plans were all compiled before compiles no class again:
    the codegen cache holds every class one ingest batch generates. (At
    Spark's 100-entry default it evicted and recompiled dozens per batch.)"""
    write_dataset(str(tmp_path / "data"), seed=SEED, n=300, num_files=1)
    pages = str(tmp_path / "data" / "pages")
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_of_one_ingest(wh_dir):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        assert len(run_pipeline(spark, pages, wh_dir, batch_files=1)) == 1
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles_of_one_ingest(str(tmp_path / "wh1"))  # compiles what the cache lacks
    assert compiles_of_one_ingest(str(tmp_path / "wh2")) == 0
