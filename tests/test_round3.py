"""Round-3 regressions: keys-day soundness, a cut-off fresh ingest resumes
without loss, crash-recoverable bookkeeping rewrites (ADVICE.md round 2),
and read-only archived batches."""

import glob
import os
import shutil
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from log_server_spark.catalog import Warehouse
from log_server_spark.datagen import gen_domain_lookup, gen_lang_lookup, write_dataset
from log_server_spark.plans.pipeline import (
    LINEAGE,
    METRICS_INGEST,
    RECORDS,
    RECORDS_KEYS,
    run_pipeline,
)


def _write_pages_unit(path: str, rows: list[tuple[str, datetime, str]]) -> None:
    """rows: (url, warc_ts, html_str)."""
    pa_rows = {
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r[2].encode() for r in rows], pa.binary()),
        "text": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    }
    pq.write_table(pa.table(pa_rows), path)


@pytest.fixture()
def skewed_capture_dataset(tmp_path_factory):
    """Pages whose CAPTURE day (warc_ts) is weeks away from the record-header
    ts day — the case that exposed the warc-day keys partitioning hole."""
    base = str(tmp_path_factory.mktemp("r3_skew"))
    pages = os.path.join(base, "pages")
    os.makedirs(pages)
    # header ts 2024-03-01; capture (warc) days 2024-05-15 / 2024-06-20
    html = "---- 2024-03-01 10:00:00 level:INFO table:users id:7 op:create\nhello body"
    _write_pages_unit(
        os.path.join(pages, "part-00000.parquet"),
        [("https://a.example.com/p/1", datetime(2024, 5, 15, tzinfo=timezone.utc), html)],
    )
    _write_pages_unit(
        os.path.join(pages, "part-00001.parquet"),
        [
            # exact cross-batch duplicate content, captured five weeks later
            ("https://a.example.com/p/1b", datetime(2024, 6, 20, tzinfo=timezone.utc), html),
            # plus one genuinely new record so the batch writes data
            (
                "https://a.example.com/p/2",
                datetime(2024, 6, 20, tzinfo=timezone.utc),
                "---- 2024-03-02 11:00:00 level:INFO table:users id:8 op:create\nother body",
            ),
        ],
    )
    pq.write_table(gen_lang_lookup(), os.path.join(base, "lang_lookup.parquet"))
    pq.write_table(gen_domain_lookup(), os.path.join(base, "domain_lookup.parquet"))
    return pages


def test_keys_day_derived_from_record_ts_not_capture_ts(spark, skewed_capture_dataset, tmp_path_factory):
    """ADVICE #1 (high): a committed duplicate whose capture day lies outside
    the new batch's header-ts day window must STILL be caught by the
    anti-join — keys-table day partitions must follow ts_millis."""
    wh_dir = str(tmp_path_factory.mktemp("r3_skew_wh"))
    r1 = run_pipeline(spark, skewed_capture_dataset, wh_dir, batch_files=1)
    assert [b.added for b in r1[:1]] == [1]
    dup_batch = r1[1]
    assert dup_batch.added == 1, "only the genuinely new record is added"
    assert dup_batch.duplicates == 1, "cross-batch dup caught despite capture-day skew"
    wh = Warehouse(wh_dir, spark)
    ok = wh.read(RECORDS).filter(F.col("status") == "ok")
    assert ok.count() == 2  # never 3: the duplicate was not re-ingested
    # physical check: keys day= dirs carry the record-ts days (March), not
    # the capture days (May/June)
    days = {
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(wh.path(RECORDS_KEYS), "batch=*", "day=*"))
    }
    assert days == {"2024-03-01", "2024-03-02"}


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    d = tmp_path_factory.mktemp("r3_data")
    write_dataset(str(d), seed=11, n=400, num_files=4)
    return str(d)


@pytest.mark.slow
def test_resume_false_then_crash_loses_nothing(spark, dataset, tmp_path_factory):
    """A fresh ingest (resume=False) cut off after one batch (max_batches
    stands in for a crash) resumes to the same records as an uninterrupted
    ingest, with one ingest-metrics row per batch. A fresh ingest into a
    warehouse that holds committed lineage is refused."""
    pages = os.path.join(dataset, "pages")
    full_dir = str(tmp_path_factory.mktemp("r3_nores_full"))
    run_pipeline(spark, pages, full_dir, batch_files=2)
    key = lambda r: (r["table"], r["record_id"], r["ts_millis"] or -1, r["seq"], r["url"])
    want = sorted(key(r) for r in Warehouse(full_dir, spark).read(RECORDS).collect())
    with pytest.raises(RuntimeError, match="committed"):
        run_pipeline(spark, pages, full_dir, batch_files=2, resume=False)

    wh_dir = str(tmp_path_factory.mktemp("r3_nores_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2, resume=False, max_batches=1)
    # the follow-up resume run must process the unfinished batch
    assert [r.batch for r in run_pipeline(spark, pages, wh_dir, batch_files=2)] == ["b00001"]
    wh = Warehouse(wh_dir, spark)
    got = sorted(key(r) for r in wh.read(RECORDS).collect())
    assert got == want
    # ingest metrics carry exactly one row per live batch (no stale doubles)
    m = wh.read(METRICS_INGEST).groupBy("batch").count().collect()
    assert sorted((r["batch"], r["count"]) for r in m) == [("b00000", 1), ("b00001", 1)]


@pytest.mark.slow
def test_bookkeeping_rewrite_is_crash_recoverable(spark, dataset, tmp_path_factory):
    """A crash at ANY point of a bookkeeping rewrite (archive's
    ``compact_bookkeeping`` merge) leaves the table restorable — recovery
    on lock acquisition finishes or rolls back the swap, never leaving a
    wiped table."""
    pages = os.path.join(dataset, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r3_swap_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)
    n = wh.read(LINEAGE).count()
    d = wh.path(LINEAGE)
    # crash window A: replacement built, old renamed away, swap unfinished
    shutil.copytree(d, d + ".rewrite")
    os.rename(d, d + ".old")
    with wh.lock():
        pass
    assert os.path.isdir(d) and not os.path.isdir(d + ".old")
    assert not os.path.isdir(d + ".rewrite")
    assert wh.read(LINEAGE).count() == n
    # crash window B: swap done, old copy not yet removed
    shutil.copytree(d, d + ".old")
    with wh.lock():
        pass
    assert not os.path.isdir(d + ".old")
    assert wh.read(LINEAGE).count() == n
    # crash window C: build dir exists, swap not started -> stale build dropped
    shutil.copytree(d, d + ".rewrite")
    with wh.lock():
        pass
    assert not os.path.isdir(d + ".rewrite")
    assert wh.read(LINEAGE).count() == n


@pytest.mark.slow
def test_archived_batches_are_read_only(spark, dataset, tmp_path_factory, lineage_invariants):
    """Archived batches are read-only (HeaderStorage.scala:242-275
    semantics). After ``archive``, a changed --batch-files and a late unit
    that sorts before every archived one ingest only that unit, as one new
    batch: the archived records stay byte-identical and every ok record
    survives."""
    from log_server_spark.cli import main as cli_main
    from log_server_spark.operators.dedup import DEDUP_KEY

    pages = str(tmp_path_factory.mktemp("r3_ro_data") / "pages")
    shutil.copytree(os.path.join(dataset, "pages"), pages)
    late = os.path.join(pages, "part-00000.parquet")
    os.rename(late, late + ".late")
    wh_dir = str(tmp_path_factory.mktemp("r3_ro_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)

    def ok_keys():
        ok = wh.read(RECORDS).filter(F.col("status") == "ok").select(*DEDUP_KEY)
        return sorted(tuple(r) for r in ok.collect())

    ok_before = ok_keys()
    assert ok_before

    rc = cli_main(["archive", "--warehouse", wh_dir])
    assert rc == 0
    assert wh.archived_batches() == {"b00000", "b00001"}

    def archived_bytes():
        out = {}
        for b in sorted(wh.archived_batches()):
            d = os.path.join(wh.path(RECORDS), f"batch={b}")
            for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
                with open(f, "rb") as fh:
                    out[f] = fh.read()
        return out

    archived = archived_bytes()
    assert archived

    os.rename(late + ".late", late)
    r = run_pipeline(spark, pages, wh_dir, batch_files=1)
    assert [(b.batch, b.files) for b in r] == [("b00002", [late])]
    assert archived_bytes() == archived
    assert wh.archived_batches() == {"b00000", "b00001"}
    # every ok record survives, and the late unit adds only keys never seen
    after = ok_keys()
    assert set(ok_before) <= set(after)
    assert len(after) == len(ok_before) + r[0].added
    lineage_invariants(wh_dir)
    # the new layout is committed: a follow-up resume has nothing to do
    assert run_pipeline(spark, pages, wh_dir, batch_files=1) == []


@pytest.mark.slow
def test_committed_keys_anti_join_shuffles_batch_once(
    spark, dataset, tmp_path_factory, anti_join_plan, scan_root_dirs
):
    """The per-batch anti-join reads the committed keys from the batch's
    day directories, and the batch reaches the join still hash-partitioned
    by the dedup aggregate: the only other Exchange is the thin
    committed-keys slice's."""
    from log_server_spark.plans.pipeline import _committed_keys

    pages = os.path.join(dataset, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r3_bk_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)
    assert os.path.isfile(os.path.join(wh_dir, "records_keys.bucketed"))

    lo = wh.read(RECORDS_KEYS).agg(F.min("ts_millis")).collect()[0][0]
    hi = wh.read(RECORDS_KEYS).agg(F.max("ts_millis")).collect()[0][0]
    committed = _committed_keys(wh, (lo, hi))
    # the range spans every committed day: every day directory is scanned
    assert scan_root_dirs(committed) == sorted(
        glob.glob(os.path.join(wh.path(RECORDS_KEYS), "batch=*", "day=*"))
    )
    ok = wh.read(RECORDS).filter(F.col("status") == "ok").drop("batch", "sink")
    plan = anti_join_plan(ok, committed)
    assert len([line for line in plan.splitlines() if "FileScan" in line and "records_keys" in line]) == 1


@pytest.mark.parametrize(
    "n,want_chunks", [(0, 0), (1, 1), (63, 1), (64, 1), (65, 2), (112, 2), (113, 3)]
)
def test_token_chunks_window_boundaries(spark, n, want_chunks):
    """64-token windows every 48: the final partial window is kept, and no
    window is wholly contained in its predecessor (start < n - overlap)."""
    from log_server_spark.functions.text import token_chunks

    text = " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame([(text,)], "text string")
    rows = df.select(F.explode(token_chunks("text", size=64, overlap=16)).alias("c")).collect()
    assert len(rows) == want_chunks
    toks = text.split()
    got_all = []
    for k, r in enumerate(rows):
        assert r["c"]["chunk_id"] == k
        chunk_toks = r["c"]["chunk_text"].split()
        assert chunk_toks == toks[k * 48 : k * 48 + 64]
        got_all.extend(chunk_toks)
    if n:
        assert set(got_all) == set(toks), "every token lands in some chunk"


def test_pii_scrub_classes(spark):
    from log_server_spark.functions.text import pii_counts, pii_scrub

    df = spark.createDataFrame(
        [("mail a.b+c@x-y.co.uk, call +44 (0)20 7946 0958, host 192.168.0.254 ok",)],
        "text string",
    )
    counts = pii_counts("text")
    row = df.select(
        pii_scrub("text").alias("clean"),
        counts["email"].alias("e"), counts["phone"].alias("p"), counts["ipv4"].alias("i"),
    ).collect()[0]
    assert "<EMAIL>" in row["clean"] and "<PHONE>" in row["clean"] and "<IP>" in row["clean"]
    assert "@" not in row["clean"] and "192.168" not in row["clean"]
    assert (row["e"], row["p"], row["i"]) == (1, 1, 1)


@pytest.mark.slow
def test_saved_format_ingestion_end_to_end(spark, tmp_path_factory, capsys):
    """Migration path: real LogWriterClient-format `.saved` files ingested
    by the SAME pipeline protocol (`update --format saved`) — dedup across
    batches on (table, id, content-hash), keys/lineage written, `get`
    serves the records."""
    from log_server_spark.cli import main as cli_main
    from log_server_spark.sources.saved_format import write_saved

    base = tmp_path_factory.mktemp("r3_saved")
    src = base / "logs"
    src.mkdir()
    recs1 = [
        ("users", 7, 1709287200000, "u7 body"),
        ("users", 8, 1709287201000, "u8 body"),
        ("events", "sess-1", 1709287202000, "string-id body"),
        ("users", None, 1709287203000, "empty-id body"),
    ]
    # unit 2: one exact cross-batch duplicate of (users, 7) + one new record
    recs2 = [
        ("users", 7, 1709287200000, "u7 body"),
        ("users", 9, 1709290000000, "u9 body"),
    ]
    write_saved(str(src / "20240301T100000.saved"), recs1)
    write_saved(str(src / "20240301T100500.saved.gz"), recs2)

    wh_dir = str(base / "wh")
    r = run_pipeline(spark, str(src), wh_dir, batch_files=1, source_format="saved")
    assert [b.added for b in r] == [4, 1]
    assert r[1].duplicates == 1

    wh = Warehouse(wh_dir, spark)
    recs = wh.read(RECORDS)
    assert recs.count() == 5
    assert recs.filter(F.col("status") != "ok").count() == 0
    assert {x["sink"] for x in recs.select("sink").distinct().collect()} == {"cat_unknown"}
    assert wh.read(RECORDS_KEYS).count() == 5

    # resume is a no-op; the CLI surface works too
    assert run_pipeline(spark, str(src), wh_dir, batch_files=1, source_format="saved") == []
    rc = cli_main([
        "get", "--warehouse", wh_dir, "--table", "users", "--id", "7",
    ])
    assert rc == 0
    out = [line for line in capsys.readouterr().out.splitlines() if line.startswith("{")]
    assert len(out) == 1 and '"u7 body"' in out[0]
