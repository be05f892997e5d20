"""Round-2 pipeline hardening: keys-table pruning, incremental aggregates,
warehouse lock, resume from committed unit lists, archive crash recovery,
PIL branch."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from log_server_spark.catalog import Warehouse, WarehouseLockTimeout
from log_server_spark.datagen import write_dataset
from log_server_spark.plans.pipeline import (
    METRICS_PARTIALS,
    RECORDS,
    RECORDS_KEYS,
    _committed_keys,
    refresh_aggregates,
    run_pipeline,
)

N = 900


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    d = tmp_path_factory.mktemp("r2_data")
    write_dataset(str(d), seed=7, n=N, num_files=6)
    return str(d)


@pytest.fixture()
def warehouse(spark, dataset, tmp_path_factory):
    whdir = str(tmp_path_factory.mktemp("r2_wh"))
    run_pipeline(spark, os.path.join(dataset, "pages"), whdir, batch_files=2)
    return Warehouse(whdir, spark)


@pytest.mark.slow
def test_keys_table_day_partitioned_and_pruned(spark, warehouse, scan_root_dirs):
    """The committed-keys anti-join side must prune day= partitions (the
    ts-range probe gate, BigStorage.scala:30, realized as file skipping)."""
    keys_dirs = glob.glob(os.path.join(warehouse.path(RECORDS_KEYS), "batch=*", "day=*"))
    days = sorted({os.path.basename(d) for d in keys_dirs})
    assert len(days) > 3, "fixture should span multiple days"
    # a one-day ts range scans exactly that day's directories
    lo, day = warehouse.read(RECORDS_KEYS).orderBy("ts_millis").select("ts_millis", "day").first()
    pruned = _committed_keys(warehouse, (lo, lo))
    assert scan_root_dirs(pruned) == sorted(
        d for d in keys_dirs if os.path.basename(d) == f"day={day}"
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "ts_millis" in plan.split("PushedFilters")[1].splitlines()[0]  # row-group stats trim edges
    # behavioral: the one-day probe touches only the matching day partitions
    touched = {
        r["f"].split("records_keys/")[1].split("/")[1]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert len(touched) < len(days)


@pytest.mark.slow
def test_keys_match_records(spark, warehouse):
    keys = warehouse.read(RECORDS_KEYS)
    ok = warehouse.read(RECORDS).filter(F.col("status") == "ok")
    assert keys.count() == ok.count()
    assert (
        keys.select("table", "record_id", "record_hash")
        .exceptAll(ok.select("table", "record_id", "record_hash"))
        .count()
        == 0
    )


@pytest.mark.slow
def test_incremental_refresh_never_rescans_records(spark, warehouse):
    """The per-sink and windowed aggregates read ONLY the per-batch
    partials: the frame still collects — to the same rows — with the
    records table gone, and its numbers match a rescan of the records."""
    before = sorted(map(tuple, refresh_aggregates(warehouse).collect()), key=str)
    records = warehouse.read(RECORDS)
    want = {
        r["sink"]: (r["n"], r["lo"], r["hi"], r["b"])
        for r in records.groupBy("sink").agg(
            F.count("*").alias("n"), F.min("ts_millis").alias("lo"),
            F.max("ts_millis").alias("hi"), F.sum("n_bytes").alias("b"),
        ).collect()
    }
    n_ok = {
        r["sink"]: r["n"]
        for r in records.filter(F.col("status") == "ok").groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    n_urls = {
        r["sink"]: r["n"]
        for r in records.groupBy("sink").agg(F.countDistinct("url").alias("n")).collect()
    }
    hidden = warehouse.path(RECORDS) + ".hidden"
    os.rename(warehouse.path(RECORDS), hidden)
    try:
        rows = refresh_aggregates(warehouse).collect()
    finally:
        os.rename(hidden, warehouse.path(RECORDS))
    assert sorted(map(tuple, rows), key=str) == before
    got = {r["sink"]: r for r in rows if r["per_sink"]}
    assert set(got) == set(want)
    assert "error" in want  # the fixture plants malformed pages
    for sink, (n, lo, hi, b) in want.items():
        assert got[sink]["n_rows"] == n
        assert got[sink]["min_ts"] == lo
        assert got[sink]["max_ts"] == hi
        assert got[sink]["total_bytes"] == b
        # dedup invariant: per-sink distinct keys == per-sink ok rows
        assert got[sink]["n_keys"] == n_ok.get(sink, 0)
        # merged HLL sketches track the exact distinct-url count
        exact = n_urls[sink]
        assert abs(got[sink]["n_urls_approx"] - exact) <= max(1, 0.02 * exact), sink
    win = [r for r in rows if not r["per_sink"]]
    assert sum(r["n_rows"] for r in win) == records.count()


@pytest.mark.slow
def test_lock_blocks_concurrent_update(spark, dataset, warehouse):
    lock_path = os.path.join(warehouse.root, "db.lock")
    with open(lock_path, "w") as f:
        f.write(str(os.getpid()))  # a live owner
    try:
        with pytest.raises(WarehouseLockTimeout):
            run_pipeline(
                spark, os.path.join(dataset, "pages"), warehouse.root,
                batch_files=2, lock_timeout=1.0,
            )
    finally:
        os.remove(lock_path)


@pytest.mark.slow
def test_stale_lock_from_dead_pid_is_stolen(spark, dataset, warehouse):
    lock_path = os.path.join(warehouse.root, "db.lock")
    with open(lock_path, "w") as f:
        f.write("999999999")  # no such pid
    results = run_pipeline(
        spark, os.path.join(dataset, "pages"), warehouse.root,
        batch_files=2, lock_timeout=2.0,
    )
    assert results == []  # all committed; lock stolen, no timeout
    assert not os.path.exists(lock_path)


@pytest.mark.slow
def test_resume_revalidates_unit_lists(spark, dataset, warehouse):
    """Resume plans from the committed unit lists, not from positions: a
    changed --batch-files on a fully committed warehouse has nothing to
    do, and the record set, the batches and their keys stay as they were."""
    key = lambda r: (r["table"], r["record_id"], r["ts_millis"] or -1, r["seq"], r["url"])
    before = sorted(key(r) for r in warehouse.read(RECORDS).collect())
    results = run_pipeline(
        spark, os.path.join(dataset, "pages"), warehouse.root, batch_files=4
    )
    assert results == []
    after = sorted(key(r) for r in warehouse.read(RECORDS).collect())
    assert after == before
    # records batches == lineage batches == the original plan
    batches = {os.path.basename(d) for d in glob.glob(os.path.join(warehouse.path(RECORDS), "batch=*"))}
    assert batches == {"batch=b00000", "batch=b00001", "batch=b00002"}
    # keys table stays 1:1 with records
    assert warehouse.read(RECORDS_KEYS).count() == warehouse.read(RECORDS).filter(F.col("status") == "ok").count()
    pb = {r["batch"] for r in warehouse.read(METRICS_PARTIALS).select("batch").distinct().collect()}
    assert pb == {"b00000", "b00001", "b00002"}


@pytest.mark.slow
def test_archive_crash_recovery(spark, warehouse):
    """records.old present without records => restore; with records => drop.

    Recovery happens on LOCK ACQUISITION (never unlocked, or it would race
    a live archive swap running under the lock in another process)."""
    records = warehouse.path(RECORDS)
    old = records + ".old"
    n = spark.read.parquet(records).count()
    wh2 = Warehouse(warehouse.root, spark)
    # crash between rename(records->old) and rename(compact->records)
    os.rename(records, old)
    with wh2.lock():
        pass
    assert os.path.isdir(records) and not os.path.isdir(old)
    assert spark.read.parquet(records).count() == n
    # crash after swap, before rmtree(old)
    shutil.copytree(records, old)
    with wh2.lock():
        pass
    assert os.path.isdir(records) and not os.path.isdir(old)
    assert wh2.read(RECORDS).count() == n


def test_multimodal_decode_with_and_without_pil(monkeypatch):
    import numpy as np
    import pandas as pd

    from log_server_spark.operators import multimodal as mm

    payloads = pd.Series([b"abc123", b"", None, bytes(range(200))])
    no_pil = mm._decode_image_batch(payloads)

    class _FakeImg:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):
            return self

    class _FakeImage:
        @staticmethod
        def open(buf):
            raise OSError("not an image")  # undecodable -> fallback

    monkeypatch.setattr(mm, "_HAS_PIL", True)
    monkeypatch.setattr(mm, "Image", _FakeImage, raising=False)
    with_pil_fallback = mm._decode_image_batch(payloads)
    assert np.allclose(no_pil, with_pil_fallback)

    # a PIL that CAN decode produces real pixel stats instead of crashing
    def _open_ok(buf):
        class _Img(_FakeImg):
            def convert(self, mode):
                return np.full((2, 2), 7, dtype=np.uint8)

        return _Img()

    monkeypatch.setattr(mm, "Image", type("I", (), {"open": staticmethod(_open_ok)}), raising=False)
    decoded = mm._decode_image_batch(pd.Series([b"xx"]))
    assert decoded[0][0] == 7.0 and decoded[0][1] == 0.0


@pytest.mark.slow
def test_multi_warehouse_get_fan_out(spark, dataset, warehouse, tmp_path_factory, capsys):
    """CLI `get` unions results across warehouses (GetCommand.scala:29-36).
    The same root given twice is one warehouse, so the second is a copy."""
    from log_server_spark.cli import main as cli_main

    sample = (
        warehouse.read(RECORDS)
        .filter((F.col("status") == "ok") & (F.col("record_id") != ""))
        .limit(1)
        .collect()[0]
    )
    copy = str(tmp_path_factory.mktemp("fan_out") / "wh")
    shutil.copytree(warehouse.root, copy)
    rc = cli_main([
        "get",
        "--warehouse", warehouse.root,
        "--warehouse", copy,  # two warehouses with the same rows = bag union, 2x rows
        "--table", sample["table"],
        "--id", sample["record_id"],
    ])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert len(out) >= 2 and len(out) % 2 == 0


@pytest.mark.slow
def test_torn_batch_under_remap_loses_nothing(spark, dataset, tmp_path_factory):
    """A TORN batch's dirs are swept before any batch runs, so no batch
    anti-joins against its stale uncommitted keys; its units rerun as one
    new batch under the changed --batch-files."""
    from pyspark.sql import functions as F  # noqa: F811

    pages = os.path.join(dataset, "pages")
    wh_dir = str(tmp_path_factory.mktemp("torn_remap"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)
    key = lambda r: (r["table"], r["record_id"], r["ts_millis"] or -1, r["seq"])
    want = sorted(key(r) for r in wh.read(RECORDS).collect())
    # torn state: last batch has data + keys but NO lineage row
    os.remove(os.path.join(wh.path("lineage"), "part-b00002.parquet"))
    os.remove(os.path.join(wh.path(METRICS_PARTIALS), "part-b00002.parquet"))
    # the torn batch's 2 units rerun as one batch of up to 4 units
    results = run_pipeline(spark, pages, wh_dir, batch_files=4)
    assert [(r.batch, len(r.files)) for r in results] == [("b00002", 2)]
    got = sorted(key(r) for r in wh.read(RECORDS).collect())
    assert got == want
    assert wh.read(RECORDS_KEYS).count() == wh.read(RECORDS).filter(F.col("status") == "ok").count()


@pytest.mark.slow
def test_all_duplicate_batch_counts_duplicates(spark, dataset, tmp_path_factory):
    """A batch whose every parseable record is a cross-batch duplicate (and
    with no error rows) writes nothing — but must still report duplicates."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F  # noqa: F811

    from log_server_spark.parse_ref import OK, parse_page

    src = os.path.join(dataset, "pages")
    base2 = str(tmp_path_factory.mktemp("dup_base"))
    pages2 = os.path.join(base2, "pages")
    os.makedirs(pages2)
    for f in sorted(os.listdir(src)):
        shutil.copy(os.path.join(src, f), pages2)
    for lk in ("lang_lookup.parquet", "domain_lookup.parquet"):
        shutil.copy(os.path.join(dataset, lk), base2)
    wh_dir = str(tmp_path_factory.mktemp("dup_wh"))
    run_pipeline(spark, pages2, wh_dir, batch_files=2)
    # append one unit that is an ok-only subset of already-committed pages
    t = pq.read_table(os.path.join(src, "part-00000.parquet"))
    ok_rows = [
        i for i in range(t.num_rows)
        if all(r.status == OK for r in parse_page(t["html"][i].as_py()))
    ]
    sub = t.take(ok_rows[:50])
    pq.write_table(sub, os.path.join(pages2, "part-99999.parquet"))
    results = run_pipeline(spark, pages2, wh_dir, batch_files=2)
    assert len(results) == 1
    last = results[-1]
    assert last.added == 0 and last.errors == 0
    assert last.duplicates > 0  # every record was a cross-batch dup
    wh = Warehouse(wh_dir, spark)
    m = {r["batch"]: r for r in wh.read("metrics_ingest").collect()}
    assert m[last.batch]["duplicates"] == last.duplicates
