"""Read path without planning jobs: footer-pinned schemas, driver-side
bookkeeping, single-partition ordering of get/info answers.

Every warehouse read takes its schema from one parquet footer read on the
driver, so it must equal what Spark's own inference returns. The job-budget
tests count the Spark jobs a get, an info and a steady pipeline batch
submit, via the status tracker after the listener bus drains.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from log_server_spark.catalog import Warehouse, first_parquet_file, footer_schema, read_parquet
from log_server_spark.datagen import write_dataset
from log_server_spark.operators.aggregate import info
from log_server_spark.operators.lookup import get_records
from log_server_spark.plans.pipeline import (
    LINEAGE,
    METRICS_INGEST,
    METRICS_PARTIALS,
    PARTIALS_SCHEMA,
    RECORDS,
    run_pipeline,
)

TABLES = [
    "records", "records_keys", "lineage", "metrics_ingest",
    "metrics_partials", "metrics_sink_stats", "metrics_windowed",
]


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("read_path_data"))
    write_dataset(d, seed=7, n=600, num_files=3)
    return d


@pytest.fixture(scope="module")
def warehouse(spark, dataset, tmp_path_factory):
    """A 2-batch warehouse; the dataset's third unit is left unprocessed."""
    root = str(tmp_path_factory.mktemp("read_path_wh"))
    run_pipeline(spark, os.path.join(dataset, "pages"), root, batch_files=1, max_batches=2)
    return Warehouse(root, spark)


def _jobs(sc) -> set[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _count_jobs(spark, fn) -> tuple[int, int]:
    """(jobs ``fn`` submitted, of which parquet schema-inference jobs). An
    inference job's stage call site starts at ``DataFrameReader.parquet``;
    so does the file-listing job of a read of more than 32 paths, which is
    told apart by its description."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    before = _jobs(sc)
    fn()
    new = sorted(_jobs(sc) - before)
    inference = 0
    for j in new:
        desc = store.job(j).description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            continue
        # a job also lists the skipped stages of shuffles it reused, which
        # the status store may already have evicted: look up only live ones
        stages = [s for s in tracker.getJobInfo(j).stageIds if tracker.getStageInfo(s)]
        if any(
            store.lastStageAttempt(s).details().startswith(
                "org.apache.spark.sql.classic.DataFrameReader.parquet"
            )
            for s in stages
        ):
            inference += 1
    return len(new), inference


def test_footer_schema_equals_inferred(spark, warehouse):
    for t in TABLES:
        path = warehouse.path(t)
        assert footer_schema(path) is not None, t
        assert warehouse.read(t).schema == spark.read.parquet(path).schema, t


def test_footer_schema_equals_inferred_for_inputs(spark, dataset):
    for f in ("lang_lookup.parquet", "domain_lookup.parquet", "pages/part-00000.parquet"):
        path = os.path.join(dataset, f)
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, f


def test_hidden_paths_never_footer_source(spark, tmp_path):
    """``_torn-*`` sweeps, ``.`` dirs/files and ``_SUCCESS`` sort before real
    parts but are invisible to Spark, so they must not pick the schema."""
    t = tmp_path / "t"
    decoy = pa.table({"wrong": [1]})
    for rel in ("_torn-b00000-1/part-0.parquet", ".staging/part-0.parquet",
                "_part-0.parquet", ".part-0.parquet"):
        (t / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(decoy, str(t / rel))
    (t / "_SUCCESS").write_text("")
    (t / "batch=b00000").mkdir()
    pq.write_table(pa.table({"x": ["a"], "n": [1]}), str(t / "batch=b00000" / "part-1.parquet"))
    assert first_parquet_file(str(t)) == str(t / "batch=b00000" / "part-1.parquet")
    df = read_parquet(spark, str(t))
    assert df.schema == spark.read.parquet(str(t)).schema
    assert df.columns == ["x", "n", "batch"]


def test_table_without_parquet_files_keeps_plain_read(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"), spark)
    d = tmp_path / "wh" / "lineage"
    (d / "_torn-b00000-1").mkdir(parents=True)
    pq.write_table(pa.table({"batch": ["b00000"]}), str(d / "_torn-b00000-1" / "part-0.parquet"))
    (d / "_SUCCESS").write_text("")
    assert footer_schema(str(d)) is None
    assert not wh.exists("lineage")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(str(d))
    with pytest.raises(AnalysisException) as pinned:
        wh.read("lineage")
    assert pinned.value.getCondition() == plain.value.getCondition()


def _sample_key(wh):
    r = (
        wh.read(RECORDS).filter((F.col("status") == "ok") & (F.col("record_id") != ""))
        .limit(1).collect()[0]
    )
    return r["table"], r["record_id"]


def test_get_and_info_job_budget(spark, warehouse):
    """A get and an info submit no Spark job: both are answered driver-side
    from the warehouse's own indexes (the keys, the partials). The answers
    equal Spark rescans of the records."""
    table, rid = _sample_key(warehouse)
    records = warehouse.read(RECORDS)
    rows = []
    n_get, _ = _count_jobs(spark, lambda: rows.extend(get_records(records, table, rid).collect()))
    assert n_get == 0
    want = (
        warehouse.read(RECORDS)
        .filter((F.col("table") == table) & (F.col("record_id") == rid) & (F.col("status") == "ok"))
        .select("table", "record_id", "ts_millis", "text", "url")
        .collect()
    )
    assert sorted(rows) == sorted(want) and rows
    assert [r["ts_millis"] for r in rows] == sorted(r["ts_millis"] for r in want)

    out = []
    n_info, _ = _count_jobs(spark, lambda: out.extend(info(records).collect()))
    assert n_info == 0
    keys = [(r["sink"], r["day"]) for r in out]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    assert sum(r["records"] for r in out) == warehouse.read(RECORDS).count()
    # hash-index entries equal distinct dedup keys by the dedup invariant
    distinct = {
        (r["sink"], r["day"]): r["n"]
        for r in warehouse.read(RECORDS).groupBy("sink", "day")
        .agg(F.countDistinct("table", "record_id", "record_hash").alias("n")).collect()
    }
    assert {(r["sink"], r["day"]): r["hashes"] for r in out} == distinct
    assert out == _info_rescan(warehouse)


def _info_rescan(wh):
    """``info`` recomputed by Spark over the records themselves."""
    return (
        wh.read(RECORDS).groupBy("sink", "day")
        .agg(
            F.count("*").alias("records"),
            F.count("record_hash").alias("hashes"),
            F.min("ts_millis").alias("min_ts"),
            F.max("ts_millis").alias("max_ts"),
        )
        .orderBy("sink", "day")
        .collect()
    )


def test_steady_batch_has_no_schema_inference_job(spark, dataset, warehouse):
    root = warehouse.root + "_steady"
    shutil.copytree(warehouse.root, root)
    got = []
    n, inference = _count_jobs(
        spark,
        lambda: got.extend(run_pipeline(
            spark, os.path.join(dataset, "pages"), root, batch_files=1,
        )),
    )
    assert [r.batch for r in got] == ["b00002"]
    # 16 pipeline jobs, as in the traced benchmark, plus the listing job of
    # the committed-keys read: this fixture's 60 (batch, day) keys
    # directories are over the 32-path parallel-listing threshold
    assert 0 < n <= 17 and inference == 0


def test_noop_update_submits_no_job(spark, dataset, warehouse):
    """An update with nothing to commit skips the aggregate refresh: the
    published aggregates were merged from the current partials. Without
    their fingerprint the next no-op update refreshes again."""
    from log_server_spark.plans.pipeline import AGGREGATES_SOURCE, METRICS_SINK, METRICS_WINDOWED

    root = warehouse.root + "_noop"
    shutil.copytree(warehouse.root, root)
    wh = Warehouse(root, spark)
    update = lambda: run_pipeline(spark, os.path.join(dataset, "pages"), root, batch_files=1)  # noqa: E731
    assert [r.batch for r in update()] == ["b00002"]

    def metrics():
        return [sorted(map(tuple, wh.read(t).collect())) for t in (METRICS_SINK, METRICS_WINDOWED)]

    before = metrics()
    got = []
    n, _ = _count_jobs(spark, lambda: got.extend(update()))
    assert got == [] and n == 0
    assert metrics() == before

    fingerprint = os.path.join(wh.path(METRICS_WINDOWED), AGGREGATES_SOURCE)
    os.remove(fingerprint)
    n, _ = _count_jobs(spark, lambda: got.extend(update()))
    assert got == [] and n > 0
    assert os.path.isfile(fingerprint)
    assert metrics() == before


def _tiny_warehouse(spark, root, rows):
    """Write ok record rows (``_row``) as the pipeline lays a warehouse out:
    records by (batch, sink), their keys by (batch, day), and one partials
    row per record."""
    import datetime as dt

    t = pa.Table.from_pylist(rows)
    pq.write_to_dataset(t, os.path.join(root, RECORDS), partition_cols=["batch", "sink"])
    pq.write_to_dataset(
        t.select(["table", "record_id", "record_hash", "ts_millis", "batch", "day"]),
        os.path.join(root, "records_keys"), partition_cols=["batch", "day"],
    )
    wh = Warehouse(root, spark)
    for i, r in enumerate(rows):
        wh.write_small(
            [(r["batch"], r["sink"],
              dt.datetime.combine(r["day"], dt.time(), tzinfo=dt.timezone.utc),
              1, 1, r["ts_millis"], r["ts_millis"], 1, b"")],
            PARTIALS_SCHEMA, METRICS_PARTIALS, filename=f"r{i:05d}",
        )
    return wh


def _row(table, rid, ts, text, *, sink="s", day=None, batch="b00000", h=1):
    import datetime as dt

    return {
        "table": table, "record_id": rid, "ts_millis": ts, "text": text, "url": f"u-{text}",
        "status": "ok", "record_hash": h, "day": day or dt.date(1970, 1, 1),
        "batch": batch, "sink": sink,
    }


def test_get_orders_ts_ties_across_partitions(spark, tmp_path):
    rows = [
        _row("users", "7", ts, f"v{k}", batch=f"b0000{k % 4}", h=k)
        for k, ts in enumerate([5, 3, 5, 1, 3, 9, 1])
    ]
    rows += [_row("users", "8", 2, "other8"), _row("orders", "7", 0, "other7")]
    wh = _tiny_warehouse(spark, str(tmp_path / "wh"), rows)
    got = get_records(wh.read(RECORDS), "users", "007").collect()
    assert [r["ts_millis"] for r in got] == [1, 1, 3, 3, 5, 5, 9]
    assert sorted(r["text"] for r in got) == sorted(f"v{k}" for k in range(7))


def test_info_orders_by_sink_day_not_ts(spark, tmp_path):
    import datetime as dt

    d1, d2 = dt.date(2024, 3, 1), dt.date(2024, 3, 2)
    rows = [
        _row("t", rid, ts, f"x{rid}", sink=sink, day=day, h=h)
        for sink, day, rid, h, ts in [
            ("s_b", d2, "1", 1, 10), ("s_a", d2, "2", 2, 10),
            ("s_b", d1, "3", 3, 10), ("s_a", d1, "4", 4, 10),
            ("s_a", d1, "5", 5, 20), ("s_c", d1, "6", 6, 5),
        ]
    ]
    wh = _tiny_warehouse(spark, str(tmp_path / "wh"), rows)
    got = info(wh.read(RECORDS)).collect()
    assert [(r["sink"], r["day"]) for r in got] == [
        ("s_a", d1), ("s_a", d2), ("s_b", d1), ("s_b", d2), ("s_c", d1),
    ]
    assert [r["records"] for r in got] == [2, 1, 1, 1, 1]
    assert [r["min_ts"] for r in got] == [10, 10, 10, 10, 5]
    assert got == _info_rescan(wh)


def test_read_path_refuses_frames_it_cannot_answer(spark, warehouse):
    """get and info answer from the warehouse files the frame scans, so a
    frame that is not a plain records read (or a union of them) raises
    rather than answering for rows it does not hold."""
    records = warehouse.read(RECORDS)
    table, rid = _sample_key(warehouse)
    in_memory = spark.createDataFrame(records.limit(5).collect(), records.schema)
    frames = [
        records.filter(F.col("status") == "ok"),
        in_memory,
        records.select("table", "record_id", "ts_millis", "text", "url"),
        warehouse.read("records_keys"),
    ]
    for frame in frames:
        with pytest.raises(ValueError):
            get_records(frame, table, rid)
        with pytest.raises(ValueError):
            info(frame)
    both = records.unionByName(warehouse.read(RECORDS), allowMissingColumns=True)
    assert info(both).collect() == info(records).collect()


def test_get_and_info_through_archive(spark, warehouse, capsys):
    """After ``archive`` the keys of every batch sit in ``batch=archived``.
    get answers the same rows as before, and info equals a records
    rescan."""
    import json

    from log_server_spark.cli import main as cli_main

    root = warehouse.root + "_archive"
    shutil.copytree(warehouse.root, root)
    wh = Warehouse(root, spark)
    ok = wh.read(RECORDS).filter((F.col("status") == "ok") & (F.col("record_id") != ""))
    keys = [(r["table"], r["record_id"]) for r in ok.select("table", "record_id").distinct()
            .orderBy("table", "record_id").limit(8).collect()]

    def answers():
        return [get_records(wh.read(RECORDS), t, i).collect() for t, i in keys]

    before = answers()
    assert all(before)
    assert cli_main(["archive", "--warehouse", root]) == 0
    assert json.loads(capsys.readouterr().out)["archived"] == ["b00000", "b00001"]
    assert [d for d in os.listdir(wh.path("records_keys")) if "=" in d] == ["batch=archived"]
    assert answers() == before
    assert info(wh.read(RECORDS)).collect() == _info_rescan(wh)


def test_info_days_are_utc_in_a_non_utc_session(spark, dataset, tmp_path):
    """Records ingested by a session (and a driver process) in another time
    zone still carry the UTC day of warc_ts, the day the partials' window
    starts on: info equals a rescan grouped by the records' own day."""
    import datetime as dt
    import time

    conf = "spark.sql.session.timeZone"
    old_conf, old_tz = spark.conf.get(conf), os.environ.get("TZ")
    spark.conf.set(conf, "America/New_York")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        root = str(tmp_path / "wh")
        run_pipeline(spark, os.path.join(dataset, "pages"), root, batch_files=1, max_batches=1)
        wh = Warehouse(root, spark)
        days = wh.read(RECORDS).select(
            "day", F.to_date("warc_ts").alias("local_day"), F.unix_micros("warc_ts").alias("us")
        ).collect()
        utc = [dt.datetime.fromtimestamp(r["us"] / 1e6, dt.timezone.utc).date() for r in days]
        # the fixture's pages span New York midnights, so the two days differ
        assert any(r["local_day"] != u for r, u in zip(days, utc))
        assert [r["day"] for r in days] == utc
        assert info(wh.read(RECORDS)).collect() == _info_rescan(wh)
    finally:
        spark.conf.set(conf, old_conf)
        if old_tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_torn_batch_sweep_removes_its_partials(spark, dataset, tmp_path, monkeypatch, capsys):
    """A batch that crashes after writing its partials but before its
    lineage is swept by ``archive`` with its bookkeeping: info then counts
    exactly the rows the records hold."""
    import json

    from log_server_spark.cli import main as cli_main

    write_small = Warehouse.write_small

    def crash_second_lineage(self, rows, schema_ddl, name, filename=None):
        if name == LINEAGE and filename == "b00001":
            raise RuntimeError("crash before the lineage commit")
        return write_small(self, rows, schema_ddl, name, filename)

    root = str(tmp_path / "wh")
    monkeypatch.setattr(Warehouse, "write_small", crash_second_lineage)
    with pytest.raises(RuntimeError, match="lineage commit"):
        run_pipeline(spark, os.path.join(dataset, "pages"), root, batch_files=1, max_batches=2)
    monkeypatch.undo()
    wh = Warehouse(root, spark)
    partial = os.path.join(wh.path(METRICS_PARTIALS), "part-b00001.parquet")
    assert os.path.isfile(partial)
    assert cli_main(["archive", "--warehouse", root]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["archived"] == ["b00000"] and out["swept_torn"] == ["b00001"]
    assert not os.path.exists(partial)
    assert not os.path.exists(os.path.join(wh.path(METRICS_INGEST), "part-b00001.parquet"))
    got = info(wh.read(RECORDS)).collect()
    assert sum(r["records"] for r in got) == wh.read(RECORDS).count()
    assert got == _info_rescan(wh)


def test_get_returns_stored_records_only(spark, tmp_path):
    """A record over MAX_PAYLOAD_BYTES lands in the error sink with its
    table and id, but the reference never stored it: get skips it."""
    import datetime as dt

    from log_server_spark.parse_ref import ERR_OVERSIZE, MAX_PAYLOAD_BYTES

    head = "---- 2024-03-01 10:00:0{s} level:INFO table:users id:7 op:update\n"
    small = head.format(s=1) + "fits"
    big = head.format(s=2) + "x" * (MAX_PAYLOAD_BYTES + 10)
    ts = dt.datetime(2024, 3, 1, 10, tzinfo=dt.timezone.utc)
    pages = tmp_path / "pages"
    pages.mkdir()
    pq.write_table(
        pa.table({
            "url": ["http://a.example.com/1", "http://a.example.com/2"],
            "warc_ts": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
            "html": [small.encode(), big.encode()],
            "text": [small, big],
            "lang": ["en", "en"],
        }),
        str(pages / "part-00000.parquet"),
    )
    root = str(tmp_path / "wh")
    assert [r.added for r in run_pipeline(spark, str(pages), root)] == [1]
    wh = Warehouse(root, spark)
    stored = wh.read(RECORDS).filter((F.col("table") == "users") & (F.col("record_id") == "7"))
    assert sorted(r["status"] for r in stored.collect()) == [ERR_OVERSIZE, "ok"]
    got = get_records(wh.read(RECORDS), "users", 7).collect()
    assert [r["text"] for r in got] == [small]


def test_info_equals_rescan_on_pipeline_e2e(spark):
    """The warehouse the ``pipeline_e2e`` query ingests (two batches of
    synthesized legacy pages, error rows included)."""
    from urllib.parse import urlparse

    from log_server_spark.queries_graft import q_pipeline_e2e

    path = urlparse(q_pipeline_e2e(spark, "/root/testdata/sf0.001").inputFiles()[0]).path
    wh = Warehouse(path[: path.index(f"/{RECORDS}/")], spark)
    got = info(wh.read(RECORDS)).collect()
    assert got and got == _info_rescan(wh)
    assert sum(r["records"] for r in got) == wh.read(RECORDS).count()


@pytest.mark.slow
def test_read_path_soak_submits_no_job(spark, tmp_path):
    """33 time-ordered live arrivals (the benchmark's generator, smaller
    arrivals). At batches 8 and 33 a get and an info submit no Spark job of
    their own, and every get matches the ingest model. The records read
    that names the warehouse is counted apart: past 32 ``batch=``
    directories (``spark.sql.sources.parallelPartitionDiscovery.threshold``)
    Spark lists them with one job."""
    from perfbench import checks, gen

    from log_server_spark.operators.lookup import to_json_records

    seed = 5
    data = tmp_path / "data"
    pages_dir = data / "pages"
    pages_dir.mkdir(parents=True)
    gen.write_lookups(str(data))
    root = str(tmp_path / "wh")
    wh = Warehouse(root, spark)
    model = checks.IngestModel()
    history: list[list[dict]] = []
    listing_jobs = {}
    for i in range(33):
        pages = gen.live_arrival(seed, i, 100, 0.1, history)
        history.append(pages)
        gen.write_pages(pages, str(pages_dir / f"arrival-{i:06d}.parquet"))
        want = model.apply(pages)
        got = run_pipeline(spark, str(pages_dir), root, batch_files=1)
        assert [(r.added, r.errors) for r in got] == [(want["added"], want["errors"])]
        if i + 1 not in (8, 33):
            continue
        read = []
        listing_jobs[i + 1], _ = _count_jobs(spark, lambda: read.append(wh.read(RECORDS)))
        records = read[0]
        for table, rid in gen.get_requests(seed, i, 12, model.id_order, 0.1):
            rows = []
            n, _ = _count_jobs(spark, lambda: rows.extend(
                r.json for r in to_json_records(get_records(records, table, rid)).collect()
            ))
            assert n == 0
            assert checks.check_get(table, rid, rows, model.expected_get(table, rid)) == []
        out = []
        n, _ = _count_jobs(spark, lambda: out.extend(info(records).collect()))
        assert n == 0
        assert sum(r["records"] for r in out) == model.added + model.errors
    assert listing_jobs == {8: 0, 33: 1}
