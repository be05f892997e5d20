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
from log_server_spark.plans.pipeline import RECORDS, run_pipeline

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
    inference job's stage call site starts at ``DataFrameReader.parquet``."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    before = _jobs(sc)
    fn()
    new = sorted(_jobs(sc) - before)
    inference = 0
    for j in new:
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
    table, rid = _sample_key(warehouse)
    rows = []
    n_get, _ = _count_jobs(
        spark, lambda: rows.extend(get_records(warehouse.read(RECORDS), table, rid).collect())
    )
    assert n_get <= 2
    want = (
        warehouse.read(RECORDS)
        .filter((F.col("table") == table) & (F.col("record_id") == rid))
        .select("table", "record_id", "ts_millis", "text", "url")
        .collect()
    )
    assert sorted(rows) == sorted(want) and rows
    assert [r["ts_millis"] for r in rows] == sorted(r["ts_millis"] for r in want)

    out = []
    n_info, _ = _count_jobs(spark, lambda: out.extend(info(warehouse.read(RECORDS)).collect()))
    assert n_info <= 2
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
    # 16 pipeline jobs, as in the traced benchmark, plus two partition
    # listing jobs this fixture's 60 committed (batch, day) keys partitions
    # cost (over the 32-path parallel-listing threshold): MSCK's partition
    # stats on the copied warehouse's first catalog sync, and the pruned
    # committed-keys scan
    assert 0 < n <= 18 and inference == 0


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


def test_get_orders_ts_ties_across_partitions(spark):
    rows = [("users", "7", ts, f"v{k}", f"u{k}") for k, ts in enumerate([5, 3, 5, 1, 3, 9, 1])]
    rows += [("users", "8", 2, "other", "u"), ("orders", "7", 0, "other", "u")]
    records = spark.createDataFrame(
        rows, "table string, record_id string, ts_millis long, text string, url string"
    ).repartition(4)
    got = get_records(records, "users", "007").collect()
    assert [r["ts_millis"] for r in got] == [1, 1, 3, 3, 5, 5, 9]
    assert sorted(r["text"] for r in got) == sorted(f"v{k}" for k in range(7))


def test_info_orders_by_sink_day_not_ts(spark):
    import datetime as dt

    d1, d2 = dt.date(2024, 3, 1), dt.date(2024, 3, 2)
    rows = [
        ("s_b", d2, "t", "1", 1, 10), ("s_a", d2, "t", "2", 2, 10),
        ("s_b", d1, "t", "3", 3, 10), ("s_a", d1, "t", "4", 4, 10),
        ("s_a", d1, "t", "5", 5, 20), ("s_c", d1, "t", "6", 6, 5),
    ]
    records = spark.createDataFrame(
        rows, "sink string, day date, table string, record_id string, "
        "record_hash int, ts_millis long",
    ).repartition(3)
    got = info(records).collect()
    assert [(r["sink"], r["day"]) for r in got] == [
        ("s_a", d1), ("s_a", d2), ("s_b", d1), ("s_b", d2), ("s_c", d1),
    ]
    assert [r["records"] for r in got] == [2, 1, 1, 1, 1]
    assert [r["min_ts"] for r in got] == [10, 10, 10, 10, 5]
