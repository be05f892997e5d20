"""CLI parity test: update -> get -> info -> archive -> get (identical),
mirroring the reference's end-to-end integration golden test
(LogServerSpecInt.scala:19-106: update, get, archive, get-after-archive),
and the lifecycle that keeps ingesting into an archived warehouse."""

import json
import os
import shutil

import pytest

from log_server_spark.cli import main as cli_main
from log_server_spark.datagen import write_dataset


@pytest.fixture(scope="module")
def env(tmp_path_factory, spark):
    # spark fixture keeps the session alive; cli reuses it via getOrCreate
    d = tmp_path_factory.mktemp("cli")
    data = str(d / "data")
    wh = str(d / "wh")
    write_dataset(data, seed=11, n=600, num_files=4)
    rc = cli_main(["update", "--warehouse", wh, "--pages-dir", os.path.join(data, "pages"), "--batch-files", "2"])
    assert rc == 0
    return wh


def test_commands_on_warehouse_without_records(spark, tmp_path, capsys):
    """An update of one 0-row pages file commits lineage but writes no
    records table: info reports a zero total, get finds nothing (and adds
    nothing to a multi-warehouse union), archive has nothing to mark."""
    import pyarrow.parquet as pq

    from log_server_spark.datagen import gen_pages
    from log_server_spark.sources.saved_format import write_saved

    pages = tmp_path / "pages"
    pages.mkdir()
    pq.write_table(gen_pages(seed=1, n=1).slice(0, 0), str(pages / "part-00000.parquet"))
    empty = str(tmp_path / "empty")
    assert cli_main(["update", "--warehouse", empty, "--pages-dir", str(pages)]) == 0
    capsys.readouterr()

    assert cli_main(["info", "--warehouse", empty]) == 0
    assert capsys.readouterr().out.splitlines() == ["total: 0"]
    assert cli_main(["get", "--warehouse", empty, "--table", "users", "--id", "7"]) == 0
    assert capsys.readouterr().out == ""
    saved = tmp_path / "saved"
    saved.mkdir()
    write_saved(str(saved / "unit-00000.saved"), [("users", 7, 1_700_000_000_000, "u7")])
    full = str(tmp_path / "full")
    argv = ["update", "--warehouse", full, "--pages-dir", str(saved), "--format", "saved"]
    assert cli_main(argv) == 0
    capsys.readouterr()
    argv = ["get", "--warehouse", empty, "--warehouse", full, "--table", "users", "--id", "7"]
    assert cli_main(argv) == 0
    assert [json.loads(line)["data"] for line in capsys.readouterr().out.splitlines()] == ["u7"]
    assert cli_main(["archive", "--warehouse", empty]) == 0
    assert json.loads(capsys.readouterr().out)["archived"] == []


def test_writes_leave_the_session_zstd_level_alone(spark, tmp_path, capsys):
    """The ingest and archive writes carry their zstd level as a write (or
    table) option: an embedding session's later parquet writes keep its own
    level."""
    from log_server_spark.plans.pipeline import ZSTD_LEVEL, run_pipeline

    def level():
        return spark.sparkContext._jsc.hadoopConfiguration().get(ZSTD_LEVEL)

    before = level()
    data = str(tmp_path / "data")
    write_dataset(data, seed=3, n=60, num_files=1)
    wh = str(tmp_path / "wh")
    assert run_pipeline(spark, os.path.join(data, "pages"), wh)[0].added > 0
    assert level() == before
    assert cli_main(["archive", "--warehouse", wh]) == 0
    assert json.loads(capsys.readouterr().out)["archived"] == ["b00000"]
    assert level() == before


def _get_output(spark, wh, capsys):
    from pyspark.sql import functions as F

    records = spark.read.parquet(os.path.join(wh, "records"))
    sample = records.filter((F.col("status") == "ok") & (F.col("record_id") != "")).limit(1).collect()[0]
    cli_main(["get", "--warehouse", wh, "--table", sample["table"], "--id", sample["record_id"]])
    out = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    return sample, out


@pytest.mark.slow
def test_update_then_get(spark, env, capsys):
    sample, out = _get_output(spark, env, capsys)
    assert out
    assert all(o["tableName"] == sample["table"] for o in out)
    assert all(str(o["id"]) == sample["record_id"] for o in out)
    ts = [o["timestamp"] for o in out]
    assert ts == sorted(ts)


@pytest.mark.slow
def test_info_totals(spark, env, capsys):
    cli_main(["info", "--warehouse", env])
    out = capsys.readouterr().out.strip().splitlines()
    total = int(out[-1].split(":")[1])
    assert total == spark.read.parquet(os.path.join(env, "records")).count()


@pytest.mark.slow
def test_archive_preserves_get(spark, env, capsys):
    before_sample, before = _get_output(spark, env, capsys)
    rc = cli_main(["archive", "--warehouse", env])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert stats["files_after"] <= stats["files_before"]
    # identical results after compaction (LogServerSpecInt :86-100)
    cli_main(["get", "--warehouse", env, "--table", before_sample["table"], "--id", before_sample["record_id"]])
    after = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert after == before


@pytest.mark.slow
def test_archive_then_keep_ingesting(spark, tmp_path_factory, capsys):
    """update 2 of 4 units, archive, update the other 2: the new batches
    append under new, writable ids, and get, info and the on-demand
    aggregates read the whole table — the same ok records as one
    un-archived run over all 4 units."""
    from pyspark.sql import functions as F

    from log_server_spark.catalog import Warehouse
    from log_server_spark.operators.dedup import DEDUP_KEY
    from log_server_spark.plans.pipeline import RECORDS, refresh_aggregates, run_pipeline

    d = tmp_path_factory.mktemp("cli_lifecycle")
    data = str(d / "data")
    write_dataset(data, seed=5, n=400, num_files=4)
    units = sorted(os.listdir(os.path.join(data, "pages")))
    assert len(units) == 4
    arrivals = os.path.join(data, "arrivals")  # next to the lookup dims
    os.makedirs(arrivals)
    wh_dir = str(d / "wh")
    wh = Warehouse(wh_dir, spark)

    def update(names):
        for name in names:
            shutil.copy(os.path.join(data, "pages", name), arrivals)
        argv = ["update", "--warehouse", wh_dir, "--pages-dir", arrivals, "--batch-files", "1"]
        assert cli_main(argv) == 0
        return [line.split(":")[0] for line in capsys.readouterr().out.strip().splitlines()]

    assert update(units[:2]) == ["b00000", "b00001"]
    assert cli_main(["archive", "--warehouse", wh_dir]) == 0
    assert json.loads(capsys.readouterr().out)["archived"] == ["b00000", "b00001"]
    assert update(units[2:]) == ["b00002", "b00003"]
    assert wh.archived_batches() == {"b00000", "b00001"}

    records = wh.read(RECORDS)
    n = records.count()
    assert {r["batch"] for r in records.select("batch").distinct().collect()} == {
        f"b{i:05d}" for i in range(4)
    }
    for batch in ("b00000", "b00003"):  # one archived, one appended after
        s = (
            records.filter(
                (F.col("batch") == batch) & (F.col("status") == "ok") & (F.col("record_id") != "")
            )
            .limit(1).collect()[0]
        )
        cli_main(["get", "--warehouse", wh_dir, "--table", s["table"], "--id", s["record_id"]])
        got = capsys.readouterr().out.strip().splitlines()
        want = records.filter(
            (F.col("table") == s["table"]) & (F.col("record_id") == s["record_id"])
        ).count()
        assert len(got) == want > 0
    cli_main(["info", "--warehouse", wh_dir])
    assert int(capsys.readouterr().out.strip().splitlines()[-1].split(":")[1]) == n
    assert sum(r["n_rows"] for r in refresh_aggregates(wh).collect() if r["per_sink"]) == n

    ref_dir = str(d / "ref_wh")
    run_pipeline(spark, os.path.join(data, "pages"), ref_dir, batch_files=1)

    def ok_keys(root):
        ok = Warehouse(root, spark).read(RECORDS).filter(F.col("status") == "ok")
        return sorted(tuple(r) for r in ok.select(*DEDUP_KEY).collect())

    assert ok_keys(wh_dir) == ok_keys(ref_dir)
