"""Batch planning from lineage: a unit is known by its absolute path, a run
plans only the units no committed lineage row holds, and new batches are
numbered on from the highest committed id. Committed batches never move,
so deleting an ingested unit (the reference deletes its sources after a
successful ingest, LogServerDb.scala:86-93) or landing a late unit that
sorts first costs one new batch and loses nothing.

Arrivals come from the benchmark's ``live`` generator, and
``perfbench.checks.IngestModel`` says what the records table must hold."""

import os
import shutil

import pytest
from perfbench import checks, gen

from log_server_spark.plans.pipeline import RECORDS, run_pipeline

SEED = 3
FRESH = 40


class _Feed:
    """Lands ``live`` arrivals as units under ``<base>/pages`` and folds each
    into an ingest model in the order the warehouse will ingest them."""

    def __init__(self, base):
        self.pages = os.path.join(str(base), "pages")
        os.makedirs(self.pages)
        gen.write_lookups(str(base))
        self.model = checks.IngestModel()
        self.history: list[list[dict]] = []

    def land(self, i: int, name: str | None = None) -> str:
        pages = gen.live_arrival(SEED, i, FRESH, 0.1, self.history)
        self.history.append(pages)
        path = os.path.join(self.pages, name or f"arrival-{i:06d}.parquet")
        gen.write_pages(pages, path, row_groups=2)
        self.model.apply(pages)
        return path


def _assert_records_match(root, model):
    counts = checks.records_table_counts(os.path.join(root, RECORDS))
    assert checks.check_records_counts(counts, model) == []


def _tree(root):
    """Every file under ``root`` with its size and mtime."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_deleting_an_ingested_unit_loses_no_record(spark, tmp_path, lineage_invariants):
    feed = _Feed(tmp_path / "data")
    root = str(tmp_path / "wh")
    for i in range(3):
        feed.land(i)
    assert [r.batch for r in run_pipeline(spark, feed.pages, root, batch_files=1)] == [
        "b00000", "b00001", "b00002",
    ]
    lineage_invariants(root)
    _assert_records_match(root, feed.model)

    os.remove(os.path.join(feed.pages, "arrival-000000.parquet"))
    new = feed.land(3)
    results = run_pipeline(spark, feed.pages, root, batch_files=1)
    assert [(r.batch, r.files) for r in results] == [("b00003", [new])]
    assert lineage_invariants(root)["b00000"] == [
        os.path.join(feed.pages, "arrival-000000.parquet")
    ]
    _assert_records_match(root, feed.model)


def test_late_early_sorting_unit_runs_one_batch(spark, tmp_path, lineage_invariants):
    feed = _Feed(tmp_path / "data")
    root = str(tmp_path / "wh")
    feed.land(1)
    feed.land(2)
    assert len(run_pipeline(spark, feed.pages, root, batch_files=1)) == 2
    lineage_invariants(root)
    late = feed.land(0)  # sorts before every committed unit
    results = run_pipeline(spark, feed.pages, root, batch_files=1)
    assert [(r.batch, r.files) for r in results] == [("b00002", [late])]
    lineage_invariants(root)
    _assert_records_match(root, feed.model)


def test_changed_batch_files_on_committed_warehouse_is_a_noop(
    spark, tmp_path, lineage_invariants
):
    feed = _Feed(tmp_path / "data")
    root = str(tmp_path / "wh")
    for i in range(3):
        feed.land(i)
    assert [len(r.files) for r in run_pipeline(spark, feed.pages, root, batch_files=2)] == [2, 1]
    lineage_invariants(root)
    before = _tree(root)
    assert run_pipeline(spark, feed.pages, root, batch_files=1) == []
    assert _tree(root) == before
    lineage_invariants(root)


def test_relative_and_absolute_pages_dir_are_one_unit_set(
    spark, tmp_path, monkeypatch, lineage_invariants
):
    feed = _Feed(tmp_path / "data")
    root = str(tmp_path / "wh")
    feed.land(0)
    monkeypatch.chdir(tmp_path)
    assert len(run_pipeline(spark, os.path.join("data", "pages"), root, batch_files=1)) == 1
    lineage_invariants(root)
    assert run_pipeline(spark, feed.pages + "/", root, batch_files=1) == []
    assert lineage_invariants(root) == {
        "b00000": [os.path.join(feed.pages, "arrival-000000.parquet")]
    }
    _assert_records_match(root, feed.model)


def test_dirs_sharing_file_names_both_land(spark, tmp_path, lineage_invariants):
    a = _Feed(tmp_path / "a")
    b = _Feed(tmp_path / "b")
    b.model = a.model  # one warehouse: dedup spans both dirs
    a.land(0, "part-00000.parquet")
    b.land(1, "part-00000.parquet")
    root = str(tmp_path / "wh")
    assert [r.batch for r in run_pipeline(spark, a.pages, root, batch_files=1)] == ["b00000"]
    lineage_invariants(root)
    assert [r.batch for r in run_pipeline(spark, b.pages, root, batch_files=1)] == ["b00001"]
    assert sorted(lineage_invariants(root).values()) == [
        [os.path.join(a.pages, "part-00000.parquet")],
        [os.path.join(b.pages, "part-00000.parquet")],
    ]
    _assert_records_match(root, a.model)


def test_update_on_an_emptied_pages_dir_does_nothing(spark, tmp_path, capsys, lineage_invariants):
    """The reference's state after it deletes its ingested sources: an
    existing, empty pages dir plans nothing. A missing dir still raises."""
    from log_server_spark.cli import main as cli_main

    feed = _Feed(tmp_path / "data")
    root = str(tmp_path / "wh")
    feed.land(0)
    assert len(run_pipeline(spark, feed.pages, root, batch_files=1)) == 1
    lineage_invariants(root)
    os.remove(os.path.join(feed.pages, "arrival-000000.parquet"))
    capsys.readouterr()
    assert cli_main(["update", "--warehouse", root, "--pages-dir", feed.pages]) == 0
    assert "nothing to do" in capsys.readouterr().out
    lineage_invariants(root)
    _assert_records_match(root, feed.model)
    shutil.rmtree(feed.pages)
    with pytest.raises(FileNotFoundError):
        run_pipeline(spark, feed.pages, root, batch_files=1)


def test_resume_false_refuses_a_committed_warehouse(spark, tmp_path, lineage_invariants):
    """``resume=False`` asks for a fresh ingest: on a warehouse that holds
    committed lineage it raises before writing anything."""
    feed = _Feed(tmp_path / "data")
    root = str(tmp_path / "wh")
    feed.land(0)
    assert len(run_pipeline(spark, feed.pages, root, batch_files=1, resume=False)) == 1
    lineage_invariants(root)
    feed.land(1)
    before = _tree(root)
    with pytest.raises(RuntimeError, match="committed"):
        run_pipeline(spark, feed.pages, root, batch_files=1, resume=False)
    assert _tree(root) == before
    lineage_invariants(root)


def test_a_session_sees_batches_another_process_committed(spark, tmp_path, lineage_invariants):
    """The committed side of the anti-join is read from the files on every
    update: a long-lived session dedups against a batch that another
    process committed into the same warehouse after the session's first
    update (the reference reads its hash indexes from disk under the
    warehouse lock, Directory.scala:140-170)."""
    feed = _Feed(tmp_path / "data")
    root, other = str(tmp_path / "wh"), str(tmp_path / "wh_other")
    feed.land(0)
    assert len(run_pipeline(spark, feed.pages, root, batch_files=1)) == 1
    shutil.copytree(root, other)
    unit = feed.land(1)
    (first,) = run_pipeline(spark, feed.pages, other, batch_files=1)
    assert first.batch == "b00001"
    # what the other process's commit of b00001 leaves in the warehouse
    for table in ("records", "records_keys"):
        shutil.copytree(
            os.path.join(other, table, "batch=b00001"), os.path.join(root, table, "batch=b00001")
        )
    for table in ("lineage", "metrics_ingest", "metrics_partials"):
        shutil.copy(os.path.join(other, table, "part-b00001.parquet"), os.path.join(root, table))
    shutil.copyfile(unit, os.path.join(feed.pages, "arrival-000002.parquet"))
    feed.model.apply(feed.history[-1])
    (replay,) = run_pipeline(spark, feed.pages, root, batch_files=1)
    n_ok = first.added + first.duplicates
    assert (replay.batch, replay.added, replay.duplicates) == ("b00002", 0, n_ok)
    lineage_invariants(root)
    _assert_records_match(root, feed.model)


@pytest.mark.parametrize("mode", ["before_write", "half_written"])
def test_a_crash_in_the_lineage_write_reruns_the_batch(
    spark, tmp_path, monkeypatch, lineage_invariants, mode
):
    """A crash while a batch's lineage file is written leaves the batch
    uncommitted, never a torn lineage file: the next update reruns it."""
    import pyarrow.parquet as pq

    feed = _Feed(tmp_path / "data")
    root = str(tmp_path / "wh")
    feed.land(0)
    assert len(run_pipeline(spark, feed.pages, root, batch_files=1)) == 1
    unit = feed.land(1)
    write_table = pq.write_table

    def crash_in_lineage(table, where, **kw):
        if os.path.basename(os.path.dirname(where)) == "lineage":
            if mode == "half_written":
                write_table(table, where, **kw)
                with open(where, "r+b") as f:
                    f.truncate(40)
            raise OSError("crashed while writing lineage")
        write_table(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", crash_in_lineage)
    with pytest.raises(OSError, match="crashed"):
        run_pipeline(spark, feed.pages, root, batch_files=1)
    monkeypatch.undo()

    results = run_pipeline(spark, feed.pages, root, batch_files=1)
    assert [(r.batch, r.files) for r in results] == [("b00001", [unit])]
    lineage_invariants(root)
    _assert_records_match(root, feed.model)
    hidden = [
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        if f.startswith(".") and not f.endswith(".crc")
    ]
    assert hidden == []
