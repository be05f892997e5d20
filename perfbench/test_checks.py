"""The output checkers must reject wrong results (``pytest perfbench``)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks


def test_every_checker_rejects_its_wrong_inputs():
    assert checks.selftest() == []


def test_records_table_counts_read_the_stored_rows(tmp_path):
    for batch, status in (("b00000", ["ok", "ok", "err_bad_date"]), ("b00001", ["ok"])):
        d = tmp_path / f"batch={batch}" / "sink=lang_en"
        os.makedirs(d)
        pq.write_table(pa.table({"status": status}), d / "part-0.parquet")
    counts = checks.records_table_counts(str(tmp_path))
    assert counts == (3, 1)
    model = checks.IngestModel()
    model.added, model.errors = 3, 1
    assert checks.check_records_counts(counts, model) == []
    model.errors = 2
    assert checks.check_records_counts(counts, model)
