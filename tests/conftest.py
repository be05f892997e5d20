import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_server_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="lss-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def anti_join_plan(spark):
    """Executed plan of the pipeline's dedup shape, in-batch dedup then the
    committed-keys anti-join, with broadcast off. Asserts the batch
    shuffles once: exactly two Exchanges (the dedup aggregate's and the
    committed keys'), and none between the dedup aggregate and the join."""
    from log_server_spark.operators.dedup import anti_join_committed, split_duplicates

    def plan(ok, committed):
        conf = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "-1")
        try:
            joined = anti_join_committed(split_duplicates(ok)[0], committed)
            text = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(conf, old)
        assert text.count("Exchange") == 2, text
        lines = text.splitlines()
        join = next(i for i, line in enumerate(lines) if "SortMergeJoin" in line)
        agg = next(i for i in range(join, len(lines)) if "Aggregate" in lines[i])
        assert not any("Exchange" in line for line in lines[join:agg]), text
        return text

    return plan


@pytest.fixture
def lineage_invariants():
    """Checks a warehouse's lineage against its data dirs, read with pyarrow
    rather than through the pipeline: no unit is held by two committed
    batches, the committed ids run b00000, b00001, ... with no gap, and
    every ``batch=`` dir of records and records_keys other than
    ``archived`` belongs to a committed batch. Returns batch -> units."""
    import glob

    import pyarrow.parquet as pq

    def check(root):
        lineage = os.path.join(root, "lineage")
        rows = pq.read_table(lineage).to_pylist() if os.path.isdir(lineage) else []
        batches: dict[str, list[str]] = {}
        for r in rows:
            assert r["status"] == "committed", r
            batches.setdefault(r["batch"], []).append(r["unit"])
        units = [u for us in batches.values() for u in us]
        assert len(units) == len(set(units)), batches
        assert sorted(batches) == [f"b{i:05d}" for i in range(len(batches))], sorted(batches)
        for table in ("records", "records_keys"):
            for d in glob.glob(os.path.join(root, table, "batch=*")):
                bid = os.path.basename(d).split("=", 1)[1]
                assert bid == "archived" or bid in batches, d
        return batches

    return check
