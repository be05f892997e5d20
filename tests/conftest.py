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
