"""Physical-plan quality gates.

The 100 TB story depends on plan shape, not just results: filters must reach
the parquet scan, small dims must broadcast, scans must prune columns, and
Python stages must be Arrow-vectorized. These tests pin those properties so
a refactor can't silently regress them.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_point_lookup_pushes_filter(spark):
    from log_server_spark.queries import q_point_lookup

    plan = plan_of(q_point_lookup(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "user_id" in plan.split("PushedFilters")[1].splitlines()[0]


def test_point_lookup_prunes_columns(spark):
    from log_server_spark.queries import q_point_lookup

    plan = plan_of(q_point_lookup(spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema  # unused wide column never read


def test_enrich_uses_broadcast_joins(spark):
    from log_server_spark.queries import q_enrich_broadcast

    plan = plan_of(q_enrich_broadcast(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_parse_stage_is_arrow_vectorized(spark, tmp_path):
    import pyarrow.parquet as pq

    from log_server_spark.datagen import gen_pages
    from log_server_spark.functions.parse import parse_pages

    pq.write_table(gen_pages(seed=1, n=50), str(tmp_path / "p.parquet"))
    plan = plan_of(parse_pages(spark.read.parquet(str(tmp_path / "p.parquet"))))
    assert "MapInArrow" in plan or "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python is banned


def test_aggregates_are_partial(spark):
    from log_server_spark.queries import q_pricing_summary

    plan = plan_of(q_pricing_summary(spark, SF_DIR))
    # map-side combine: two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_flagship_single_scan(spark):
    from log_server_spark.queries import q_flagship_route_aggregate

    plan = plan_of(q_flagship_route_aggregate(spark, SF_DIR))
    # routing + aggregation must be one pass over documents, not N re-scans
    # (each distinct scan gets one "Location:" detail block)
    assert plan.count("Location:") == 1


@pytest.mark.slow
def test_no_driver_collect_in_any_query(spark, monkeypatch):
    """No queries() plan may materialize data on the driver during
    construction (the 100 TB ban on collect-and-broadcast operators)."""
    import pyspark.sql.classic.dataframe as cdf

    import __spark_entry__ as entry_mod

    def _banned(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver-side materialization inside a queries() plan")

    for meth in ("collect", "toPandas", "toLocalIterator"):
        monkeypatch.setattr(cdf.DataFrame, meth, _banned)
    for name, fn in entry_mod.queries().items():
        if name == "pipeline_e2e":
            # runs the ingest protocol at construction; its driver-side
            # aggregates are O(1)-row bookkeeping (lineage/ts-range/metrics),
            # not data materialization — the ban targets operator plans
            continue
        if name in ("dedup_clusters", "dedup_keep_best"):
            # iterative connected components localCheckpoints label frames
            # per round (the standard lineage-truncation idiom) and reads
            # back a 1-row label-sum scalar for the convergence early-exit
            # — jobs run at construction but data stays on EXECUTORS;
            # nothing reaches the driver beyond O(1) bookkeeping.
            # dedup_keep_best composes the same operator.
            continue
        df = fn(spark, SF_DIR)  # constructing the plan must not collect
        assert df.columns, name
