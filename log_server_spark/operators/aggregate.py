"""`info` report over a warehouse's records.

Mirrors the reference's per-segment stats (SURVEY.md A3: LogServerDb.info
:58-80; running min/max ts + count RecordStorage.scala:93-100, hash-index
entry count HeaderStorage :175). The reference reads each segment's stored
head stats rather than its records; ``plans.pipeline.segment_stats`` does
the same with the per-batch partials, driver-side with pyarrow, and the
answer becomes a local relation: no Spark job. The per-sink and windowed
aggregates (A1, A2) are not computed here, and no update publishes them:
``plans.pipeline.refresh_aggregates`` merges the same partials into one
lazy frame when they are asked for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from log_server_spark.operators.lookup import records_warehouses


def info(records: DataFrame) -> DataFrame:
    """`info`-command analogue (A3, §3.3) for the warehouse(s) whose
    records table ``records`` reads (``Warehouse.read``, or a
    ``unionByName`` of several; any other frame raises ``ValueError``):
    one row per (sink, day) "segment" sorted by name, with ``records``,
    ``hashes`` (hash-index entries, the non-null ``record_hash`` count),
    ``min_ts`` and ``max_ts``."""
    from log_server_spark.plans.pipeline import segment_stats

    return records.sparkSession.createDataFrame(segment_stats(records_warehouses(records)))
