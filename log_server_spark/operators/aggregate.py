"""`info` report over the records table.

Mirrors the reference's per-segment stats (SURVEY.md A3: LogServerDb.info
:58-80; running min/max ts + count RecordStorage.scala:93-100, hash-index
entry count HeaderStorage :175) as one declarative groupBy — map-side
partial aggregation makes it one shuffle of tiny partial states regardless
of input size: one shuffle-map job plus the result job. The published
per-sink and windowed aggregates (A1, A2) are not computed here:
``plans.pipeline.refresh_aggregates`` merges the per-batch partials into
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def info(records: DataFrame) -> DataFrame:
    """`info`-command analogue over the stored records table (A3, §3.3):
    one row per (sink, day) "segment" sorted by name. The O(sinks x days)
    result is sorted in one partition, not range-partitioned: a global
    ``orderBy`` would add a sampling job to order a few dozen rows.

    ``hashes`` counts hash-index entries, the non-null ``record_hash``
    values, as the reference does. It equals the distinct dedup-key count
    by the dedup invariant: every stored ok row holds a unique
    (table, record_id, record_hash), and error rows have a null hash. A
    ``countDistinct`` would cost two more shuffles."""
    return (
        records.groupBy("sink", "day")
        .agg(
            F.count("*").alias("records"),
            F.count("record_hash").alias("hashes"),
            F.min("ts_millis").alias("min_ts"),
            F.max("ts_millis").alias("max_ts"),
        )
        .coalesce(1)
        .sortWithinPartitions("sink", "day")
    )
