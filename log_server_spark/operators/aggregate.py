"""Aggregation stage — per-sink stats, windowed aggregates, `info` report.

Mirrors the reference's running per-segment aggregates (SURVEY.md A1-A4:
RecordStorage.scala:93-100 min/max ts + count + bytes; HeaderStorage
distinct-key count :175; LogServerDb.info :58-80; ingest added/duplicate
counters MemoryWiseLogWrapper.scala:97-111) as declarative groupBys —
map-side partial aggregation makes these one shuffle of tiny partial states
regardless of input size. Distinct-url is computed exactly (correctness gate)
AND as an HLL sketch (`approx_count_distinct`) — at 10^12 rows the sketch is
the per-window dashboard number, the exact count stays cheap because it
rides the same shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def combined_stats(records: DataFrame, window: str = "1 day"):
    """Per-sink stats (the analogue of per-segment `info`, A3), tumbling
    event-time windows per sink over warc_ts, and ingest status counts in
    ONE aggregation.

    Uses GROUPING SETS ((status), (sink), (window_start, sink)) so the whole
    metrics refresh is a single shuffle/scan instead of three. Returns
    (status_counts_rows, sink_stats_rows, windowed_rows) as collected lists —
    all three groupings are tiny (O(sinks * days)), so they are written
    driver-side.
    """
    base = records.withColumn("window_start", F.window("warc_ts", window)["start"])
    # n_keys counts distinct dedup keys of status='ok' rows ONLY: error rows
    # bypass dedup (their keys can repeat), and the merged-partials refresh
    # path publishes sum(n_ok) — by the dedup invariant every committed ok
    # row holds a globally unique key, so both paths agree, including for
    # the error sink (countDistinct skips the nulls the `when` produces)
    ok_key = F.when(
        F.col("status") == "ok", F.struct("table", "record_id", "record_hash")
    )
    agg = base.groupingSets(
        [["status"], ["sink"], ["window_start", "sink"]],
        "status", "sink", "window_start",
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("url").alias("n_urls"),
        F.approx_count_distinct("url").alias("n_urls_approx"),
        F.countDistinct(ok_key).alias("n_keys"),
        F.min("ts_millis").alias("min_ts"),
        F.max("ts_millis").alias("max_ts"),
        F.sum("n_bytes").alias("total_bytes"),
        F.grouping_id().alias("gid"),
    )
    rows = agg.collect()
    # gid bit order follows the grouping column order (status, sink, window_start)
    status_rows = [r for r in rows if r["gid"] == 0b011]
    sink_rows = [r for r in rows if r["gid"] == 0b101]
    windowed_rows = [r for r in rows if r["gid"] == 0b100]
    return status_rows, sink_rows, windowed_rows


def info(records: DataFrame) -> DataFrame:
    """`info`-command analogue over the stored records table (A3, §3.3):
    one row per (sink, day) "segment" sorted by name. The O(sinks x days)
    result is sorted in one partition, not range-partitioned: a global
    ``orderBy`` would add a sampling job to order a few dozen rows."""
    return (
        records.groupBy("sink", "day")
        .agg(
            F.count("*").alias("records"),
            F.countDistinct("table", "record_id", "record_hash").alias("hashes"),
            F.min("ts_millis").alias("min_ts"),
            F.max("ts_millis").alias("max_ts"),
        )
        .repartition(1)
        .sortWithinPartitions("sink", "day")
    )
