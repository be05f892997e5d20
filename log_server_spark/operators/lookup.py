"""Point lookup — the reference `get <table> <id>` command (SURVEY.md §3.2).

``get(table, id)`` ≡ filter on the key + sort by ts (F1, O1) with id
coercion (F7: RecordId.parse tries Int first — "123" and 123 are the same
id, RecordId.scala:61-62). Catalyst pushes the equality predicates into the
parquet scan, where row-group min/max stats skip the row groups that cannot
hold the key. That is NOT file pruning: ``table`` and ``record_id`` are not
partition columns, so in the ``(batch, sink)`` layout a get still lists and
opens every records file (``lookup.files_listed`` was 42 after 4 benchmark
batches) — the reference's sorted-array header index went straight to the
segment. A key-sorted or key-bucketed layout is what would prune files.

The answer is 0-3 rows, so it is ordered by a single-partition
``sortWithinPartitions`` rather than a global ``orderBy``: the global sort
would add a range-partition sampling job for a result that fits one task.

Output shape mirrors JsRecord JSON (S8: GetCommand.scala:38-40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def get_records(records: DataFrame, table: str, record_id: str | int) -> DataFrame:
    """All stored records for (table, id), timestamp-ascending."""
    from log_server_spark.parse_ref import canonical_record_id

    rid = canonical_record_id(str(record_id))
    return (
        records.filter(
            (F.col("table") == table) & (F.col("record_id") == rid)
        )
        .repartition(1)
        .sortWithinPartitions("ts_millis")
        .select("table", "record_id", "ts_millis", "text", "url")
    )


def to_json_records(df: DataFrame) -> DataFrame:
    """JSON-shaped output (S8) for an already-filtered record frame."""
    return df.select(
        F.to_json(
            F.struct(
                F.col("table").alias("tableName"),
                F.col("record_id").alias("id"),
                F.col("ts_millis").alias("timestamp"),
                F.col("text").alias("data"),
            )
        ).alias("json")
    )

