"""Point lookup — the reference `get <table> <id>` command (SURVEY.md §3.2).

``get(table, id)`` returns every stored record of the key, ts-ascending
(F1, O1), with id coercion (F7: RecordId.parse tries Int first — "123" and
123 are the same id, RecordId.scala:61-62).

The reference answers a get on the calling thread through each segment's
sorted header index. So does this one: ``plans.pipeline.lookup_records``
probes the ``records_keys`` index for the batches that hold the key and
reads only those batches' records files, driver-side with pyarrow. The
answer (0-3 rows) becomes a local relation, so building and collecting it
submits no Spark job; Spark's own ``to_json`` still renders the JSON,
folded into that relation by the optimizer.

The frame passed in names the warehouse: it must be a ``Warehouse.read``
of the records table, or a ``unionByName`` of several (the multi-warehouse
fan-out). Any other frame raises ``ValueError`` (see ``catalog.scan_roots``).

Output shape mirrors JsRecord JSON (S8: GetCommand.scala:38-40).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from log_server_spark.catalog import Warehouse, scan_roots


def records_warehouses(records: DataFrame) -> list[Warehouse]:
    """The warehouses whose records tables ``records`` reads, each once
    (the same root read twice is one warehouse)."""
    from log_server_spark.plans.pipeline import RECORDS

    roots: list[str] = []
    for path in scan_roots(records):
        path = os.path.normpath(path)
        if os.path.basename(path) != RECORDS:
            raise ValueError(f"{path} is not a warehouse {RECORDS} table")
        if os.path.dirname(path) not in roots:
            roots.append(os.path.dirname(path))
    return [Warehouse(root, records.sparkSession) for root in roots]


def get_records(records: DataFrame, table: str, record_id: str | int) -> DataFrame:
    """All stored records for (table, id), timestamp-ascending."""
    from log_server_spark.parse_ref import canonical_record_id
    from log_server_spark.plans.pipeline import lookup_records

    rid = canonical_record_id(str(record_id))
    rows = lookup_records(records_warehouses(records), table, rid)
    return records.sparkSession.createDataFrame(rows)


def to_json_records(df: DataFrame) -> DataFrame:
    """JSON-shaped output (S8) for an already-filtered record frame. One SQL
    expression, so building it is one py4j call rather than one per column
    reference and alias."""
    return df.selectExpr(
        "to_json(named_struct('tableName', `table`, 'id', record_id, "
        "'timestamp', ts_millis, 'data', text)) AS json"
    )
