"""Routing stage — predicate fan-out to per-lang / per-domain / error sinks.

Generalizes the reference's validity predicates (SURVEY.md F3/F4,
NewLogReader.scala:78-86, OldLogReader.scala:38,51): where the reference
throws or silently skips, we assign every row exactly one sink.

Scale note: the fan-out is written as ONE pass — a ``sink`` column plus a
single partitioned write (``partitionBy('batch', 'sink')``, the one records
layout) — not N filtered re-scans. One shuffle-free write produces every sink directory; Iceberg's
equivalent is a single append with a partition spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# langs that get dedicated sinks; the rest route by domain category
PRIMARY_LANGS = ["en", "ru", "de", "fr", "es"]
ERROR_SINK = "error"


def with_sink(df: DataFrame) -> DataFrame:
    """Assign the route. Exactly one sink per row, deterministic.

    - any parse error status      -> 'error'
    - primary language            -> 'lang_<lang>'
    - otherwise                   -> 'cat_<domain category|unknown>'
    """
    return df.withColumn(
        "sink",
        F.when(F.col("status") != F.lit("ok"), F.lit(ERROR_SINK))
        .when(
            F.col("lang").isin(PRIMARY_LANGS), F.concat(F.lit("lang_"), F.col("lang"))
        )
        .otherwise(
            F.concat(F.lit("cat_"), F.coalesce(F.col("category"), F.lit("unknown")))
        ),
    )

