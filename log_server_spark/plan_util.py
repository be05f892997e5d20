"""Driver-side plan helpers shared by queries and operators."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame


def _conf_bytes(spark, key: str) -> int:
    """A byte-size SQL conf (set or default) as Spark itself reads it:
    ``JavaUtils.byteStringAsBytes``, so "64m", "1g" and "4194304b" all
    parse to the bytes Spark's file packing uses."""
    raw = spark.conf.get(key)
    return int(spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))


def _input_files(df: DataFrame) -> list[str]:
    """The files backing a plan ([] for non-file sources). Driver metadata
    only (the scan's FileIndex listing) — NO RDD conversion, no Spark job,
    and unlike ``df.rdd.getNumPartitions()`` it does not bypass AQE on the
    frame."""
    try:
        return df.inputFiles()
    except Exception:
        return []


def _files_bytes(uris: list[str]) -> int | None:
    """Total size of ``uris``, or None when there are none or a size is not
    locally stat-able (s3a://, hdfs:// — every non-local URI from
    ``df.inputFiles()`` — or a moved file)."""
    if not uris:
        return None
    total = 0
    for uri in uris:
        p = unquote(urlparse(uri).path) if "://" in uri or uri.startswith("file:") else uri
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def spread_small_input(df: DataFrame) -> DataFrame:
    """Small-input / heavy-compute guard: a corpus that fits one parquet
    split would run downstream interpreted/Python-heavy work on ONE core.
    Repartition up to the session parallelism only when the file-size
    estimate says the scan yields fewer splits than cores; at real scale the
    scan already has >= cores partitions and this is a no-op (no shuffle,
    no plan probe). The split estimate mirrors Spark's file packing:
    ceil((total + n_files * openCost) / maxPartitionBytes) — per-file open
    cost is what keeps many-small-file scans from collapsing into one
    split. Non-file sources (in-memory test frames) conservatively spread.

    Only spreads when the estimate AFFIRMATIVELY says the input is small.
    File count alone settles it first, before any per-file stat: with
    n >= target files the packed size is >= target * openCost, so Spark's
    maxSplitBytes = min(maxPartitionBytes, max(openCost, size / target))
    is <= size / target and the scan already has >= target splits. That
    keeps the driver's cost flat in file count, and it is also the answer
    when sizes are unavailable (object-store URIs — the 100 TB case); an
    unconditional repartition there would be a full shuffle of a large
    input plus a partition-count collapse.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    uris = _input_files(df)
    if len(uris) >= target:
        return df
    total = _files_bytes(uris)
    if total is not None:
        mpb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
        open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes")
        est_splits = (total + len(uris) * open_cost + mpb - 1) // mpb
        if est_splits >= target:
            return df
    return df.repartition(target)
