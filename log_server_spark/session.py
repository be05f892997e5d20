"""SparkSession factory with scale-appropriate defaults.

Defaults are chosen for the 100 TB design point and merely *parameterized*
for local testing:

- AQE on (runtime coalescing + skew-join splitting replaces hand-tuning).
- Arrow on (every custom stage is a vectorized pandas UDF, never row-Python).
- Session timezone pinned to UTC — the reference derives timestamps via the
  *system* zone (reference: log-server-db/.../utils/Dates.scala:48
  ``ZONE_ID = ZoneId.systemDefault()``); we pin UTC so results are
  deterministic across clusters.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a real
  cluster AQE coalesces from a high initial number, so the value is safe to
  raise via ``shuffle_partitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024  # match HDFS-block-ish splits


def get_spark(
    master: str | None = None,
    app_name: str = "log-server-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a real cluster, pass ``None`` and let spark-submit set the
    master; every config here remains valid at 1000 executors.
    """
    # one Spark core == one compute thread: BLAS/OMP pools inside the N
    # python workers otherwise idle-spin N*ncores threads and the kernel
    # drowns in scheduling/TLB churn (observed: sys time >> user time)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # glibc mmap()s every allocation above ~128 KB and munmap()s it on free,
    # so EVERY large numpy/Arrow temporary re-pays first-touch page faults —
    # and concurrent munmap across N workers is an N-way TLB-shootdown IPI
    # storm (measured on this host: a 14M-element np.cumsum cost 9.5 s the
    # mmap way vs 0.04 s from reused heap pages — 200x). Raising the mmap
    # threshold makes workers recycle heap pages instead. Workers inherit
    # the env at fork, so this must be set before the first worker spawns;
    # per-process heaps grow by at most the threshold's high-water mark.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, str(256 * 1024 * 1024))

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*"))
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-mode sizing: at the 64 MB default AQE coalesces a ~300 MB
        # shuffle down to ~5 reduce tasks and starves >8-core runs; 16 MB
        # keeps reducers >= cores at test scale. On a real cluster raise it
        # back toward 64-128 MB via extra_conf.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(DEFAULT_MAX_PARTITION_BYTES))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # v2 commits rename files at TASK commit (parallel) instead of one
        # driver-side sequential pass at job commit; v2's failure mode —
        # partial files from a crashed job — is exactly what the pipeline's
        # torn-write recovery already detects and drops (a batch dir without
        # its lineage row is rebuilt), so the v1 safety net is redundant here
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # co-partitioning on a SUBSET of join keys: a join side already
        # hash-partitioned on some of the keys is not re-shuffled. Kept for
        # the near-dup pair and component joins, whose plans were built and
        # measured with it on
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # the codegen cache holds 100 generated classes by default; one
        # ingest batch generates ~95, so the cache's LRU evicted and
        # recompiled 30-50 of them on every batch (~0.3-0.4 s of Janino per
        # live batch, and the JIT then compiles each new class again). At
        # 1000 a batch recompiles only the plans whose inlined literals
        # changed (its ts-range filter on the keys)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # ship the malloc tuning to cluster executors too (local workers
        # already inherit the driver env set above)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", os.environ["MALLOC_TRIM_THRESHOLD_"])
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
