"""Benchmark entry point.

    python3 perfbench/run.py --workload {live,near_dup} --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. One run is one fresh process:
it pins the environment, starts a Spark session at ``local[4]``, sets up
and warms the workload, measures it for ``--seconds``, checks every
output, stops Spark and waits for the JVM and its Python workers to exit.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``, where metrics are the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``). The line before it holds run
diagnostics (pinned environment, warm-up drift, steal time, sample
counts). A traced run also writes its spans, with per-layer self time, to
``.perfbench_out/`` in the checkout. Everything else the run writes goes
to ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4

# Settings the program reads from the environment. The first group is left
# at the program's defaults (unset); the second is fixed so both sides of a
# comparison run the same configuration.
UNSET = (
    "LSS_PARSE_FAST", "LSS_PERSIST_LEVEL", "LSS_INGEST_ZSTD_LEVEL", "LSS_KEYS_BUCKETS",
    "LSS_TARGET_FILE_BYTES", "LSS_TIMING", "LSS_NO_NATIVE", "LSS_SKIP_COMPACT_VERIFY",
    "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS",
)
FIXED = {
    "SPARK_GRAFT_CPUS": str(CORES),
    "SPARK_DRIVER_MEMORY": "3g",
    "MALLOC_MMAP_THRESHOLD_": str(256 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "PYTHONHASHSEED": "0",
    "TZ": "UTC",
}



def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def pin_env(work: str) -> dict:
    for k in UNSET:
        os.environ.pop(k, None)
    os.environ.update(FIXED, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # fresh per run: the native murmur3 build lands in the warm-up on
        # every run instead of only on whichever run first misses a cache
        "LSS_NATIVE_DIR": os.path.join(work, "native"),
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
    })
    keys = UNSET + tuple(FIXED) + ("PYSPARK_PYTHON", "TMPDIR", "SPARK_LOCAL_DIRS", "LSS_NATIVE_DIR")
    return {k: os.environ.get(k) for k in keys}


def start_session(work: str):
    from log_server_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        master=f"local[{CORES}]",
        app_name="perfbench",
        extra_conf={
            # no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spawn_workers(spark) -> None:
    """Start the Python worker pool with one Arrow stage on every core."""
    spark.range(CORES * 8, numPartitions=CORES * 2).mapInArrow(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and every descendant."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    proc = SparkContext._gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["live", "near_dup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "log_server_spark")):
        print(f"no log_server_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # a plain SIGTERM would skip the clean-up below and orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        env = pin_env(work)
        from perfbench import checks, workloads
        from perfbench.probes import JobCounter

        broken = checks.selftest()
        if broken:
            print(f"checker self-test failed: {broken}", file=sys.stderr)
            return 3

        t0 = time.perf_counter()
        spark = start_session(work)
        t_session = time.perf_counter() - t0
        if a.workload == "live":
            t1 = time.perf_counter()
            spawn_workers(spark)
            t_session += time.perf_counter() - t1
        jobs = JobCounter(spark.sparkContext) if a.trace else None
        run = workloads.Run(spark, work, a.seed, a.seconds, bool(a.trace), jobs)
        t_warm = getattr(workloads, a.workload)(run)
        m = run.op_metrics()
        attempted, failed, problems = run.outcome()
        m["setup_s"] = t_session + t_warm

        lay = {k: statistics.median(v) for k, v in run.layer.items()}
        # the cache count is a level that can only grow: report where it ended
        lay["cache.persisted_rdds"] = run.layer["cache.persisted_rdds"][-1]
        if a.workload == "live":
            lay.update(workloads.live_metrics(run))
            lay.update(workloads.storage_metrics(
                os.path.join(work, "warehouse"), run.live_records))
        lay.update({
            "session.start_s": t_session, "session.warmup_s": t_warm,
            "mem.peak_rss_mb": m["_peak_rss_mb"], "mem.jvm_rss_mb": m["_jvm_rss"],
            "mem.python_rss_mb": m["_py_rss"],
            "host.steal_s": run.steal,
        })
        diag = {
            "workload": a.workload, "seed": a.seed, "env": env,
            "ops": attempted, "measure_wall_s": run.measure_wall,
            "drift": m["_drift"], "host.steal_s": run.steal,
            "op_walls_s": [o.get("wall") for o in run.ops],
            "op_cpu": [o.get("cpu_split") for o in run.ops],
            "problems": problems[:20],
        }
        if a.workload == "live":
            gets = [g[4] for o in run.ops if not o.get("failed") for g in o["gets"]]
            diag["get_samples"] = len(gets)
            diag["update_s"] = [o.get("update_s") for o in run.ops]
            diag["get_p50_s"] = statistics.median(gets)
            diag["info_s"] = [o["info"][0] for o in run.ops if "info" in o]
        if a.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"trace-{a.workload}-seed{a.seed}-{os.getpid()}.json")
            with open(path, "w") as f:
                json.dump({"spans": run.tr.spans, "self_s": run.tr.self_times(),
                           "layer_samples": run.layer}, f)
            diag["spans_file"] = os.path.relpath(path, ROOT)
        metrics = {k: {"value": float((lay if a.trace else m).get(k, 0.0)), "unit": u}
                   for k, u in metric_units(bool(a.trace)).items()}
        result = {"correct": not problems, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(diag, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
