"""The benchmark workloads. Each drives the engine only through its public
functions, in one closed loop with one client.

``live``     one op = an ``update`` (run_pipeline, resume on) of a small
             time-ordered arrival, then GETS_PER_CYCLE ``get``s and one
             ``info`` on the same warehouse.
``near_dup`` one op = near-duplicate dedup of one fresh document shard:
             ``minhash_lsh_pairs`` feeding ``components_from_pairs``.

Every op's output is kept and checked after the measured window. In a
traced run each op runs exactly as untraced, inside span ``<workload>.op``;
outside that span the layer calls are replayed on the same input, each
forced to a ``noop`` sink, as child spans of ``<workload>.replay``.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import checks, gen
from perfbench.probes import ProcessTree, Tracer, steal_s

LIVE = {
    "fresh_pages": 1000,   # new pages per arrival
    "replay_share": 0.10,  # re-sent pages from the last 3 arrivals, per fresh page
    "gets_per_cycle": 6,
    "absent_share": 0.10,
    "warmup_ops": 2,
}
NEAR_DUP = {
    "docs": 5000,
    "dup_share": 0.10,
    "warmup_ops": 3,
    "lsh": dict(num_hashes=16, bands=8, shingle_n=3, threshold=0.5, base="xxhash64"),
    "recall_floor": 0.9,
}


def tail(values: list[float]) -> float:
    """The highest sample with at least ten samples beyond it (the median
    when there are fewer than 21 samples)."""
    v = sorted(values)
    return v[len(v) - 11] if len(v) >= 21 else statistics.median(v)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Run:
    """State shared by a workload's set-up, ops and checks."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, jobs):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tree = ProcessTree(spark.sparkContext._gateway.proc.pid)
        self.tr = Tracer(trace, jobs)
        self.trace = trace
        self.ops: list[dict] = []       # one record per measured op
        self.layer: dict[str, list] = {}  # per-layer samples (traced run)
        self.problems: list[str] = []

    def sample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def loop(self, op, warmup: int) -> float:
        """Run ``warmup`` ops, then measured ops until one more op of the
        median length so far would end past ``seconds`` (at least two ops).
        Returns the warm-up wall time."""
        t_warm = 0.0
        for i in range(warmup):
            t_warm += op(i, measured=False)
        t0 = time.perf_counter()
        s0 = steal_s()
        i = warmup
        while True:
            try:
                op(i, measured=True)
            except Exception as e:  # an op that raises counts as failed
                self.ops.append({"failed": True, "problems": [f"op {i} raised {e!r}"]})
            i += 1
            walls = [o["wall"] for o in self.ops if not o.get("failed")] or [0.0]
            if len(self.ops) >= 2 and time.perf_counter() - t0 + statistics.median(walls) > self.seconds:
                break
        self.measure_wall = time.perf_counter() - t0
        self.steal = steal_s() - s0
        return t_warm

    def timed(self, fn) -> tuple[float, dict]:
        """Call ``fn``; return (wall s, cpu-s by part). JIT compiler threads
        are split out: their work is warm-up, not the op's own, and it
        fades at a rate that varies from run to run. A compiler thread
        that exits mid-op leaves its share inside ``jvm``."""
        j0, p0 = self.tree.cpu()
        c0 = self.tree.compiler_threads()
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        j1, p1 = self.tree.cpu()
        jit = sum(v - c0.get(t, 0.0) for t, v in self.tree.compiler_threads().items())
        return wall, {"jvm": j1 - j0 - jit, "jit": jit, "python": p1 - p0}

    def record(self, rec: dict, wall: float, cpu: dict) -> None:
        """Keep a measured op and its per-op process samples."""
        rec.update(wall=wall, cpu=cpu["jvm"] + cpu["python"], cpu_split=cpu,
                   problems=rec.get("problems", []))
        self.ops.append(rec)
        self.sample("cpu.jvm_s", cpu["jvm"])
        self.sample("cpu.jit_s", cpu["jit"])
        self.sample("cpu.python_s", cpu["python"])
        self.sample("cache.persisted_rdds", len(self.spark.sparkContext._jsc.getPersistentRDDs()))

    def outcome(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over the measured ops; an op fails
        if it raised or its output check failed."""
        probs = self.problems + [p for o in self.ops for p in o["problems"]]
        return len(self.ops), sum(1 for o in self.ops if o["problems"]), probs

    def op_metrics(self) -> dict:
        good = [o for o in self.ops if not o.get("failed")]
        if not good:
            raise RuntimeError("every measured op raised")
        walls = [o["wall"] for o in good]
        items = sum(o["items"] for o in good)
        jvm, py = self.tree.peak_rss_mb()  # per-layer: GC timing makes it vary
        half = len(walls) // 2
        drift = (
            statistics.median(walls[half:]) / statistics.median(walls[:half])
            if half else 1.0
        )
        return {
            "op_p50_s": statistics.median(walls),
            "items_per_s": items / sum(walls),
            "cpu_s_per_kitem": 1000 * sum(o["cpu"] for o in good) / items,
            "_peak_rss_mb": jvm + py,
            "_drift": drift,
            "_jvm_rss": jvm,
            "_py_rss": py,
        }


# ---------------------------------------------------------------- live

def live(run: Run) -> float:
    """Returns the warm-up wall; fills ``run.ops`` and ``run.layer``."""
    from log_server_spark.catalog import Warehouse
    from log_server_spark.operators.aggregate import info
    from log_server_spark.operators.lookup import get_records, to_json_records
    from log_server_spark.plans import pipeline as pl

    spark, p = run.spark, LIVE
    data = os.path.join(run.work, "data")
    pages_dir = os.path.join(data, "pages")
    wh_root = os.path.join(run.work, "warehouse")
    os.makedirs(pages_dir)
    gen.write_lookups(data)
    wh = Warehouse(wh_root, spark)
    model = checks.IngestModel()
    history: list[list[dict]] = []
    if run.trace:
        _trace_pipeline(run, pl)

    def op(i: int, measured: bool) -> float:
        pages = gen.live_arrival(run.seed, i, p["fresh_pages"], p["replay_share"], history)
        history.append(pages)
        path = os.path.join(pages_dir, f"arrival-{i:06d}.parquet")
        in_bytes = gen.write_pages(pages, path)
        want = model.apply(pages)
        reqs = gen.get_requests(run.seed, i, p["gets_per_cycle"], model.id_order, p["absent_share"])
        wants = [model.expected_get(t, r) for t, r in reqs]
        run.current_op = i
        if run.trace and measured:
            _replay_live(run, i, path, wh, want)
        before = _dir_stats(wh_root)[1]
        rec = {"items": len(pages), "gets": []}

        def cycle():
            with run.tr.span("live.update", i):
                res = pl.run_pipeline(spark, pages_dir, wh_root, batch_files=1)
            rec["update_s"] = time.perf_counter() - t0
            rec["result"] = [(r.added, r.duplicates, r.errors) for r in res]
            for (table, rid), want_rows in zip(reqs, wants):
                g0 = time.perf_counter()
                with run.tr.span("live.get", i) as s:
                    df = to_json_records(get_records(wh.read(pl.RECORDS), table, rid))
                    g1 = time.perf_counter()
                    rows = [r.json for r in df.collect()]
                g2 = time.perf_counter()
                rec["gets"].append((table, rid, rows, want_rows, g2 - g0, g1 - g0, g2 - g1, s))
            i0 = time.perf_counter()
            with run.tr.span("live.info", i) as s:
                idf = info(wh.read(pl.RECORDS))
                i1 = time.perf_counter()
                rec["info_rows"] = idf.collect()
            i2 = time.perf_counter()
            rec["info"] = (i2 - i0, i1 - i0, i2 - i1, s)

        t0 = time.perf_counter()
        with run.tr.span("live.op", i):
            wall, cpu = run.timed(cycle)
        # warm-up updates are checked too: the model and the warehouse must
        # have seen the same arrivals for later expectations to hold
        res = rec["result"]
        rec["problems"] = checks.check_update(_summed(res), want) if res else [f"update {i} added no batch"]
        rec["total"] = model.added + model.errors
        if measured:
            run.record(rec, wall, cpu)
            if run.trace:
                _after_live_op(run, i, wh_root, in_bytes, before)
        else:
            run.problems += rec["problems"]
        return wall

    warm = run.loop(op, p["warmup_ops"])
    _check_live(run, wh_root, model)
    run.live_records = model.added + model.errors
    return warm


def _summed(results: list[tuple]) -> tuple:
    return tuple(sum(x) for x in zip(*results))


def _check_live(run: Run, wh_root: str, model: checks.IngestModel) -> None:
    for o in run.ops:
        if o.get("failed"):
            continue
        for table, rid, rows, want, *_ in o["gets"]:
            o["problems"] += checks.check_get(table, rid, rows, want)
        n = sum(r["records"] for r in o["info_rows"])
        if n != o["total"]:
            o["problems"].append(f"info counts {n} records, expected {o['total']}")
    run.problems += checks.check_records_counts(
        checks.records_table_counts(os.path.join(wh_root, "records")), model
    )


def live_metrics(run: Run) -> dict:
    ok = [o for o in run.ops if not o.get("failed")]
    gets = [g for o in ok for g in o["gets"]]
    lay = {
        "pipeline.update_s": statistics.median(o["update_s"] for o in ok),
        "lookup.get_p50_s": statistics.median(g[4] for g in gets),
        "lookup.get_tail_s": tail([g[4] for g in gets]),
        "lookup.plan_s": statistics.median(g[5] for g in gets),
        "lookup.exec_s": statistics.median(g[6] for g in gets),
        "lookup.rows_returned": statistics.mean(len(g[2]) for g in gets),
        "info.p50_s": statistics.median(o["info"][0] for o in ok),
        "info.plan_s": statistics.median(o["info"][1] for o in ok),
        "info.exec_s": statistics.median(o["info"][2] for o in ok),
    }
    if run.trace:
        lay.update({
            "lookup.jobs": statistics.mean(g[7].rec["jobs"] for g in gets),
            "lookup.tasks": statistics.mean(g[7].rec["tasks"] for g in gets),
            "info.jobs": statistics.mean(o["info"][3].rec["jobs"] for o in ok),
            "info.tasks": statistics.mean(o["info"][3].rec["tasks"] for o in ok),
        })
    return lay


def _trace_pipeline(run: Run, pl) -> None:
    """Traced run only: wrap the pipeline's batch and refresh entry points
    in spans (run_pipeline looks both up as module globals per call)."""
    run_batch, refresh = pl.run_batch, pl.refresh_aggregates

    def traced(name, fn):
        def wrapper(*a, **k):
            with run.tr.span(name, run.current_op):
                return fn(*a, **k)
        return wrapper

    run.current_op = -1
    pl.run_batch = traced("pipeline.batch", run_batch)
    pl.refresh_aggregates = traced("pipeline.refresh", refresh)


def _replay_live(run: Run, i: int, path: str, wh, want: dict) -> None:
    """Replay parse, dedup and enrich+route on the arrival, against the
    warehouse as the update will find it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from log_server_spark.functions.parse import parse_pages
    from log_server_spark.operators.dedup import DEDUP_KEY, anti_join_committed, split_duplicates
    from log_server_spark.operators.enrich import enrich
    from log_server_spark.operators.route import with_sink

    spark = run.spark
    run.current_op = i
    with run.tr.span("live.replay", i):
        obs = Observation(f"parse{i}")
        with run.tr.span("parse", i) as s:
            _noop(parse_pages(spark.read.parquet(path)).observe(
                obs, F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("err")))
        run.sample("parse.busy_s", s.seconds)
        run.sample("parse.records_out", obs.get["n"])
        run.sample("parse.error_rows", obs.get["err"])

        parsed = parse_pages(spark.read.parquet(path)).withColumn("day", F.to_date("warc_ts"))
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
        parsed.count()
        ok = parsed.filter(F.col("status") == "ok")
        kept, _ = split_duplicates(ok)
        o_kept, o_new = Observation(f"kept{i}"), Observation(f"new{i}")
        kept = kept.observe(o_kept, F.count(F.lit(1)).alias("n"))
        committed = wh.read("records_keys").select(*DEDUP_KEY) if wh.exists("records_keys") else None
        new = anti_join_committed(kept, committed).observe(o_new, F.count(F.lit(1)).alias("n"))
        with run.tr.span("dedup", i) as s:
            _noop(new)
        n_ok = want["n_ok"]
        run.sample("dedup.busy_s", s.seconds)
        run.sample("dedup.in_batch_dups", n_ok - o_kept.get["n"])
        cross = o_kept.get["n"] - o_new.get["n"]
        run.sample("dedup.cross_batch_dups", cross)
        run.sample("dedup.cross_batch_hit_ratio", cross / want["cross"] if want["cross"] else 1.0)

        errors = parsed.filter(F.col("status") != "ok").dropDuplicates()
        lang = spark.read.parquet(os.path.join(os.path.dirname(os.path.dirname(path)), "lang_lookup.parquet"))
        dom = spark.read.parquet(os.path.join(os.path.dirname(os.path.dirname(path)), "domain_lookup.parquet"))
        with run.tr.span("enrich_route", i) as s:
            _noop(with_sink(enrich(anti_join_committed(kept, committed).unionByName(errors), lang, dom)))
        run.sample("enrich_route.busy_s", s.seconds)
        parsed.unpersist()


def _after_live_op(run: Run, i: int, wh_root: str, in_bytes: int, before: int) -> None:
    spans = [s for s in run.tr.spans if s["op"] == i]
    upd = next(s for s in spans if s["name"] == "live.update")
    batch = [s for s in spans if s["name"] == "pipeline.batch"]
    refresh = [s for s in spans if s["name"] == "pipeline.refresh"]
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    run.sample("pipeline.batch_s", dur(batch))
    run.sample("pipeline.refresh_s", dur(refresh))
    run.sample("pipeline.driver_s", dur([upd]) - dur(batch) - dur(refresh))
    for k in ("jobs", "stages", "tasks"):
        run.sample(f"pipeline.{k}", upd[k])
    run.sample("trace.overhead_s", run.tr.overhead.get(i, 0.0))
    recs = os.path.join(wh_root, "records")
    batch_dirs = sorted(d for d in os.listdir(recs) if d.startswith("batch="))
    run.sample("route.sinks_written", len([d for d in os.listdir(os.path.join(recs, batch_dirs[-1]))
                                           if d.startswith("sink=")]))
    run.sample("storage.bytes_written_per_input_byte", (_dir_stats(wh_root)[1] - before) / in_bytes)
    from log_server_spark.catalog import Warehouse

    run.sample("lookup.files_listed", len(Warehouse(wh_root, run.spark).read("records").inputFiles()))


def storage_metrics(wh_root: str, live_records: int) -> dict:
    rec_n, rec_b = _dir_stats(os.path.join(wh_root, "records"))
    keys_n, _ = _dir_stats(os.path.join(wh_root, "records_keys"))
    book = sum(
        _dir_stats(os.path.join(wh_root, d))[0]
        for d in os.listdir(wh_root)
        if d == "lineage" or d.startswith("metrics_")
    )
    return {
        "storage.records_files": rec_n,
        "storage.keys_files": keys_n,
        "storage.bookkeeping_files": book,
        "storage.bytes_per_live_record": rec_b / max(1, live_records),
    }


# ------------------------------------------------------------ near_dup

def near_dup(run: Run) -> float:
    from log_server_spark.operators.dedup_text import components_from_pairs, minhash_lsh_pairs

    spark, p = run.spark, NEAR_DUP
    shard_dir = os.path.join(run.work, "shards")
    os.makedirs(shard_dir)

    def op(i: int, measured: bool) -> float:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs, planted = gen.docs_shard(run.seed, i, p["docs"], p["dup_share"])
        path = os.path.join(shard_dir, f"shard-{i:04d}.parquet")
        pq.write_table(pa.table({"id": [d[0] for d in docs], "text": [d[1] for d in docs]}), path)
        run.current_op = i
        if run.trace and measured:
            _replay_near_dup(run, i, path)
        rec = {"items": len(docs), "docs": docs, "planted": planted}

        def shard():
            df = spark.read.parquet(path)
            pairs = minhash_lsh_pairs(df, "id", "text", **p["lsh"])
            labels = components_from_pairs(df.select("id"), pairs)
            rec["labels"] = {r["node"]: r["lbl"] for r in labels.collect()}
            rec["pairs_df"] = pairs

        with run.tr.span("near_dup.op", i):
            wall, cpu = run.timed(shard)
        if measured:
            run.record(rec, wall, cpu)
            run.sample("trace.overhead_s", run.tr.overhead.get(i, 0.0))
        return wall

    warm = run.loop(op, p["warmup_ops"])
    lsh = p["lsh"]
    for o in run.ops:
        if o.get("failed"):
            continue
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in o.pop("pairs_df").collect()]
        probs, recall = checks.check_near_dup(
            o["docs"], o["planted"], pairs, o["labels"], lsh["threshold"], lsh["shingle_n"],
            p["recall_floor"],
        )
        o["problems"] += probs
        run.sample("near_dup.recall", recall)
        run.sample("minhash.pairs", len(pairs))
    return warm


def _replay_near_dup(run: Run, i: int, path: str) -> None:
    from pyspark.storagelevel import StorageLevel

    from log_server_spark.operators.dedup_text import (
        components_from_pairs, minhash_lsh_pairs_from_signatures, minhash_signature_frame,
    )

    lsh = NEAR_DUP["lsh"]
    df = run.spark.read.parquet(path)
    with run.tr.span("near_dup.replay", i):
        sig = minhash_signature_frame(
            df, "id", "text", num_hashes=lsh["num_hashes"], shingle_n=lsh["shingle_n"], base=lsh["base"]
        )
        with run.tr.span("minhash.signature", i) as s:
            _noop(sig)
        run.sample("minhash.signature_s", s.seconds)
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
        sig.count()
        pairs = minhash_lsh_pairs_from_signatures(sig, bands=lsh["bands"], threshold=lsh["threshold"])
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        with run.tr.span("minhash.pairs", i) as s:
            _noop(pairs)
        run.sample("minhash.pairs_s", s.seconds)
        with run.tr.span("clusters", i) as s:
            components_from_pairs(df.select("id"), pairs).collect()
        run.sample("clusters.busy_s", s.seconds)
        run.sample("clusters.jobs", s.rec["jobs"])
        pairs.unpersist()
        sig.unpersist()
