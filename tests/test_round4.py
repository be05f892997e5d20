"""Round-4 regressions: VERDICT r3 items #3/#6/#7 and the ADVICE r3 fixes
(saved-format truncation errors, sliced-array _ascii_mask, per-user native
cache), plus the one-keys-layout refusal and the env-switch and CLI-flag
guards."""

import glob
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from log_server_spark.catalog import Warehouse
from log_server_spark.plans.pipeline import RECORDS, RECORDS_KEYS, run_pipeline


# ---------------------------------------------------------------------------
# VERDICT #3: no unconditional broadcast on the LSH verify candidate side
# ---------------------------------------------------------------------------


def test_lsh_verify_no_forced_broadcast(spark, tmp_path):
    from log_server_spark.operators.dedup_text import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + ("x" * (i % 3)))
         for i in range(20)],
        "id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, "id", "text")
    analyzed = pairs._jdf.queryExecution().analyzed().toString()
    # a broadcast() hint survives analysis as ResolvedHint — its absence
    # means AQE is free to pick every join strategy by observed size (the
    # round-4 verify consumes `candidates` once via a pair-doc explode, so
    # there is no candidate-id side to hint at all)
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed


# ---------------------------------------------------------------------------
# VERDICT #7: query construction must not force RDD conversions
# ---------------------------------------------------------------------------


def test_spread_small_input_file_gated(spark, tmp_path):
    from log_server_spark.plan_util import spread_small_input

    p = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"id": pa.array(range(100), pa.int64()),
                  "text": pa.array(["hello world"] * 100)}),
        p,
    )
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    spread = spread_small_input(df)
    assert spread.rdd.getNumPartitions() == target  # test-side probe only
    # in-memory frames (no backing files) conservatively spread too
    mem = spark.createDataFrame([(1, "a")], "id long, text string")
    assert spread_small_input(mem).rdd.getNumPartitions() == target


def test_no_rdd_probe_in_query_construction():
    """The plan-construction RDD probe (df.rdd.getNumPartitions) must stay
    out of query-building code — it forces an RDD conversion per build and
    bypasses AQE (VERDICT r3 what's-wrong #3)."""
    import inspect

    import log_server_spark.operators.dedup_text as dt
    import log_server_spark.queries_graft as qg

    for mod in (dt, qg):
        src = inspect.getsource(mod)
        assert ".rdd" not in src, f"{mod.__name__} still probes df.rdd"


def test_lss_env_switches_are_the_justified_set():
    """Every ``LSS_*`` environment read in the package is a deployment
    path or a setting a frozen harness sets; a new switch must be argued
    for in review and added here, not slipped in."""
    import pathlib
    import re

    import log_server_spark

    read = re.compile(r"""os\.(?:environ(?:\.get)?|getenv)\s*[(\[]\s*["'](LSS_\w+)""")
    pkg = pathlib.Path(log_server_spark.__file__).parent
    found = {
        m.group(1) for f in pkg.rglob("*.py") for m in read.finditer(f.read_text())
    }
    assert found == {"LSS_NATIVE_DIR", "LSS_CHECKPOINT_DIR"}


def test_cli_flags_are_the_justified_set(monkeypatch):
    """Each CLI command's options, read off the parser ``cli.main`` builds:
    a new flag is a second mode of a command, so it is added here only
    together with the reason it is needed."""
    import argparse

    from log_server_spark import cli

    built = []

    def capture(self, args=None, namespace=None):
        built.append(self)
        raise SystemExit(0)

    monkeypatch.setattr(argparse.ArgumentParser, "parse_args", capture)
    with pytest.raises(SystemExit):
        cli.main([])
    (sub,) = [a for a in built[0]._actions if isinstance(a, argparse._SubParsersAction)]
    flags = {
        cmd: {
            o for a in p._actions if not isinstance(a, argparse._HelpAction)
            for o in a.option_strings
        }
        for cmd, p in sub.choices.items()
    }
    assert flags == {
        "update": {"--warehouse", "--pages-dir", "--batch-files", "--salt", "--format"},
        "get": {"--warehouse", "--table", "--id"},
        "info": {"--warehouse"},
        "archive": {"--warehouse"},
    }


def test_run_pipeline_parameters_are_the_justified_set():
    """``run_pipeline``'s parameters, pinned like the CLI flags: a new one
    must be argued for here. ``resume`` exists only because the frozen
    ``bench.py`` passes ``resume=False`` on a warehouse it has just
    deleted; it refuses a warehouse that holds committed lineage."""
    import inspect

    from log_server_spark.plans.pipeline import run_pipeline as rp

    assert list(inspect.signature(rp).parameters) == [
        "spark", "pages_dir", "warehouse_root", "batch_files", "salt", "resume",
        "aggregates", "max_batches", "lock_timeout", "source_format",
    ]


# ---------------------------------------------------------------------------
# One keys layout: a warehouse with data but no bucketed-layout marker
# predates it and is refused before anything is written
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_warehouse_without_keys_marker_is_refused(spark, tmp_path_factory):
    from log_server_spark.datagen import write_dataset
    from log_server_spark.plans.pipeline import KEYS_MARKER

    data = str(tmp_path_factory.mktemp("r4_nomarker_data"))
    write_dataset(data, seed=5, n=200, num_files=2)
    pages = os.path.join(data, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r4_nomarker_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=1, max_batches=1)
    wh = Warehouse(wh_dir, spark)
    n = wh.read(RECORDS).count()
    assert n > 0

    os.remove(os.path.join(wh_dir, KEYS_MARKER))
    with pytest.raises(RuntimeError, match="no records_keys.bucketed marker"):
        run_pipeline(spark, pages, wh_dir, batch_files=1)
    assert wh.read(RECORDS).count() == n
    assert not os.path.isdir(os.path.join(wh.path(RECORDS), "batch=b00001"))
    assert not os.path.isfile(os.path.join(wh_dir, KEYS_MARKER))


# ---------------------------------------------------------------------------
# VERDICT #4: archive compacts the keys table + bookkeeping files
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_archive_compacts_keys_and_bookkeeping(spark, tmp_path_factory, anti_join_plan):
    from log_server_spark.cli import main as cli_main
    from log_server_spark.datagen import write_dataset
    from log_server_spark.plans.pipeline import (
        LINEAGE,
        METRICS_INGEST,
        METRICS_PARTIALS,
        _committed_batches,
        _committed_keys,
    )

    data = str(tmp_path_factory.mktemp("r4_arc_data"))
    write_dataset(data, seed=13, n=400, num_files=4)
    pages = os.path.join(data, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r4_arc_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=1)
    wh = Warehouse(wh_dir, spark)

    keys_cols = ["table", "record_id", "record_hash", "ts_millis", "day"]
    before_keys = {tuple(r) for r in wh.read(RECORDS_KEYS).select(*keys_cols).collect()}
    before_records = {
        tuple(r) for r in wh.read(RECORDS).select("url", "seq", "table", "record_id").collect()
    }
    before_lineage = _committed_batches(wh)
    days = {r["day"] for r in wh.read(RECORDS_KEYS).select("day").distinct().collect()}

    rc = cli_main(["archive", "--warehouse", wh_dir])
    assert rc == 0

    # keys: single batch=archived partition, exactly one file per day
    batch_dirs = glob.glob(os.path.join(wh.path(RECORDS_KEYS), "batch=*"))
    assert [os.path.basename(d) for d in batch_dirs] == ["batch=archived"]
    day_dirs = glob.glob(os.path.join(batch_dirs[0], "day=*"))
    assert {os.path.basename(d) for d in day_dirs} == {f"day={d}" for d in days}
    for d in day_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    # keys rows byte-identical
    after_keys = {tuple(r) for r in wh.read(RECORDS_KEYS).select(*keys_cols).collect()}
    assert after_keys == before_keys
    # bookkeeping: one merged file per table, same lineage content
    for table in (LINEAGE, METRICS_INGEST, METRICS_PARTIALS):
        fs = glob.glob(os.path.join(wh.path(table), "*.parquet"))
        assert len(fs) == 1, (table, fs)
    assert _committed_batches(wh) == before_lineage

    # on the compacted committed side the batch still shuffles only once
    lo, hi = (
        wh.read(RECORDS_KEYS).agg(F.min("ts_millis"), F.max("ts_millis")).collect()[0]
    )
    ok = wh.read(RECORDS).filter(F.col("status") == "ok").drop("batch", "sink")
    anti_join_plan(ok, _committed_keys(wh, (lo, hi)))

    # cross-batch dedup against ARCHIVED keys still works: a late-landing
    # unit that clones unit 0 must dedup 100% against the merged partition
    import shutil as _sh

    _sh.copyfile(
        os.path.join(pages, sorted(os.listdir(pages))[0]),
        os.path.join(pages, "part-99999.parquet"),
    )
    res = run_pipeline(spark, pages, wh_dir, batch_files=1)
    assert len(res) == 1
    assert res[0].added == 0, "every parseable record is an archived duplicate"
    assert res[0].duplicates > 0
    # records table content for the original batches unchanged
    after_records = {
        tuple(r)
        for r in wh.read(RECORDS)
        .filter(F.col("batch") != res[0].batch)
        .select("url", "seq", "table", "record_id")
        .collect()
    }
    assert after_records == before_records


@pytest.mark.slow
def test_keys_written_through_a_bucketed_table_still_dedup_and_archive(spark, tmp_path_factory):
    """A warehouse from the earlier keys layout (keys inserted through a
    ``CLUSTERED BY (record_hash)`` table, bucket count in the marker) keeps
    working: its bucket-named keys files read as plain Parquet, so a
    replayed unit is all cross-batch duplicates, before and after archive."""
    import re
    import shutil as _sh

    from log_server_spark.cli import main as cli_main
    from log_server_spark.datagen import write_dataset
    from log_server_spark.plans.pipeline import KEYS_MARKER, _keys_desync

    data = str(tmp_path_factory.mktemp("r4_legacy_data"))
    write_dataset(data, seed=17, n=300, num_files=2)
    pages = os.path.join(data, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r4_legacy_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=1)
    wh = Warehouse(wh_dir, spark)
    keys_cols = ["table", "record_id", "record_hash", "ts_millis", "batch", "day"]
    want_keys = {tuple(r) for r in wh.read(RECORDS_KEYS).select(*keys_cols).collect()}

    # rewrite the keys as the bucketed layout wrote them
    legacy = wh.path(RECORDS_KEYS) + ".legacy"
    spark.sql(
        f"""CREATE TABLE legacy_bucketed_keys (
              `table` STRING, record_id STRING, record_hash INT,
              ts_millis BIGINT, batch STRING, day DATE)
            USING PARQUET PARTITIONED BY (batch, day)
            CLUSTERED BY (record_hash) INTO 4 BUCKETS LOCATION '{legacy}'"""
    )
    try:
        (
            wh.read(RECORDS_KEYS).select(*keys_cols)
            .repartition(F.col("day"), F.pmod(F.hash("record_hash"), F.lit(4)))
            .write.insertInto("legacy_bucketed_keys")
        )
    finally:
        spark.sql("DROP TABLE legacy_bucketed_keys")
    _sh.rmtree(wh.path(RECORDS_KEYS))
    os.rename(legacy, wh.path(RECORDS_KEYS))
    with open(os.path.join(wh_dir, KEYS_MARKER), "w") as f:
        f.write("4")
    _keys_desync(wh)
    files = glob.glob(os.path.join(wh.path(RECORDS_KEYS), "**", "*.parquet"), recursive=True)
    assert files and all(re.search(r"_0000[0-3]\.c000", f) for f in files), files
    assert {tuple(r) for r in wh.read(RECORDS_KEYS).select(*keys_cols).collect()} == want_keys

    ok_keys = lambda: sorted(  # noqa: E731
        tuple(r) for r in wh.read(RECORDS).filter(F.col("status") == "ok")
        .select("table", "record_id", "record_hash").collect()
    )
    before = ok_keys()
    _sh.copyfile(os.path.join(pages, "part-00000.parquet"), os.path.join(pages, "part-99998.parquet"))
    (res,) = run_pipeline(spark, pages, wh_dir, batch_files=1)
    assert res.added == 0 and res.duplicates > 0
    assert ok_keys() == before

    assert cli_main(["archive", "--warehouse", wh_dir]) == 0
    _sh.copyfile(os.path.join(pages, "part-00001.parquet"), os.path.join(pages, "part-99999.parquet"))
    (res,) = run_pipeline(spark, pages, wh_dir, batch_files=1)
    assert res.added == 0 and res.duplicates > 0
    assert ok_keys() == before


# ---------------------------------------------------------------------------
# ADVICE: saved-format truncation must raise the guard-style ValueError
# ---------------------------------------------------------------------------


def test_decode_saved_truncation_is_valueerror():
    from log_server_spark.sources.saved_format import decode_saved_bytes, encode_saved

    data = encode_saved([("users", 7, 1_700_000_000_000, "hello")])
    # cut mid-record at several byte positions: every truncation inside the
    # record body must surface as the wrapped ValueError, never a raw
    # IndexError / struct.error
    for cut in range(5, len(data) - 1):
        with pytest.raises(ValueError, match="Truncated record|Empty log|Empty tableName"):
            decode_saved_bytes("t.saved", data[:cut])
    # version-only file decodes to zero records (not an error)
    assert decode_saved_bytes("t.saved", struct.pack(">i", 2)) == []


@pytest.mark.slow
def test_archive_sweeps_torn_batches_before_compacting(spark, tmp_path_factory):
    """A torn (lineage-less) batch must be swept by `archive`, not folded
    into batch=archived or marked read-only — otherwise its orphaned keys
    would anti-join the reprocessed records away after the torn records are
    deleted (self-review finding, round 4)."""
    import shutil as _sh

    from log_server_spark.cli import main as cli_main
    from log_server_spark.datagen import write_dataset

    data = str(tmp_path_factory.mktemp("r4_torn_data"))
    write_dataset(data, seed=31, n=200, num_files=2)
    pages = os.path.join(data, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r4_torn_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=1)
    wh = Warehouse(wh_dir, spark)
    committed_keys = wh.read(RECORDS_KEYS).count()
    want_records = {
        tuple(r) for r in wh.read(RECORDS).select("url", "seq", "table", "record_id").collect()
    }

    # fabricate a torn batch: data + keys dirs, NO lineage row
    for table in (RECORDS, RECORDS_KEYS):
        src = os.path.join(wh.path(table), "batch=b00001")
        _sh.copytree(src, os.path.join(wh.path(table), "batch=b00099"))

    rc = cli_main(["archive", "--warehouse", wh_dir])
    assert rc == 0
    # torn batch swept, not archived, not folded into the merged keys
    assert "b00099" not in wh.archived_batches()
    assert not os.path.isdir(os.path.join(wh.path(RECORDS), "batch=b00099"))
    assert not os.path.isdir(os.path.join(wh.path(RECORDS_KEYS), "batch=b00099"))
    assert wh.read(RECORDS_KEYS).count() == committed_keys
    # and the warehouse contents are exactly the committed rows
    got = {
        tuple(r) for r in wh.read(RECORDS).select("url", "seq", "table", "record_id").collect()
    }
    assert got == want_records
    # a subsequent resume run has nothing to redo and loses nothing
    assert run_pipeline(spark, pages, wh_dir, batch_files=1) == []
    assert wh.read(RECORDS).count() == len(want_records)


# ---------------------------------------------------------------------------
# north_rule skew salt: adaptive per-sink reducer counts from partials
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_adaptive_salt_reallocates_files_by_sink_volume(spark, tmp_path_factory, monkeypatch):
    """Batch 2+ sizes its salt from batch 1's observed per-sink volumes:
    cold sinks collapse to one file, the hot sink gets more than the
    uniform salt, total rows and dedup results unchanged.

    Round 5 added a volume cap (per-sink salt <= bytes/target-file-size);
    shrink the target so the cap stays above the budget allocation and the
    REALLOCATION logic is what this test exercises — test_round5 covers
    the cap itself."""
    from log_server_spark.datagen import write_dataset
    import log_server_spark.plans.pipeline as pl
    from log_server_spark.plans.pipeline import _sink_salts

    monkeypatch.setattr(pl, "TARGET_FILE_BYTES", 64)

    data = str(tmp_path_factory.mktemp("r4_salt_data"))
    write_dataset(data, seed=21, n=600, num_files=2)
    pages = os.path.join(data, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r4_salt_wh"))
    # batch 1: no history -> uniform salt
    run_pipeline(spark, pages, wh_dir, batch_files=1, max_batches=1, salt=4)
    wh = Warehouse(wh_dir, spark)
    salts = _sink_salts(wh, 4)
    assert salts, "partials from batch 1 drive batch 2's salt"
    total_budget = 4 * len(salts)
    assert sum(salts.values()) <= total_budget + len(salts)
    assert min(salts.values()) >= 1
    # volumes are skewed, so at least one sink must exceed the uniform salt
    # and at least one must collapse below it
    assert max(salts.values()) > 4 and min(salts.values()) < 4

    run_pipeline(spark, pages, wh_dir, batch_files=1, salt=4)
    # per-sink file counts of batch 2 respect the adaptive allocation
    import collections

    files_by_sink = collections.Counter()
    for f in glob.glob(os.path.join(wh.path(RECORDS), "batch=b00001", "sink=*", "*.parquet")):
        files_by_sink[os.path.basename(os.path.dirname(f)).split("=", 1)[1]] += 1
    for s, n_files in files_by_sink.items():
        assert n_files <= salts.get(s, 4), (s, n_files, salts.get(s))
    # row content is unaffected by the physical salt
    n = spark.read.parquet(os.path.join(wh.path(RECORDS), "batch=b00001")).count()
    assert n > 0


# ---------------------------------------------------------------------------
# near-dup clustering: pairs -> connected components -> keepers
# ---------------------------------------------------------------------------


def test_components_from_pairs_chain_and_singletons(spark):
    """Pointer-jumping label propagation must collapse a chain whose
    diameter (19) far exceeds the round count (6 rounds -> 2^6): the jump
    step is what makes that possible. Singletons keep themselves."""
    from log_server_spark.operators.dedup_text import components_from_pairs

    ids = spark.createDataFrame([(i,) for i in range(30)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)]  # chain 0..19
        + [(25, 27), (27, 29)],  # small triangle-ish component
        "id_a long, id_b long",
    )
    got = {r["node"]: r["lbl"] for r in components_from_pairs(ids, pairs).collect()}
    assert all(got[i] == 0 for i in range(20))
    assert got[25] == got[27] == got[29] == 25
    for i in (20, 21, 22, 23, 24, 26, 28):
        assert got[i] == i


@pytest.mark.slow
def test_components_from_pairs_random_graphs_vs_union_find(spark):
    """Randomized oracle: min-label components must equal a driver-side
    union-find on arbitrary sparse graphs (multiple seeds, isolated nodes,
    self-contained chains/cycles/cliques arise naturally). Two more
    graphs: edges whose endpoint is missing from ``ids`` (such a node gets
    no label and no path runs through it), and a 70-node chain that needs
    all six default rounds to converge."""
    import random

    from log_server_spark.operators.dedup_text import components_from_pairs

    rng = random.Random(20260819)
    graphs = []
    for _trial in range(3):
        n = rng.randint(10, 50)
        m = rng.randint(0, n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        graphs.append((n, [(a, b) for a, b in edges if a != b]))
    n = 40
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(n // 2)]
    # nodes n..n+4 are endpoints only, absent from ids: each bridges
    # several nodes that would otherwise share a component through it
    edges += [(rng.randrange(n), n + k) for k in range(5) for _ in range(3)]
    graphs.append((n, [(a, b) for a, b in edges if a != b]))
    graphs.append((70, [(i, i + 1) for i in range(69)]))
    for n, edges in graphs:
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a >= n or b >= n:
                continue  # an endpoint outside ids joins nothing
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        # canonicalize to min-of-component
        comp_min: dict[int, int] = {}
        for i in range(n):
            r = find(i)
            comp_min[r] = min(comp_min.get(r, i), i)
        want = {i: comp_min[find(i)] for i in range(n)}

        ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pdf = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
        if not edges:
            pdf = pdf.filter("id_a <> id_a")  # empty edge set
        got = {r["node"]: r["lbl"] for r in components_from_pairs(ids, pdf).collect()}
        assert got == want, (n, sorted(edges))


# ---------------------------------------------------------------------------
# ADVICE: _ascii_mask over sliced arrays
# ---------------------------------------------------------------------------


def test_ascii_mask_sliced_array():
    from log_server_spark.functions.parse_vec import _ascii_mask

    arr = pa.array(["café".encode("utf-8"), b"plain", b"ascii"], pa.binary())
    sliced = arr.slice(1)  # high bytes now live BEFORE offs[0] in the buffer
    mask = _ascii_mask(sliced)
    assert mask.tolist() == [True, True]
    # and a slice that drops a trailing non-ASCII row (bytes past offs[-1])
    arr2 = pa.array([b"head", "façade".encode("utf-8")], pa.binary())
    assert _ascii_mask(arr2.slice(0, 1)).tolist() == [True]
    # unsliced behavior unchanged
    assert _ascii_mask(arr).tolist() == [False, True, True]


# ---------------------------------------------------------------------------
# ADVICE: per-user native kernel cache
# ---------------------------------------------------------------------------


def test_native_cache_is_per_user_and_owned(tmp_path, monkeypatch):
    import log_server_spark.functions._native as native

    monkeypatch.setenv("LSS_NATIVE_DIR", str(tmp_path / "cache"))
    monkeypatch.setattr(native, "_LIB", None)
    monkeypatch.setattr(native, "_TRIED", False)
    fn = native.native_murmur3_rows()
    if fn is None:
        pytest.skip("no C compiler available")
    d = tmp_path / "cache"
    assert (d.stat().st_mode & 0o777) == 0o700
    assert d.stat().st_uid == os.getuid()
    # known-vector sanity through the freshly built kernel
    from log_server_spark.functions.hashing import murmur3_32

    buf = np.frombuffer(b"hello", dtype=np.uint8)
    offs = np.array([0], dtype=np.int64)
    lens = np.array([5], dtype=np.int64)
    out = np.zeros(1, dtype=np.int32)
    fn(buf.ctypes.data, offs.ctypes.data, lens.ctypes.data, 1, 0, out.ctypes.data)
    assert int(out[0]) == murmur3_32(b"hello", 0)
