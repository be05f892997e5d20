"""Driver-cost guards for the near-dup path: the MinHash/LSH plan build
stays a bounded number of py4j commands, connected components stops at
its fixed point, and the small-input spread never stats files when the
file count already covers the cores and reads byte-size confs as Spark
does."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def test_spread_small_input_skips_stat_when_files_cover_cores(spark, tmp_path, monkeypatch):
    """n >= P files means total >= P * openCost, so Spark's maxSplitBytes
    <= total / P and the scan already has >= P splits: no getsize call."""
    import log_server_spark.plan_util as pu

    target = spark.sparkContext.defaultParallelism
    d = str(tmp_path / "many")
    os.makedirs(d)
    for i in range(target + 2):
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), os.path.join(d, f"f{i}.parquet"))
    df = spark.read.parquet(d)
    calls = []
    real = pu.os.path.getsize

    def counting(p):
        calls.append(p)
        return real(p)

    monkeypatch.setattr(pu.os.path, "getsize", counting)
    assert pu.spread_small_input(df) is df
    assert calls == []


def test_spread_small_input_reads_suffixed_byte_confs(spark, tmp_path):
    """Byte-size confs parse as Spark parses them ("64m" is 64 MiB, not the
    default), and the split estimate uses them: one ~11 KB file over a 1k
    maxPartitionBytes already has >= P splits, so it is not repartitioned."""
    import log_server_spark.plan_util as pu

    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "64m")
        spark.conf.set(keys[1], "1m")
        assert pu._conf_bytes(spark, keys[0]) == 64 << 20
        assert pu._conf_bytes(spark, keys[1]) == 1 << 20
        p = str(tmp_path / "one.parquet")
        pq.write_table(pa.table({"id": pa.array(range(2000), pa.int64())}), p)
        df = spark.read.parquet(p)
        spark.conf.set(keys[0], "1k")
        spark.conf.set(keys[1], "0b")
        assert pu.spread_small_input(df) is df
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_components_stop_at_fixed_point(spark, monkeypatch):
    """Labels final after one round (stars centred on their minimum id,
    plus a triangle): the edges checkpoint plus the round's two, and no
    second round to confirm it."""
    from log_server_spark.operators.dedup_text import components_from_pairs

    edges = [(0, j) for j in range(1, 6)] + [(10, j) for j in range(11, 14)]
    edges += [(20, 21), (21, 22), (20, 22)]
    ids = spark.range(0, 30).select("id")
    n = [0]
    frame_cls = type(ids)  # the session's concrete DataFrame class
    real = frame_cls.localCheckpoint

    def counting(self, *a, **k):
        n[0] += 1
        return real(self, *a, **k)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["lbl"] for r in components_from_pairs(ids, pairs).collect()}
    assert n[0] == 3
    want = {i: i for i in range(30)}
    want.update({j: 0 for j in range(6)})
    want.update({j: 10 for j in range(10, 14)})
    want.update({j: 20 for j in range(20, 23)})
    assert got == want


@pytest.mark.parametrize("base", ["xxhash64", "md5"])
def test_minhash_lsh_build_py4j_budget(spark, base, monkeypatch):
    """Building the LSH pairs plan (no action) stays a bounded number of
    py4j commands: the hash, minimum and band projections are SQL text,
    not per-lambda Column-API builds (those cost ~3,500 commands here)."""
    import py4j.clientserver as cs

    from log_server_spark.operators.dedup_text import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(20)],
        "id long, text string",
    )
    n = [0]
    real = cs.ClientServerConnection.send_command

    def counting(self, *a, **k):
        n[0] += 1
        return real(self, *a, **k)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    minhash_lsh_pairs(docs, "id", "text", num_hashes=16, bands=8, base=base)
    monkeypatch.undo()
    assert 0 < n[0] <= 1500, n[0]
