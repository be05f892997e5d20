"""Command-line surface mirroring the reference CLI (SURVEY.md §3).

Reference commands (src/com/github/winmain/logserver/Cmd.scala:10-43) and
their equivalents here:

| reference | here | notes |
|---|---|---|
| ``update <db> <paths...>`` | ``update --warehouse W --pages-dir P`` | batched ingest with dedup + lineage resume |
| ``get <db> <table> <id>`` | ``get --warehouse W --table T --id I`` | point lookup, ts-ordered, JSON output |
| ``info <db>`` | ``info --warehouse W`` | per-(sink, day) segment stats |
| ``archive <db>`` | ``archive --warehouse W`` | compact each (batch, sink) partition's files, mark every batch read-only, merge keys and bookkeeping (the gzip-and-mark-readonly analogue) |
| ``convert-month/-year`` | the parse stage itself | legacy-format parse runs inside ``update`` (S3) |

Run via ``python -m log_server_spark.cli <cmd> ...`` or spark-submit (see
packaging notes in README).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _session(master):
    """getOrCreate, remembering whether the CLI owns the session (it must
    not stop a session an embedding process created)."""
    from pyspark.sql import SparkSession

    from log_server_spark.session import get_spark

    existing = SparkSession.getActiveSession()
    if existing is not None:
        return existing, False
    return get_spark(master=master, app_name="lss-cli"), True


def cmd_update(args) -> int:
    from log_server_spark.plans.pipeline import run_pipeline

    spark, owned = _session(args.master)
    results = run_pipeline(
        spark, args.pages_dir, args.warehouse,
        batch_files=args.batch_files, salt=args.salt,
        source_format=args.format,
    )
    for r in results:
        print(f"{r.batch}: added={r.added} duplicates={r.duplicates} errors={r.errors}")
    if not results:
        print("nothing to do (all batches committed)")
    if owned:
        spark.stop()
    return 0


def cmd_get(args) -> int:
    """Point lookup; repeat --warehouse for the reference's multi-year
    fan-out (GetCommand.scala:29-36: years.map(get).reduce(++) — a bag
    union across databases, results globally ts-sorted): the records
    frames are unioned first, so the one lookup sorts the whole answer. A
    warehouse without a records table (every committed batch routed zero
    rows) adds nothing."""
    from functools import reduce

    from log_server_spark.catalog import Warehouse
    from log_server_spark.operators.lookup import get_records, to_json_records
    from log_server_spark.plans.pipeline import RECORDS

    spark, owned = _session(args.master)
    whs = (Warehouse(w, spark) for w in args.warehouse)
    frames = [wh.read(RECORDS) for wh in whs if wh.exists(RECORDS)]
    if frames:
        records = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
        for row in to_json_records(get_records(records, args.table, args.id)).collect():
            print(row["json"])
    if owned:
        spark.stop()
    return 0


def cmd_info(args) -> int:
    from log_server_spark.catalog import Warehouse
    from log_server_spark.operators.aggregate import info
    from log_server_spark.plans.pipeline import RECORDS

    spark, owned = _session(args.master)
    wh = Warehouse(args.warehouse, spark)
    total = 0
    # no records table (every committed batch routed zero rows): no segments
    rows = info(wh.read(RECORDS)).collect() if wh.exists(RECORDS) else []
    for row in rows:
        total += row["records"]
        print(
            f"{row['sink']}/{row['day']}: records={row['records']} "
            f"hashes={row['hashes']} minTs={row['min_ts']} maxTs={row['max_ts']}"
        )
    print(f"total: {total}")
    if owned:
        spark.stop()
    return 0


def cmd_archive(args) -> int:
    """Archive the whole warehouse, the reference's one archive mode (gzip
    every segment and mark it read-only, BigStorage.scala:338-350): rewrite
    each (batch, sink) records partition into one zstd-6 file, mark every
    batch read-only, merge the keys to one file per day and the
    bookkeeping to one file per table. There is no way back: ``update``
    never writes a committed batch id, so an archived batch stays as it is.
    The records layout is unchanged, so later ingests append new batches
    to it."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from log_server_spark.catalog import Warehouse, read_parquet
    from log_server_spark.plans.pipeline import (
        RECORDS,
        ZSTD_LEVEL,
        compact_bookkeeping,
        rebuild_keys,
        sweep_torn_batches,
    )

    spark, owned = _session(args.master)
    wh = Warehouse(args.warehouse, spark)
    records_dir = wh.path(RECORDS)
    tmp_dir = records_dir + ".compact"
    with wh.lock():
        # sweep TORN batches FIRST: a crashed run's lineage-less batch dir
        # must never be compacted into batch=archived or marked read-only —
        # its orphaned keys would anti-join the reprocessed records away
        # while the torn records themselves get deleted (data loss)
        swept = sweep_torn_batches(wh)
        if not wh.exists(RECORDS):
            # lineage but no records (every committed batch routed zero
            # rows): nothing to compact, mark or merge
            print(json.dumps({"archived": [], "swept_torn": swept}))
            if owned:
                spark.stop()
            return 0
        shutil.rmtree(tmp_dir, ignore_errors=True)
        df = wh.read(RECORDS)
        n_before = len(glob.glob(os.path.join(records_dir, "**", "*.parquet"), recursive=True))
        rows_before = df.count()
        # archive is where compression strength belongs (the reference keeps
        # live segments uncompressed and gzips at archive time,
        # BigStorage.scala:338-350): the ingest write uses zstd level 1 for
        # wall speed, the compaction rewrite pays for density once
        (
            df.repartition(F.col("batch"), F.col("sink"))
            .write.mode("overwrite")
            .option(ZSTD_LEVEL, "6")
            .partitionBy("batch", "sink")
            .parquet(tmp_dir)
        )
        rows_after = read_parquet(spark, tmp_dir).count()
        if rows_after != rows_before:
            shutil.rmtree(tmp_dir)
            print(f"ABORT: row count mismatch {rows_before} -> {rows_after}", file=sys.stderr)
            if owned:
                spark.stop()
            return 1
        # crash-recoverable swap: records is never absent without
        # records.old present, and the next lock acquisition restores or
        # discards records.old
        wh.swap_in(RECORDS, tmp_dir)
        # compacted layout is history: mark every batch read-only (the
        # reference's archive gzips segments AND marks them readOnly); get
        # resolves the merged batch=archived keys through this set
        archived = sorted(
            os.path.basename(d).split("=", 1)[1]
            for d in glob.glob(os.path.join(records_dir, "batch=*"))
        )
        wh.mark_archived(archived)
        # archive EVERYTHING, index files included (BigStorage.scala:
        # 338-350): merge the now-read-only batches' keys partitions to one
        # file per day and their bookkeeping to one file per table
        # (merging erases per-batch attribution, sound for read-only batches)
        keys_stats = rebuild_keys(wh)
        book_stats = compact_bookkeeping(wh, set(archived))
    n_after = len(glob.glob(os.path.join(records_dir, "**", "*.parquet"), recursive=True))
    print(
        json.dumps(
            {
                "files_before": n_before,
                "files_after": n_after,
                "rows": rows_after,
                "archived": archived,
                "swept_torn": swept,
                "keys": keys_stats,
                "bookkeeping": book_stats,
            }
        )
    )
    if owned:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="log-server-spark", description=__doc__)
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("update", help="ingest pages: parse, dedup, enrich, route, aggregate")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--pages-dir", required=True)
    p.add_argument(
        "--batch-files", type=int, default=4,
        help="units per new batch; committed batches keep the units they hold",
    )
    p.add_argument("--salt", type=int, default=8)
    p.add_argument(
        "--format", choices=["pages", "saved"], default="pages",
        help="input units: parquet pages tables, or reference-wire .saved files",
    )
    p.set_defaults(fn=cmd_update)

    p = sub.add_parser("get", help="point lookup: all records for (table, id)")
    p.add_argument(
        "--warehouse", required=True, action="append",
        help="repeat for multi-warehouse (multi-year) bag-union fan-out",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--id", required=True)
    p.set_defaults(fn=cmd_get)

    p = sub.add_parser("info", help="per-(sink, day) segment statistics")
    p.add_argument("--warehouse", required=True)
    p.set_defaults(fn=cmd_info)

    p = sub.add_parser(
        "archive", help="compact records, mark batches read-only (gzip-segments analogue)"
    )
    p.add_argument("--warehouse", required=True)
    p.set_defaults(fn=cmd_archive)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
