"""End-to-end batch DAG: parse -> dedup -> enrich -> route -> aggregate.

The Spark restatement of the reference's `update` ingest lifecycle
(SURVEY.md §3.1) plus the north_rule additions (enrich, fan-out sinks,
windowed aggregates, lineage/resume, skew salting).

Exactly-once / resume protocol (T4 analogue — the reference deletes source
files only after a successful storage close, LogServerDb.scala:86-93; we
never delete the immutable input, we record completion):

- the warehouse is advisory-locked for the whole run (db.lock with a 60 s
  wait, Directory.scala:140-170, RecordStorage.scala:40) so concurrent
  updates cannot interleave torn-write cleanup with live writes;
- a unit is an input file, known by its absolute path. Each run plans only
  the units no committed lineage row holds, in sorted path order (O4
  determinism, NewLogReader.scala:44-48), in batches of ``batch_files``
  numbered on from the highest committed id. A committed batch is never
  compared with the listing again: deleting an ingested unit (as the
  reference does) loses nothing, and a late, early-sorting unit is one new
  batch;
- each batch writes records under ``records/batch=bNNNNN/sink=…`` and its
  dedup-key projection under ``records_keys/batch=bNNNNN/day=…`` — the
  ``.record`` / ``.hash`` file split of the reference's segment layout
  (RecordStorage vs HeaderStorage);
- there is ONE keys layout: ``records_keys`` partitioned by (batch, day),
  one file per (batch, day) at live scale, written and read by path like
  every other table, and marked by the ``records_keys.bucketed`` file that
  an empty warehouse gets before its first write (the name is kept from an
  earlier bucketed layout, whose files read back as plain Parquet). A
  warehouse that holds records or keys but no marker predates the marked
  layouts: ``run_pipeline`` refuses it before writing anything;
- per-batch bookkeeping (partial aggregates, ingest counters, lineage) is
  written driver-side as ONE file per batch named by batch id, so a
  reprocessed batch overwrites its own rows — idempotent by construction;
- the lineage rows are written ONLY after every data write succeeds, so
  a unit is committed exactly when its batch's data is; ``update`` never
  writes a committed batch id, which is what keeps archived batches
  read-only;
- a batch directory without a matching lineage row is a torn write (the
  reference's truncated-tail recovery, RecordStorage.scala:161-177): both
  its records and keys partitions are dropped and the batch reruns. With
  Iceberg this whole protocol collapses into one atomic snapshot commit per
  batch — the directory dance is the parquet-local stand-in.

Scale properties:
- one scan per batch; the fan-out is a single ``partitionBy(batch, sink)``
  write, not N filtered re-scans. This is the only records layout;
- cross-batch dedup anti-joins the ``records_keys`` projection, pruned to
  the batch's record-ts day range by the driver's choice of ``day=``
  directories (derived from ts_millis — the same column the predicate
  filters), listed afresh on every update so a batch another process
  committed is seen, plus ts_millis row-group stats — the committed side
  read is O(overlapping days), never O(history). This is the reference's
  per-segment ts-range probe gate (BigStorage.scala:30) made real on the
  physical layout. The batch reaches the anti-join already
  hash-partitioned on the dedup key by the in-batch dedup aggregate, so
  the full-width batch shuffles once there and only the thin
  committed-keys slice shuffles to meet it;
- per-batch driver actions are collapsed to: one stats aggregation on the
  persisted parse output, the records write (ingest counters ride it as
  ``df.observe`` metrics — zero extra jobs), and two small read-backs of
  the just-written batch partition (keys projection + partial aggregates),
  plus the one partials merge of ``refresh_aggregates`` (skipped by an
  update that changed no partials). That is ~16 jobs for a steady update
  of ~1k pages, AQE shuffle-map jobs included, and none of them is
  planning or bookkeeping: every parquet read pins its
  schema from one footer read driver-side (``catalog.read_parquet``, no
  schema-inference job), and lineage plus the newest partials file are
  read with pyarrow;
- aggregates refresh by MERGING per-batch partials (counts/min/max/sums and
  HLL sketch registers via ``hll_union_agg``) — O(batches x sinks x days)
  rows, never a rescan of the records table. The partials are the only
  aggregate source;
- the read path answers from the same two indexes, driver-side with
  pyarrow and no Spark job: ``lookup_records`` (get) probes the keys for
  the batches holding a key and reads only those, ``segment_stats`` (info)
  groups the partials by (sink, day);
- a salt column spreads the hot-domain sink across ``salt`` reducers before
  the write (north_rule skew requirement).
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from log_server_spark.catalog import Warehouse, first_parquet_file, read_parquet
from log_server_spark.functions.parse import parse_pages
from log_server_spark.operators.dedup import DEDUP_KEY, anti_join_committed, split_duplicates
from log_server_spark.operators.enrich import enrich
from log_server_spark.operators.route import with_sink
from log_server_spark.sources.saved_format import SAVED_GLOB, read_saved, saved_records_projection

RECORDS = "records"
RECORDS_KEYS = "records_keys"
LINEAGE = "lineage"
METRICS_INGEST = "metrics_ingest"
METRICS_PARTIALS = "metrics_partials"
METRICS_SINK = "metrics_sink_stats"
METRICS_WINDOWED = "metrics_windowed"

LINEAGE_SCHEMA = "batch string, unit string, status string, n_pages long, committed_at double"
INGEST_SCHEMA = (
    "batch string, n_pages long, added long, duplicates long, errors long, committed_at double"
)
PARTIALS_SCHEMA = (
    "batch string, sink string, window_start timestamp, n_rows long, n_ok long, "
    "min_ts long, max_ts long, total_bytes long, url_sketch binary"
)
# the answers of the read path, built driver-side (``lookup_records``,
# ``segment_stats``): a get's stored records, and info's per-(sink, day)
# segment stats
GET_SCHEMA = pa.schema([
    ("table", pa.string()), ("record_id", pa.string()), ("ts_millis", pa.int64()),
    ("text", pa.string()), ("url", pa.string()),
])
INFO_SCHEMA = pa.schema([
    ("sink", pa.string()), ("day", pa.date32()), ("records", pa.int64()),
    ("hashes", pa.int64()), ("min_ts", pa.int64()), ("max_ts", pa.int64()),
])

# parquet writer option (per write, or per table via OPTIONS) for the zstd
# level: 1 on the ingest writes, 6 on the archive rewrites
ZSTD_LEVEL = "parquet.compression.codec.zstd.level"

# Target output-file size the salt aims for (pre-compression record bytes
# roughly track input page bytes at this schema); salting past the point
# where each shard holds ~this much data buys no skew protection and costs
# files + open/seek overhead on every downstream scan.
TARGET_FILE_BYTES = 96 << 20


@dataclass
class BatchResult:
    batch: str
    files: list[str]
    added: int
    duplicates: int
    errors: int


def _list_units(pages_dir: str, source_format: str = "pages") -> list[str]:
    """The units under ``pages_dir`` as sorted absolute paths: a unit's
    identity, so one dir named relatively and absolutely is one set of
    units, and two dirs holding equally named files are two. An existing
    dir with no unit is the reference's state after it deletes its ingested
    sources and plans nothing; a missing dir is a wrong path."""
    if not os.path.isdir(pages_dir):
        raise FileNotFoundError(f"no input directory {pages_dir}")
    pat = "*.parquet" if source_format == "pages" else SAVED_GLOB
    return sorted(glob.glob(os.path.join(os.path.abspath(pages_dir), pat)))


def _saved_records(spark: SparkSession, files: list[str]) -> DataFrame:
    """Wire-format (`.saved`) units -> the parsed-records shape (NewLogReader
    semantics; see ``saved_records_projection`` for the column contract)."""
    return saved_records_projection(read_saved(spark, files))


def _opt_lookup(spark: SparkSession, path: str, schema: str) -> DataFrame:
    if os.path.exists(path):
        return read_parquet(spark, path)
    return spark.createDataFrame([], schema)


def _committed_batches(wh: Warehouse) -> dict[str, frozenset]:
    """batch id -> the unit set its lineage committed: the units a run
    does not plan again, and the ids new batches are numbered after.

    Read driver-side with pyarrow (hidden ``_``/``.`` files skipped, as a
    Spark read skips them): the table is one tiny file per batch, and a
    Spark read would spend a schema-inference job plus a collect job on it.

    CEILING: this reads the whole lineage table driver-side — O(batches
    x units/batch) small rows per run. Fine for years of daily batches
    (10^4 rows); at ~10^5+ rows (high-frequency micro-batching) the right
    structure is a snapshot log keyed by batch with only the planned window
    read back — what an Iceberg catalog's snapshot/manifest list gives for
    free. The count guard below makes the ceiling loud instead of silent.
    """
    import pyarrow.parquet as pq

    if not wh.exists(LINEAGE):
        return {}
    out: dict[str, set] = {}
    t = pq.read_table(
        wh.path(LINEAGE), columns=["batch", "unit"], filters=[("status", "==", "committed")]
    )
    if t.num_rows > 100_000:
        import warnings

        warnings.warn(
            f"lineage has {t.num_rows} committed rows; driver-side resume "
            "bookkeeping is past its design ceiling — switch to a snapshot-"
            "log catalog (e.g. Iceberg) for this ingest frequency",
            stacklevel=2,
        )
    for b, u in zip(t.column("batch").to_pylist(), t.column("unit").to_pylist()):
        out.setdefault(b, set()).add(u)
    return {b: frozenset(u) for b, u in out.items()}


KEYS_MARKER = "records_keys.bucketed"

# partition value holding the cross-batch-merged keys written by `archive`'s
# keys rebuild; can never collide with real ids (they match b\d{5})
ARCHIVED_KEYS_BATCH = "archived"


def _check_keys_marker(wh: Warehouse) -> None:
    """Refuse a warehouse whose keys layout predates the layout marker; an
    empty warehouse gets the marker here, before its first write, so a
    batch that crashes mid-write still leaves a marked warehouse. The
    marker's content is not read: warehouses written by the earlier
    bucketed keys layout hold a bucket count there, and their bucket-named
    keys files read back as plain Parquet."""
    marker = os.path.join(wh.root, KEYS_MARKER)
    if os.path.isfile(marker):
        return
    if wh.exists(RECORDS) or wh.exists(RECORDS_KEYS):
        raise RuntimeError(
            f"warehouse {wh.root} holds data but no {KEYS_MARKER} marker: its "
            "records_keys layout predates the marked layouts and is not supported; "
            "re-ingest its inputs into a new warehouse"
        )
    open(marker, "w").close()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def sweep_torn_batches(wh: Warehouse, done: set | None = None) -> list[str]:
    """Drop records/records_keys batch partitions that have NO committed
    lineage row — torn writes from a crashed run. Shared by run_pipeline's
    resume path and `archive`: archive MUST sweep before compacting or
    marking, or it would fold a torn batch's uncommitted keys into the
    read-only ``batch=archived`` partition (where the torn sweep can never
    reach them) and mark the torn batch id read-only — after which the next
    run deletes the torn records, reprocesses the units, and the orphaned
    archived keys silently anti-join every reprocessed record away.
    Caller must hold the warehouse lock. Returns the swept batch ids.

    Two safety rails (a sweep is the one place the engine removes data):
    - If the lineage table is MISSING yet batch partitions exist, refuse
      loudly: an absent/lost lineage dir would otherwise classify every
      batch as torn and a plain `archive` would silently empty the
      warehouse. (A genuinely-torn FIRST batch is still recovered — the
      per-batch rewrite in ``_run_batch_inner`` deletes its own colliding
      partition without needing this sweep.)
    - Swept partitions are RENAMED to ``_torn-<bid>-<ns>`` siblings, not
      rmtree'd: underscore-prefixed dirs are invisible to Spark/parquet
      discovery (FileInputFormat hidden-file filter), so they are inert to
      every query but hand-recoverable after an operator mistake. They are
      tiny (torn batches are rare) and can be purged manually."""
    # the missing-lineage rail below applies only when WE derived the
    # committed set: run_pipeline hands in `done` because a torn FIRST
    # batch leaves batch dirs and no lineage table, and must be swept
    derived_done = done is None
    if done is None:
        done = set(_committed_batches(wh))
    candidates: list[tuple[str, str]] = []
    for table in (RECORDS, RECORDS_KEYS):
        for d in glob.glob(os.path.join(wh.path(table), "batch=*")):
            bid = os.path.basename(d).split("=", 1)[1]
            if bid == ARCHIVED_KEYS_BATCH:
                continue  # committed history by construction (see archive)
            if bid not in done:
                candidates.append((d, bid))
    if derived_done and candidates and not done and not wh.exists(LINEAGE):
        raise RuntimeError(
            f"refusing to sweep {len(candidates)} batch partition(s) as torn: "
            f"no lineage table at {wh.path(LINEAGE)} — if lineage was lost, "
            "every batch looks uncommitted and sweeping would empty the "
            "warehouse; restore lineage or remove partitions manually"
        )
    swept: list[str] = []
    for d, bid in candidates:
        os.rename(d, os.path.join(os.path.dirname(d), f"_torn-{bid}-{time.time_ns()}"))
        if bid not in swept:
            swept.append(bid)
    # a batch that crashed after ``_write_batch_index`` left its partials
    # (and maybe its ingest counters): they describe rows no records file
    # holds any more, and ``info`` and the aggregates read the partials
    for bid in swept:
        for table in (METRICS_PARTIALS, METRICS_INGEST):
            f = os.path.join(wh.path(table), f"part-{bid}.parquet")
            if os.path.isfile(f):
                os.remove(f)
    return swept


def rebuild_keys(wh: Warehouse) -> dict:
    """Rewrite ``records_keys`` from the records table's ok rows (the keys
    table is exactly their projection, ``_write_keys``, once torn batches
    are swept) into the one ``batch=archived`` partition. ``archive`` calls
    it after marking every batch of the records read-only — one file per
    day instead of O(batches x days), the index-file leg of archiving every
    segment file (BigStorage.scala:338-350). A day whose on-disk keys
    exceed ``TARGET_FILE_BYTES`` is spread over ``ceil(bytes /
    TARGET_FILE_BYTES)`` files by a ``record_hash`` modulus.

    Crash-safe via the standard swap protocol: the new layout is fully
    built in ``records_keys.compact``, verified by row count, then swapped
    in; ``Warehouse`` lock-acquisition recovery finishes or discards any
    interrupted state. Caller must hold the warehouse lock.
    """
    _check_keys_marker(wh)
    spark = wh.spark
    keys_dir = wh.path(RECORDS_KEYS)
    tmp = keys_dir + ".compact"
    shutil.rmtree(tmp, ignore_errors=True)
    keys = (
        wh.read(RECORDS)
        .filter(F.col("status") == "ok")
        .select(
            "table", "record_id", "record_hash", "ts_millis",
            F.lit(ARCHIVED_KEYS_BATCH).alias("batch"),
            _ts_day(F.col("ts_millis")).alias("day"),
        )
    )
    day_bytes: dict[str, int] = {}
    for d in glob.glob(os.path.join(keys_dir, "batch=*", "day=*")):
        day = os.path.basename(d).split("=", 1)[1]
        day_bytes[day] = day_bytes.get(day, 0) + _dir_bytes(d)
    spread = F.lit(0)
    big = [
        (d, -(-n // TARGET_FILE_BYTES)) for d, n in sorted(day_bytes.items())
        if n > TARGET_FILE_BYTES
    ]
    if big:
        files = F.create_map(*[F.lit(x) for pair in big for x in pair])[F.col("day").cast("string")]
        spread = F.pmod(F.hash("record_hash"), F.coalesce(files, F.lit(1)))
    # COST NOTE: the row-count verify is two scans (source + rebuilt) —
    # O(total keys) at archive time, cheap next to the rewrite itself, and
    # a lost row here means silent re-ingestion of committed data
    rows_before = keys.count()
    files_before = len(glob.glob(os.path.join(keys_dir, "**", "*.parquet"), recursive=True))
    (
        keys.repartition(F.col("day"), spread)
        .write.option(ZSTD_LEVEL, "6")
        .partitionBy("batch", "day")
        .parquet(tmp)
    )
    rows_after = read_parquet(spark, tmp).count() if first_parquet_file(tmp) else 0
    if rows_after != rows_before:
        shutil.rmtree(tmp)
        raise RuntimeError(f"keys rebuild row mismatch: {rows_before} -> {rows_after}; aborted")
    wh.swap_in(RECORDS_KEYS, tmp)
    files_after = len(glob.glob(os.path.join(keys_dir, "**", "*.parquet"), recursive=True))
    return {
        "keys_rows": rows_after,
        "keys_files_before": files_before,
        "keys_files_after": files_after,
    }


def compact_bookkeeping(wh: Warehouse, archived_ids: set[str]) -> dict:
    """Merge the archived batches' per-batch bookkeeping files — plus any
    previous merge output — into ONE file
    per table (lineage / ingest counters / partials): the index-file leg of
    the reference's archive-everything (Directory.scala:129-138).

    Per-batch file granularity exists so a torn batch's rerun overwrites
    its own partials and counters; a committed batch never reruns, so the
    archived batches' rows can fold into a single merged file. Live
    (unarchived) batches keep their per-batch files. Crash-recoverable: the
    merged table is built in ``<table>.rewrite`` (the kept files
    hardlinked across) and swapped in with ``Warehouse.swap_in``, which
    lock acquisition finishes or rolls back. Caller holds the lock.
    """
    import re

    import pyarrow.parquet as pq

    per_batch_re = re.compile(r"part-(b\d{5})\.parquet$")
    out = {}
    for table in (LINEAGE, METRICS_INGEST, METRICS_PARTIALS):
        d = wh.path(table)
        if not os.path.isdir(d):
            continue
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        keep, merge = [], []
        for f in files:
            m = per_batch_re.search(os.path.basename(f))
            (keep if m and m.group(1) not in archived_ids else merge).append(f)
        if len(merge) <= 1:
            out[table] = len(files)
            continue
        tmp = d + ".rewrite"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for f in keep:
            os.link(f, os.path.join(tmp, os.path.basename(f)))
        pq.write_table(
            pq.read_table(merge), os.path.join(tmp, f"part-archive-{time.time_ns():020d}.parquet")
        )
        wh.swap_in(table, tmp)
        out[table] = len(keep) + 1
    return out


def _ts_day(ts_millis_col):
    """UTC day of an epoch-millis column as a date, timezone-free (pure
    floor-div day arithmetic — ``to_date(timestamp_millis(x))`` would go
    through the session timezone and break write/read pruning agreement
    across differently-configured sessions)."""
    return F.date_from_unix_date(
        F.floor(ts_millis_col / F.lit(86_400_000)).cast("int")
    )


def _committed_keys(wh: Warehouse, ts_range: tuple | None = None) -> DataFrame | None:
    """Committed dedup-key projection, pruned to the batch's record-ts range.

    The reference probes a segment only if its [minTs, maxTs] contains the
    candidate record's timestamp (BigStorage.scala:30) — valid because the
    content hash folds the record ts, so a key match implies an equal ts.
    The projection lives in its own compact table partitioned by the
    record-ts UTC day (the SAME ts_millis the range predicate filters on — a
    warc_ts-derived day would prune soundly only while capture day == header
    day). The driver picks the ``batch=*/day=<d>`` directories whose day
    lies in the batch's day range (ISO dates compare as strings) and reads
    only those, so the committed side is O(overlapping days), never
    O(history); ``ts_millis`` row-group stats trim the edge days. With no
    range every directory is read; with no matching directory there is no
    committed side.

    Listed from the files on every call, like every other read of the
    warehouse: a batch another process committed is seen by the next
    update of a long-lived session, as the reference reads its hash
    indexes from disk under the warehouse lock.

    CEILING: the pick lists each ``batch=`` directory once per update —
    O(batches) ``listdir`` calls, the same order as the
    ``sweep_torn_batches`` glob beside it; ``archive`` folds them into one.
    """
    dirs = sorted(glob.glob(os.path.join(wh.path(RECORDS_KEYS), "batch=*", "day=*")))
    if ts_range is not None:
        lo, hi = int(ts_range[0]), int(ts_range[1])
        # the UTC days ``_ts_day`` gives lo and hi, as ISO dates
        epoch = datetime.date(1970, 1, 1)
        first, last = (str(epoch + datetime.timedelta(days=t // 86_400_000)) for t in (lo, hi))
        dirs = [d for d in dirs if first <= os.path.basename(d)[len("day="):] <= last]
    if not dirs:
        return None  # nothing committed in the batch's days
    # this thin slice is the only side of the anti-join that shuffles
    keys = read_parquet(wh.spark, *dirs)
    if ts_range is not None:
        keys = keys.filter(F.col("ts_millis").between(F.lit(lo), F.lit(hi)))
    return keys.select(*DEDUP_KEY)


def lookup_records(whs: list[Warehouse], table: str, record_id: str):
    """The stored (ok) records of ``(table, record_id)`` in ``whs`` as a
    pyarrow table of the ``get`` columns, stable-sorted by ``ts_millis``:
    the reference's get through each segment's sorted header index
    (SURVEY.md §3.2), on the calling thread, with no Spark job.

    ``records_keys`` is the header index: its hits name the batches that
    hold the key (a ``batch=archived`` hit stands for every archived batch,
    whose keys ``rebuild_keys`` merged), and only those batches' records
    directories are opened, with the key and ``status = 'ok'`` pushed into
    the row-group scan. Error rows are not stored records: an
    ``err_oversize`` row carries a table and an id, but the reference
    rejects that record at write time (Storage.scala:19).

    CEILING: the probe reads the key columns of every keys file on the
    driver — O(committed keys) per get. ``archive`` merges the keys to one
    file per day, which bounds the file count but not the bytes. The next
    step at larger scale is a key-sorted keys layout whose row-group stats
    prune the probe (ROADMAP 4b).
    """
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    key = (pc.field("table") == table) & (pc.field("record_id") == record_id)
    keys_layout = ds.partitioning(
        pa.schema([("batch", pa.string()), ("day", pa.string())]), flavor="hive"
    )
    parts = [GET_SCHEMA.empty_table()]
    for wh in whs:
        if not wh.exists(RECORDS_KEYS):
            continue
        keys = ds.dataset(wh.path(RECORDS_KEYS), format="parquet", partitioning=keys_layout)
        batches = set(keys.to_table(columns=["batch"], filter=key).column("batch").to_pylist())
        if ARCHIVED_KEYS_BATCH in batches:
            batches = (batches - {ARCHIVED_KEYS_BATCH}) | wh.archived_batches()
        for b in sorted(batches):
            d = os.path.join(wh.path(RECORDS), f"batch={b}")
            if os.path.isdir(d):
                parts.append(
                    ds.dataset(d, format="parquet").to_table(
                        columns=GET_SCHEMA.names, filter=key & (pc.field("status") == "ok")
                    )
                )
    t = pa.concat_tables(parts)
    return t.take(pc.sort_indices(t, [("ts_millis", "ascending")]))


def _sink_salts(wh: Warehouse, salt: int) -> dict[str, int] | None:
    """Per-sink salt sized by the sink-volume distribution OBSERVED in the
    newest committed batch's partials — the north_rule's skew-adaptive salt
    with ZERO extra Spark jobs (the partials are O(sinks x days) rows read
    driver-side via pyarrow; an in-batch count would cost a full extra pass
    over the batch at 100 TB). A steady pipeline's last batch predicts the
    next one; the budget is the same |sinks| * salt reducer-group total the
    uniform salt spends, reallocated by volume with a floor of 1 — so the
    hot sink's files stay near the target size instead of salt-times too
    big, and cold sinks write ONE file instead of `salt` shards.
    Returns None (uniform salt) when no partials exist yet.

    Reads only the NEWEST per-batch file (``part-b{max}.parquet`` — batch
    ids are zero-padded so lexicographic max == newest), not the whole
    table: partials grow one file per batch forever, and a full driver-side
    read would creep O(batches x sinks x days) per batch. Falls back to the
    full read only when no per-batch file exists (everything compacted into
    the archive-merged file)."""
    import pyarrow.parquet as pq

    d = wh.path(METRICS_PARTIALS)
    if not wh.exists(METRICS_PARTIALS):
        return None
    try:
        per_batch = sorted(glob.glob(os.path.join(d, "part-b[0-9]*.parquet")))
        src = per_batch[-1] if per_batch else d
        t = pq.read_table(src, columns=["batch", "sink", "n_rows", "total_bytes"])
    except Exception:
        return None
    if t.num_rows == 0:
        return None
    import collections

    latest = max(t.column("batch").to_pylist())
    counts: dict[str, int] = collections.defaultdict(int)
    sink_bytes: dict[str, int] = collections.defaultdict(int)
    for b, s, n, nb in zip(
        t.column("batch").to_pylist(), t.column("sink").to_pylist(),
        t.column("n_rows").to_pylist(), t.column("total_bytes").to_pylist(),
    ):
        if b == latest:
            counts[s] += int(n or 0)
            sink_bytes[s] += int(nb or 0)
    total = sum(counts.values())
    if total <= 0:
        return None
    budget = salt * len(counts)
    out = {}
    for s, n in counts.items():
        v = max(1, min(budget, round(budget * n / total)))
        # volume cap (round 5): a sink whose observed bytes fit k
        # target-size files needs at most k shards — below that, salting
        # only fragments files and multiplies downstream scan opens. At
        # scale the cap exceeds the budget share and is a no-op.
        cap = max(1, -(-sink_bytes[s] // TARGET_FILE_BYTES))
        out[s] = min(v, cap)
    return out


def _salt_expr(wh: Warehouse, salt: int, input_bytes: int):
    """Salt modulus as a Column: per-sink adaptive when history exists,
    else a uniform salt SIZED TO THE BATCH VOLUME — `salt` is the ceiling
    (skew defense at scale), but a first batch small enough that even its
    hottest sink (assume <= ~40% of the bytes) fits one target-size file
    gets salt 1: fewer, bigger files, and every downstream scan of the batch
    partition opens salt-times fewer footers. At 100 TB the estimate
    saturates at the ceiling immediately."""
    salts = _sink_salts(wh, salt)
    if not salts:
        need = -(-int(input_bytes * 0.4) // TARGET_FILE_BYTES)
        return F.lit(max(1, min(salt, need)))
    expr = F.lit(salt)  # unseen sinks fall back to the uniform salt
    for s, v in sorted(salts.items()):
        expr = F.when(F.col("sink") == s, F.lit(v)).otherwise(expr)
    return expr


def run_batch(
    spark: SparkSession,
    wh: Warehouse,
    batch_id: str,
    files: list[str],
    lang_lookup: DataFrame,
    domain_lookup: DataFrame,
    salt: int = 8,
    source_format: str = "pages",
) -> BatchResult:
    """Ingest one batch. Wrapper: the inner body tunes two session-global
    split confs per batch (maxPartitionBytes/openCostInBytes); snapshot and
    restore them here so unrelated queries on the same session never
    inherit a batch's (possibly tiny) split sizing."""
    _CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k, None) for k in _CONFS}
    try:
        return _run_batch_inner(
            spark, wh, batch_id, files, lang_lookup, domain_lookup,
            salt=salt, source_format=source_format,
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _run_batch_inner(
    spark: SparkSession,
    wh: Warehouse,
    batch_id: str,
    files: list[str],
    lang_lookup: DataFrame,
    domain_lookup: DataFrame,
    salt: int = 8,
    source_format: str = "pages",
) -> BatchResult:
    # torn-write recovery FIRST: a batch dir without a lineage row is a
    # partial write from a crashed run. Both the records partition and the
    # keys partition must go before any DataFrame lists either table, or
    # the anti-join would treat uncommitted keys as committed and drop the
    # whole reprocessed batch. (Bookkeeping files are overwritten at commit
    # time — same per-batch filename — so they need no pre-cleaning.)
    for table in (RECORDS, RECORDS_KEYS):
        d = os.path.join(wh.path(table), f"batch={batch_id}")
        if os.path.isdir(d):
            shutil.rmtree(d)

    # split sizing: the parse stage is python-bound, so the scan must yield
    # >= ~3 tasks per core or cores sit idle (the 128 MB default + 4 MB
    # open-cost packs small files into a handful of splits). Runtime SQL
    # confs, so this tunes per batch without session restart; on a real
    # cluster with ~1 GB input files the default would already be fine.
    total_bytes = sum(os.path.getsize(f) for f in files)
    target_tasks = spark.sparkContext.defaultParallelism * 3
    split = max(1 << 20, min(128 << 20, total_bytes // max(1, target_tasks)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(256 << 10))

    if source_format == "saved":
        parsed = _saved_records(spark, files)
    else:
        parsed = parse_pages(read_parquet(spark, *files))
    # the UTC day of warc_ts, whatever the session time zone: the day the
    # partials' 1-day window starts on, which ``info`` reports
    parsed = parsed.withColumn("day", _ts_day(F.unix_millis("warc_ts")))
    parsed.persist(StorageLevel.MEMORY_AND_DISK)

    ok = parsed.filter(F.col("status") == "ok")
    # idempotent error sink: an exact-duplicate malformed page (same url,
    # same bytes — datagen's i%13==6 class) parses to byte-identical error
    # rows; re-ingesting it must not double the error sink any more than
    # the hash dedup lets it double the ok sink. Full-row distinct is the
    # deterministic rule: only identical rows collapse, so two DIFFERENT
    # malformed versions of one url (same (url, seq), different text) both
    # survive. Cheap at scale: errors are a thin slice and the all-column
    # HashAggregate collapses duplicates map-side before the shuffle.
    errors = parsed.filter(F.col("status") != "ok").dropDuplicates()
    kept, _ = split_duplicates(ok)

    # ONE aggregation materializes the persist and yields every driver-side
    # number the rest of the batch needs (ts-range gate + ingest counters);
    # page count = rows with seq 0 (the parser emits >= 1 record per page)
    is_ok = F.when(F.col("status") == "ok", 1).otherwise(0)
    st = parsed.agg(
        F.min(F.when(F.col("status") == "ok", F.col("ts_millis"))).alias("lo"),
        F.max(F.when(F.col("status") == "ok", F.col("ts_millis"))).alias("hi"),
        F.sum(is_ok).alias("n_ok"),
        F.sum(F.when(F.col("seq") == 0, 1).otherwise(0)).alias("n_pages"),
    ).collect()[0]
    ts_range = (st["lo"], st["hi"]) if st["lo"] is not None else None
    n_ok = st["n_ok"] or 0
    n_pages = st["n_pages"] or 0

    kept = anti_join_committed(kept, _committed_keys(wh, ts_range))

    routed = with_sink(
        enrich(kept.unionByName(errors), lang_lookup, domain_lookup)
    ).withColumn("batch", F.lit(batch_id))

    # ingest counters (A4) ride the write job as observed metrics — the
    # reference counts added/duplicates on the ingest pass itself
    # (MemoryWiseLogWrapper.scala:97-111); no extra job, no read-back
    obs = Observation(f"ingest_{batch_id}")
    routed = routed.observe(
        obs,
        F.count(F.lit(1)).alias("n_routed"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_added"),
    )

    # defuse hot-sink skew: spread each output partition across `salt`
    # reducers. Keeping reducer keys aligned with the output partition
    # columns bounds the file count at |dirs| * salt (a hash-partitioned
    # shuffle that ignores the output layout would make every reducer write
    # every directory — thousands of tiny files). When previous batches'
    # partials exist, the salt adapts to the OBSERVED per-sink volume
    # (uniform salt gives the coldest sink as many file slots as the
    # hottest): the hot sink gets proportionally more reducers, cold sinks
    # collapse to one file, total reducer groups stay ~|sinks| * salt.
    out = routed.repartition(
        F.col("sink"), F.pmod(F.hash("url"), _salt_expr(wh, salt, total_bytes))
    )
    # live-segment write cost: the reference keeps live segments
    # UNcompressed and gzips only at archive time (BigStorage.scala:338-350)
    # — the analogous lifecycle here is a cheap codec on the ingest write
    # (zstd level 1; the default level 3 costs ~15% of batch wall for ~7%
    # smaller files) and zstd level 6 when `archive` rewrites the partition.
    # The level is a per-write option, so no other write inherits it.
    (
        out.write.mode("append")
        .option(ZSTD_LEVEL, "1")
        .partitionBy("batch", "sink")
        .parquet(wh.path(RECORDS))
    )

    # read the just-written batch partition back (small, column-pruned):
    # (a) append its dedup keys to the day-partitioned keys table — the
    #     .hash index file of this "segment" (HeaderStorage.scala:283-288);
    # (b) fold its partial aggregates (mergeable: sums/min/max + HLL sketch
    #     registers) into metrics_partials for incremental refresh.
    # A zero-ROUTED batch (no rows, or every parseable record a cross-batch
    # duplicate and no error rows) wrote nothing: it skips both, adds 0 with
    # 0 errors, and still commits lineage below so resume skips it.
    batch_dir = os.path.join(wh.path(RECORDS), f"batch={batch_id}")
    added = n_errors = 0
    if os.path.isdir(batch_dir):
        # reading the observation on a zero-row write job fails JVM-side (no
        # metrics row) — only read when the batch wrote data
        got = obs.get
        added = int(got["n_added"] or 0)
        n_errors = int(got["n_routed"] or 0) - added
        _write_batch_index(spark, wh, batch_id, batch_dir)
    parsed.unpersist()
    # covers in-batch AND cross-batch dups — the reference counts both
    n_dups = int(n_ok) - added
    wh.write_small(
        [(batch_id, n_pages, added, n_dups, n_errors, time.time())],
        INGEST_SCHEMA,
        METRICS_INGEST,
        filename=batch_id,
    )
    wh.write_small(
        [(batch_id, u, "committed", n_pages, time.time()) for u in files],
        LINEAGE_SCHEMA,
        LINEAGE,
        filename=batch_id,
    )
    return BatchResult(batch_id, files, added, n_dups, n_errors)


def _write_batch_index(spark: SparkSession, wh: Warehouse, batch_id: str, batch_dir: str) -> None:
    """Keys and partial aggregates of the batch partition just written."""
    # ONE scan of the batch partition feeds BOTH readbacks: project to the
    # 9 thin columns they jointly need (never the wide text) and persist —
    # without this, keys and partials each re-open every file in the
    # partition. The cache is O(batch x 9 thin cols), spill-safe.
    written = (
        read_parquet(spark, batch_dir)
        .select(
            "table", "record_id", "record_hash", "ts_millis", "status",
            "sink", "warc_ts", "n_bytes", "url",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _write_keys():
        # keys-table day MUST derive from ts_millis (the record-header ts the
        # dedup hash folds), NOT the records table's warc_ts capture day: the
        # anti-join prunes day with ts_millis bounds, and a committed
        # duplicate whose capture day differs from its header-ts day would
        # otherwise be pruned out of the committed side and re-ingested.
        # floor-div keeps the mapping timezone-free (date_from_unix_date is
        # pure day arithmetic, no session-tz dependence).
        keys = (
            written.filter(F.col("status") == "ok")
            .select("table", "record_id", "record_hash", "ts_millis")
            .withColumn("batch", F.lit(batch_id))
            .withColumn("day", _ts_day(F.col("ts_millis")))
        )
        # one task per TARGET_FILE_BYTES of the batch's records writes one
        # file per day it holds: one file per (batch, day) at live scale
        n_files = max(1, -(-_dir_bytes(batch_dir) // TARGET_FILE_BYTES))
        (
            keys.coalesce(n_files).write.mode("append")
            .option(ZSTD_LEVEL, "1")
            .partitionBy("batch", "day")
            .parquet(wh.path(RECORDS_KEYS))
        )

    def _collect_partials():
        return (
            written.withColumn("window_start", F.window("warc_ts", "1 day")["start"])
            .groupBy("sink", "window_start")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
                F.min("ts_millis").alias("min_ts"),
                F.max("ts_millis").alias("max_ts"),
                F.sum("n_bytes").alias("total_bytes"),
                F.hll_sketch_agg("url").alias("url_sketch"),
            )
            # epoch micros, not a datetime: collect() renders timestamps in
            # the driver process's local zone, which pyarrow would read as UTC
            .withColumn("window_start", F.unix_micros("window_start"))
            .collect()
        )

    # both read-backs scan the same small batch partition and are
    # independent — submit them as CONCURRENT Spark jobs (the scheduler is
    # thread-safe), halving this leg of the per-batch serial floor
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_keys = pool.submit(_write_keys)
        f_partials = pool.submit(_collect_partials)
        f_keys.result()
        partials = f_partials.result()
    written.unpersist()
    wh.write_small(
        [
            (batch_id, r["sink"], r["window_start"], r["n_rows"], r["n_ok"],
             r["min_ts"], r["max_ts"], r["total_bytes"], bytes(r["url_sketch"]))
            for r in partials
        ],
        PARTIALS_SCHEMA,
        METRICS_PARTIALS,
        filename=batch_id,
    )


def refresh_aggregates(spark: SparkSession, wh: Warehouse) -> None:
    """Rebuild the per-sink + windowed aggregate tables (A1-A3) by MERGING
    the per-batch partials — sums/min/max add up, distinct-url sketches
    merge via ``hll_union_agg`` — reading only O(batches x sinks x days)
    bookkeeping rows, never the records table. Per-sink distinct-key count
    equals the per-sink ok-row count by the dedup invariant (every
    committed ok row holds a globally unique key).

    The partials are the one aggregate source: every committed batch that
    wrote records wrote its partials before its lineage, and a warehouse
    from before the partials table also predates the keys marker, so
    ``_check_keys_marker`` refuses it.

    Written last, a hidden fingerprint of the partials files it merged
    (``_aggregates_current``) lets a later update that commits nothing skip
    the refresh; a crash before it is written leaves none, so the next
    update refreshes.
    """
    source = _partials_fingerprint(wh)
    # ONE grouping-sets merge job over the tiny partials table yields both
    # the per-sink and the per-(window, sink) rollups
    rows = (
        wh.read(METRICS_PARTIALS)
        .groupingSets([["sink"], ["window_start", "sink"]], "sink", "window_start")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_ok").alias("n_keys"),
            F.hll_sketch_estimate(F.hll_union_agg("url_sketch")).alias("n_urls_approx"),
            F.min("min_ts").alias("min_ts"),
            F.max("max_ts").alias("max_ts"),
            F.sum("total_bytes").alias("total_bytes"),
            F.grouping_id().alias("gid"),
        )
        .collect()
    )
    # gid bits follow (sink, window_start): 0b01 = window aggregated out
    sink_out = [
        (r["sink"], r["n_rows"], r["n_keys"], r["n_urls_approx"],
         r["min_ts"], r["max_ts"], r["total_bytes"])
        for r in rows if r["gid"] == 0b01
    ]
    win_out = [
        (r["window_start"], r["sink"], r["n_rows"], r["n_urls_approx"])
        for r in rows if r["gid"] == 0b00
    ]
    for name in (METRICS_SINK, METRICS_WINDOWED):
        wh.drop(name)
    wh.write_small(
        sink_out,
        "sink string, n_rows long, n_keys long, n_urls_approx long, "
        "min_ts long, max_ts long, total_bytes long",
        METRICS_SINK,
    )
    wh.write_small(
        win_out,
        "window_start timestamp, sink string, n_rows long, n_urls_approx long",
        METRICS_WINDOWED,
    )
    with open(os.path.join(wh.path(METRICS_WINDOWED), AGGREGATES_SOURCE), "w") as f:
        f.write(source)


def segment_stats(whs: list[Warehouse]):
    """``info``'s per-(sink, UTC day) segment stats of ``whs`` as a pyarrow
    table (``INFO_SCHEMA``), ordered by (sink, day): the reference's stored
    per-segment head stats (SURVEY.md §3.3: running min/max ts and count,
    RecordStorage.scala:93-100; hash-index entry count, HeaderStorage :175),
    read driver-side from the per-batch partials, with no Spark job and no
    rescan of the records.

    A partials row covers the rows one batch wrote into one (sink, 1-day
    window) — every row, error rows included — and a window starts on a
    UTC day boundary, the same day the records' ``day`` column holds. So
    ``records = Σ n_rows``, ``min_ts``/``max_ts`` fold, and ``hashes``, the
    non-null ``record_hash`` count, is ``Σ n_ok``: every stored ok row holds
    a unique dedup key, and error rows have a null hash. A torn batch's
    partials go with its records (``sweep_torn_batches``), and ``archive``
    merges the partials without changing a row."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cols = ["sink", "window_start", "n_rows", "n_ok", "min_ts", "max_ts"]
    parts = [
        pq.read_table(wh.path(METRICS_PARTIALS), columns=cols)
        for wh in whs if wh.exists(METRICS_PARTIALS)
    ]
    if not parts:
        return INFO_SCHEMA.empty_table()
    t = pa.concat_tables(parts)
    # window starts are whole UTC days: exact integer division
    micros = t.column("window_start").cast(pa.int64())
    day = pc.divide(micros, 86_400_000_000).cast(pa.int32()).cast(pa.date32())
    g = t.append_column("day", day).group_by(["sink", "day"]).aggregate(
        [("n_rows", "sum"), ("n_ok", "sum"), ("min_ts", "min"), ("max_ts", "max")]
    )
    out = pa.table(
        [g["sink"], g["day"], g["n_rows_sum"], g["n_ok_sum"], g["min_ts_min"], g["max_ts_max"]],
        schema=INFO_SCHEMA,
    )
    return out.sort_by([("sink", "ascending"), ("day", "ascending")], null_placement="at_start")


# ``_``-prefixed, so no Parquet read of the windowed table sees it
AGGREGATES_SOURCE = "_partials_fingerprint"


def _partials_fingerprint(wh: Warehouse) -> str:
    """Name, size and mtime of every partials file: any batch commit, drop
    or archive merge changes at least one."""
    lines = []
    for f in sorted(glob.glob(os.path.join(wh.path(METRICS_PARTIALS), "*.parquet"))):
        st = os.stat(f)
        lines.append(f"{os.path.basename(f)} {st.st_size} {st.st_mtime_ns}\n")
    return "".join(lines)


def _aggregates_current(wh: Warehouse) -> bool:
    """Whether the published aggregates were merged from today's partials."""
    try:
        with open(os.path.join(wh.path(METRICS_WINDOWED), AGGREGATES_SOURCE)) as f:
            return f.read() == _partials_fingerprint(wh)
    except FileNotFoundError:
        return False


def run_pipeline(
    spark: SparkSession,
    pages_dir: str,
    warehouse_root: str,
    batch_files: int = 4,
    salt: int = 8,
    resume: bool = True,
    aggregates: bool = True,
    max_batches: int | None = None,
    lock_timeout: float = 60.0,
    source_format: str = "pages",
) -> list[BatchResult]:
    wh = Warehouse(warehouse_root, spark)
    # absolute, like the units: the JVM resolves a relative path against its
    # own working directory, not this process's
    base = os.path.dirname(os.path.abspath(pages_dir))
    # lookup dims are optional (a `.saved` migration dir has none): a
    # missing file becomes an empty dim, and the left joins keep NULLs
    lang_lookup = _opt_lookup(
        spark, os.path.join(base, "lang_lookup.parquet"),
        "lang string, lang_name string, lang_family string",
    )
    domain_lookup = _opt_lookup(
        spark, os.path.join(base, "domain_lookup.parquet"),
        "domain string, category string, country string, is_error_prone boolean",
    )

    listed = _list_units(pages_dir, source_format)

    results: list[BatchResult] = []
    with wh.lock(timeout=lock_timeout):
        done = _committed_batches(wh)
        if done and not resume:
            raise RuntimeError(
                f"warehouse {wh.root} holds {len(done)} committed batches and resume=False "
                "asks for a fresh ingest: committed batches are never rewritten, "
                "so ingest into a new warehouse"
            )
        # refuses an unmarked warehouse before anything is written, and
        # marks an empty one with the only keys layout
        _check_keys_marker(wh)
        # a committed unit never moves: plan only the units no lineage row
        # holds, numbered on from the highest committed id
        held = set().union(*done.values())
        units = [u for u in listed if u not in held]
        first = 1 + max((int(b[1:]) for b in done), default=-1)
        batches = [
            (f"b{first + k:05d}", units[i : i + batch_files])
            for k, i in enumerate(range(0, len(units), batch_files))
        ]
        # sweep TORN batch dirs (no lineage row) before any batch runs, so no
        # anti-join reads their uncommitted keys
        sweep_torn_batches(wh, set(done))
        for batch_id, files in batches[:max_batches]:
            results.append(
                run_batch(
                    spark, wh, batch_id, files, lang_lookup, domain_lookup,
                    salt=salt, source_format=source_format,
                )
            )
        # a no-op update (nothing committed, partials unchanged since the
        # last refresh) submits no Spark job at all
        if aggregates and wh.exists(METRICS_PARTIALS) and (
            results or not _aggregates_current(wh)
        ):
            refresh_aggregates(spark, wh)
    return results

