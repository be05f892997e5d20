"""Parquet-directory warehouse.

The production design point is an Iceberg catalog (atomic snapshot commits,
file-level stats pruning, ``rewrite_data_files`` compaction — see SURVEY.md
§1.5). This container ships no Iceberg runtime jar, so tables are plain
parquet directories behind the same narrow interface; swapping
``format="iceberg"`` in is a config change, not a redesign. Semantics we rely
on (append-only writes + idempotence via the lineage protocol in
plans/pipeline.py) hold for both backends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key where Spark's parquet writer stores the exact data StructType
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# suffix of the hidden temp file ``Warehouse.write_small`` renames into place
_SMALL_TMP = ".tmp"


def _visible(name: str) -> bool:
    """Spark's hidden-path rule for file discovery: names starting with
    ``.`` (checksums, staging) or ``_`` (``_SUCCESS``, ``_torn-*`` sweeps,
    ``_temporary``) are invisible to reads, unless a ``k=v`` partition dir."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def first_parquet_file(path: str) -> str | None:
    """``path`` itself if it is a file, else the first visible ``*.parquet``
    file of a sorted top-down walk — O(depth) directory listings, not
    O(files)."""
    if os.path.isfile(path):
        return path
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if _visible(x))
        for f in sorted(files):
            if f.endswith(".parquet") and _visible(f):
                return os.path.join(d, f)
    return None


def footer_schema(path: str) -> StructType | None:
    """Data-column schema of the parquet table at ``path``, from ONE footer
    read driver-side — the same single-file choice Spark's non-merging
    inference makes, without the Spark job it submits to read that footer.
    Spark-written files carry their exact ``StructType`` in the row-metadata
    key; pyarrow-written files convert from the arrow schema. Partition
    columns are absent from data files, so Spark still types them from the
    ``k=v`` directory names, driver-side, exactly as an unpinned read does.
    None when ``path`` holds no visible parquet file."""
    import pyarrow.parquet as pq

    f = first_parquet_file(path)
    if f is None:
        return None
    schema = pq.read_schema(f)
    meta = schema.metadata or {}
    if _SPARK_ROW_METADATA in meta:
        return StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(schema)


def read_parquet(spark: SparkSession, path: str, *more: str) -> DataFrame:
    """``spark.read.parquet(path, *more)`` with the schema pinned from the
    first path's footer (see ``footer_schema``). A path with no parquet
    file keeps the plain read and its error."""
    schema = footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path, *more)


def scan_roots(df: DataFrame) -> list[str]:
    """Local root paths of the file scans ``df`` is a bag union of — a plain
    ``read_parquet`` of one directory, or a ``unionByName`` of such reads —
    from its analyzed plan, with O(1) py4j calls per scan (no file
    listing). Raises ``ValueError`` for any other frame (filtered,
    projected, joined, in-memory, ...): a reader that answers from the
    files themselves must not silently drop what the frame says."""
    roots: list[str] = []
    stack = [(df._jdf.queryExecution().analyzed(), False)]
    while stack:
        node, in_union = stack.pop()
        name = node.nodeName()
        if name == "Union":
            children = node.children()
            stack.extend((children.apply(i), True) for i in range(children.size()))
        elif name == "Project" and in_union and _aligns_columns(node.projectList()):
            stack.append((node.child(), False))
        elif (
            name == "LogicalRelation"
            and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
        ):
            paths = node.relation().location().rootPaths()
            if paths.size() != 1:
                raise ValueError(f"expected a scan of one directory, got {paths.size()} paths")
            roots.append(paths.head().toUri().getPath())
        else:
            raise ValueError(
                f"expected a plain warehouse table read (or a union of them), got a {name} "
                "plan node; read the table with Warehouse.read and pass it unchanged"
            )
    return roots


def _aligns_columns(exprs) -> bool:
    """Whether a union input's Project only reorders columns and pads
    missing ones with NULL, the shape ``unionByName(...,
    allowMissingColumns=True)`` adds."""
    for i in range(exprs.size()):
        e = exprs.apply(i)
        if e.nodeName() == "Alias":
            e = e.child()
            if e.nodeName() != "Literal" or e.value() is not None:
                return False
        elif e.nodeName() != "AttributeReference":
            return False
    return True


class WarehouseLockTimeout(TimeoutError):
    pass


class Warehouse:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    def _recover_interrupted_writes(self) -> None:
        """Finish any crashed table swap (``archive``'s records compaction or
        a bookkeeping rewrite, see ``swap_in``): the swap protocol is
        rename(T -> T.old); rename(T.<tmp> -> T); rm(T.old) — a crash leaves
        either both T and T.old (drop the old copy) or only T.old (restore
        it). Stale build dirs (``*.rewrite``/``*.compact`` next to a live
        table) are incomplete builds and are discarded.

        A hidden ``write_small`` temp file is a small-table write that
        crashed before its rename: the table never held it, so it goes.

        Runs on LOCK ACQUISITION, never unlocked: an unlocked recovery could
        "finish" a swap another process is legitimately mid-way through
        under the lock (restoring T.old while the owner is about to
        rename the build dir into place)."""
        for old in glob.glob(os.path.join(self.root, "*.old")):
            base = old[: -len(".old")]
            if os.path.isdir(base):
                shutil.rmtree(old)
            else:
                os.rename(old, base)
        for suffix in (".rewrite", ".compact"):
            for tmp in glob.glob(os.path.join(self.root, "*" + suffix)):
                if os.path.isdir(tmp[: -len(suffix)]):
                    shutil.rmtree(tmp)
        for tmp in glob.glob(os.path.join(self.root, "*", ".*" + _SMALL_TMP)):
            os.remove(tmp)

    def swap_in(self, name: str, build_dir: str) -> None:
        """Atomically-enough replace table ``name`` with the fully-built
        ``build_dir``: ``name`` is never absent without ``name.old`` present,
        so a crash at any point is recoverable on the next lock acquisition.
        Caller must hold the warehouse lock."""
        d = self.path(name)
        old = d + ".old"
        os.rename(d, old)
        os.rename(build_dir, d)
        shutil.rmtree(old)

    @contextlib.contextmanager
    def lock(self, timeout: float = 60.0, poll: float = 0.25):
        """Advisory exclusive lock on the warehouse dir.

        The reference locks its db dir with a ``db.lock`` file and a 60 s
        wait timeout (Directory.scala:140-170; RecordStorage.scala:40;
        unlock shutdown hook BigStorage.scala:360-372). Two overlapping
        ``update`` runs would otherwise interleave torn-write cleanup with
        each other's in-flight writes. A lock whose owner pid is dead is
        stolen (the crashed-process case the reference's shutdown hook
        can't cover).
        """
        lock_path = os.path.join(self.root, "db.lock")
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                owner = None
                alive = False
                try:
                    with open(lock_path) as f:
                        owner = int(f.read().strip() or "0")
                    os.kill(owner, 0)
                    alive = True
                except ProcessLookupError:
                    alive = False  # owner pid is gone: stale
                except PermissionError:
                    alive = True  # owner is alive under another uid
                except (OSError, ValueError):
                    alive = False  # unreadable/corrupt lock: stale
                if not alive:
                    # steal via rename: exactly ONE contender wins the
                    # rename (the loser gets FileNotFoundError and loops),
                    # closing the read-check-unlink TOCTOU where two
                    # waiters both "remove the stale lock" and both end up
                    # holding their own fresh one
                    stale = f"{lock_path}.stale-{os.getpid()}"
                    with contextlib.suppress(FileNotFoundError):
                        os.rename(lock_path, stale)
                        os.remove(stale)
                    continue
                if time.monotonic() >= deadline:
                    raise WarehouseLockTimeout(
                        f"{lock_path} held by pid {owner} after {timeout}s"
                    ) from None
                time.sleep(poll)
        try:
            self._recover_interrupted_writes()
            yield self
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock_path)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and first_parquet_file(p) is not None

    def read(self, name: str) -> DataFrame:
        return read_parquet(self.spark, self.path(name))

    def write_small(self, rows: list[tuple], schema_ddl: str, name: str, filename: str) -> None:
        """Append a tiny table (lineage/metrics rows) driver-side via pyarrow.

        A 2-row bookkeeping append costs ~3 s as a Spark job in local mode
        (job scheduling + committer); pyarrow writes it in milliseconds. The
        files are plain parquet parts, so ``read`` sees them like any other.

        The file is named by ``filename`` (the batch id), which makes the
        write idempotent: a reprocessed batch overwrites its own bookkeeping
        file instead of appending a duplicate row.

        Crash-atomic: the file is written under a hidden temp name in the
        same directory (skipped by Spark, pyarrow and ``_visible``) and
        renamed into place, so a crash leaves either no file or the whole
        one, never a torn file under the final name. The lineage file is
        a batch's commit record, so a crash before its rename leaves an
        uncommitted batch, which the torn-batch sweep reruns.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        _TYPES = {
            "string": pa.string(),
            "long": pa.int64(),
            "double": pa.float64(),
            "binary": pa.binary(),
            "date": pa.date32(),
            "timestamp": pa.timestamp("us", tz="UTC"),
        }
        fields = []
        for part in schema_ddl.split(","):
            col, typ = part.strip().rsplit(" ", 1)
            fields.append(pa.field(col, _TYPES[typ]))
        schema = pa.schema(fields)
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        tbl = pa.table({f.name: pa.array(list(c), f.type) for f, c in zip(schema, cols)})
        d = self.path(name)
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, f"part-{filename}.parquet")
        tmp = os.path.join(d, f".part-{filename}.parquet{_SMALL_TMP}")
        pq.write_table(tbl, tmp)
        os.replace(tmp, final)

    # -- archived (read-only) batches ------------------------------------
    # One id per line in <root>/archived_batches; `archive` marks every
    # compacted batch (the parquet-dir stand-in for the reference's readOnly
    # header byte, HeaderStorage.scala:242-275). Nothing rewrites a marked
    # batch: `update` only ever writes new batch ids. `get` reads the set
    # to resolve the keys that `archive` merged into `batch=archived`.

    def archived_batches(self) -> set[str]:
        p = os.path.join(self.root, "archived_batches")
        if not os.path.isfile(p):
            return set()
        with open(p) as f:
            return {line.strip() for line in f if line.strip()}

    def mark_archived(self, batch_ids) -> None:
        """Add batch ids to the read-only set; atomic replace."""
        ids = self.archived_batches() | set(batch_ids)
        p = os.path.join(self.root, "archived_batches")
        tmp = f"{p}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            f.write("".join(f"{i}\n" for i in sorted(ids)))
        os.replace(tmp, p)
