"""Record deduplication — the reference's first-writer-wins hash dedup.

Reference semantics (SURVEY.md A5/J1; BigStorage.scala:316-333,
HeaderStorage.scala:99-114): a record is a duplicate iff an already-stored
record has the same ``(normalized_table, id, content_hash)``; the FIRST
occurrence in deterministic source order wins; later records with the same
key but different content are all kept (not last-write-wins).

Spark restatement, scale-first:

- **in-batch**: ``min_by(whole row, order tuple)`` grouped by the dedup
  key keeps exactly one row per key. This is a DETERMINISTIC tie-break (a
  bare ``dropDuplicates`` would be nondeterministic under parallel scan
  order), not byte-level source-order parity with the reference's O4
  guarantee: when one dedup key appears under different urls, the
  lexicographically-first url wins here, whereas the reference keeps the
  first in sorted-file/row order. Provenance columns of the survivor can
  differ; the surviving KEY set is identical. The aggregate formulation
  replaces a ``row_number`` window (round 1-3): the window cost a full
  shuffle + per-partition SORT and moved every duplicate row across the
  wire, while the hash aggregate collapses duplicates map-side BEFORE the
  shuffle and never sorts — measured ~8 s of a ~50 s 240k-page batch at
  local[1], and strictly less shuffle on a dup-heavy corpus. The
  tie-break is identical because the order tuple (url, warc_ts, seq) is
  unique per row and struct comparison is lexicographic, same as ORDER BY.
- **cross-batch**: a left-anti join of the incoming batch against the
  committed key projection. At 100 TB the committed side is pruned to the
  incoming batch's record-ts (``ts_millis``) day range before the join —
  sound because the content hash folds ts_millis, and it is the same
  timestamp-range probe gate the reference applies per segment
  (BigStorage.scala:30) — and AQE's skew-join handles hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEDUP_KEY = ["table", "record_id", "record_hash"]


def dedup_in_batch(df: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """First-wins per dedup key within one batch, deterministically.

    ObjectHashAggregate, not a window: duplicates collapse in the partial
    (map-side) aggregate, the shuffle carries one row per key, and nothing
    sorts. Equivalent to ``row_number() over (partition by key order by
    order_cols) = 1`` because the order tuple is unique per row.

    CONTRACT: ``order_cols`` must be unique per row within a dedup-key
    group ((url, warc_ts, seq) and (url, seq) both are — url+seq identify
    a record). With ties, the min picks an arbitrary winner, and
    split_duplicates' window-derived ``dups`` complement could disagree
    with ``kept`` about which row won.

    Round 6: ``min(struct(order, row))`` instead of ``min_by(row, order)``
    — same winner (the order tuple is unique per group, so the
    lexicographic struct comparison never reaches the row payload), but
    ``min`` is a declarative aggregate while ``min_by`` is a
    TypedImperativeAggregate that serializes its buffer per partial/merge
    row (struct-typed buffers keep both forms in sort/object-based
    aggregation — the justification is the measurement, not a codegen
    claim). Measured (sf0.1 synth corpus, local[32]): the dedup
    aggregate's share dropped ~36% cpu (13.9 -> 8.9 cpu-s over the same
    persisted parse input).

    The output keeps the grouping columns themselves (not their copies
    inside the winning row), so it stays hash-partitioned on ``DEDUP_KEY``
    and a following key-equi-join (``anti_join_committed``) reuses the
    aggregate's shuffle instead of shuffling the full-width rows again.
    """
    order_cols = order_cols or ["url", "warc_ts", "seq"]
    row = F.struct(*[F.col(c) for c in df.columns])
    ordk = F.struct(*[F.col(c) for c in order_cols])
    return (
        df.groupBy(*DEDUP_KEY)
        .agg(F.min(F.struct(ordk.alias("k"), row.alias("r"))).alias("_p"))
        .select(*[c if c in DEDUP_KEY else F.col(f"_p.r.{c}").alias(c) for c in df.columns])
    )


def anti_join_committed(batch: DataFrame, committed_keys: DataFrame | None) -> DataFrame:
    """Drop rows whose dedup key already exists in the committed store.

    ``committed_keys`` must have exactly the DEDUP_KEY columns (a cheap
    column-pruned scan of the sink — parquet/Iceberg reads just 3 columns).
    It is not de-duplicated first: a left-anti join's result does not
    depend on how many times a key appears on the right.
    """
    if committed_keys is None:
        return batch
    return batch.join(committed_keys.select(*DEDUP_KEY), on=DEDUP_KEY, how="left_anti")


def split_duplicates(df: DataFrame, order_cols: list[str] | None = None):
    """Return (kept, dups). ``kept`` is the hash-aggregate first-wins set
    (see dedup_in_batch — this is what the pipeline consumes; dup COUNTS
    come from the ingest observe metrics, not this frame). ``dups`` is the
    complementary row set via the row_number window, built lazily for
    callers that need the actual duplicate rows (none in the pipeline hot
    path — keep it out of jobs you care about)."""
    order_cols = order_cols or ["url", "warc_ts", "seq"]
    w = Window.partitionBy(*DEDUP_KEY).orderBy(*[F.col(c).asc() for c in order_cols])
    dups = (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") > 1).drop("_rn")
    )
    return dedup_in_batch(df, order_cols), dups
