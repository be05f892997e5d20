"""Document-level dedup family for training-data pipelines.

Four near/exact-dup strategies over a ``documents(id, text)``-shaped frame,
each expressed scale-first:

- exact: fingerprint groupBy (one shuffle of (hash, id) pairs only);
- n-gram Jaccard: explode distinct shingles -> self-equi-join on shingle ->
  shared-count aggregation (never a cross join; co-partitioned by shingle);
- MinHash + LSH: k universal-hash minima per doc, computed per row with
  array expressions (no explode, no shuffle), banded bucket join for
  candidates, exact Jaccard verify on candidates only;
- SimHash: 64-bit signature via per-bit vote aggregation, near-dups by
  Hamming distance on bucketed signatures.

Hashing uses Spark's built-in xxhash64 (deterministic across runs and
clusters); MinHash and SimHash also take an ``md5`` base, the same math
the SQL oracles compute. No Python in any hot path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from log_server_spark.functions.text import fingerprint, word_ngrams, words
from log_server_spark.plan_util import spread_small_input

MERSENNE_P = (1 << 31) - 1

# the one definition of the per-token base hash, as SQL text over a column
# (or lambda variable) name ``{c}``: ``xxhash64`` (one JVM op, the
# production base) or ``md5`` (first 15 hex chars of md5 as an integer —
# computable identically in any engine with md5, the same math the SQL
# oracles compute). MinHash reduces it into [0, P); SimHash votes on its
# bits.
_BASE_HASH_SQL = {
    "xxhash64": "xxhash64({c})",
    "md5": "CAST(conv(substring(md5(encode({c}, 'UTF-8')), 1, 15), 16, 10) AS BIGINT)",
}


def _base_hash_sql(base: str, c: str) -> str:
    if base not in _BASE_HASH_SQL:
        raise ValueError(base)
    return _BASE_HASH_SQL[base].format(c=c)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """First-wins exact dedup by normalized-text fingerprint.

    Returns one row per distinct content: (fp, keeper id, dup_count).
    """
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("keeper_id"), (F.count("*") - 1).alias("dup_count"))
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard >= threshold.

    Shuffle profile: one explode + equi-join keyed by xxhash64(shingle) —
    an 8-byte shuffle key instead of the ~20-byte shingle string (distinct
    shingles per doc make a 64-bit collision affecting a shared-count
    ~2^-64 per shingle pair — immaterial next to the float rounding the
    jaccard already carries). Skew-prone shingles are rare after
    array_distinct; AQE skew-join covers the rest. The hashed shingle
    frame is persisted spill-safe because it has THREE consumers (both
    join sides + the per-doc sizes) — without it Catalyst re-runs the
    interpreted ngram explode per reference, the same measured trade the
    LSH operator makes (round 5; previously recomputed by design, revised
    on the same evidence that won in minhash_lsh_pairs).
    """
    # round 6: the per-doc distinct-shingle count rides ALONG the exploded
    # rows instead of being re-aggregated and joined back twice. The
    # per-doc (id, hs[], sz) frame is computed once (hashes via one
    # interpreted transform — CollapseProject keeps the gram array
    # materialized because its alias is referenced more than once) and
    # persisted; the explode below reads the cache for both join sides.
    # Carrying sz into the self-join enables the size-ratio prune:
    # jaccard = shared/(sz_a+sz_b-shared) <= min(sz)/max(sz), so a pair
    # with least(sz)/greatest(sz) below the threshold can NEVER pass the
    # final filter — dropping it before the pair-count aggregation is a
    # pure plan optimization (the 1e-4 slack covers the round(j, 4) the
    # output filter applies). Measured sf0.1 local[32]: pre-aggregation
    # pair rows 1.27M -> size-compatible subset only, cpu 30.8 -> ~8,
    # and the two sizes broadcast-joins disappear from the plan.
    # spread_small_input: shingling is an interpreted higher-order
    # expression (~µs/shingle), so a corpus that fits one parquet split
    # would otherwise run it on ONE core; at real scale the scan already
    # has >= cores partitions and the guard is a no-op
    per_doc = (
        spread_small_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(word_ngrams(text_col, n)).alias("g"),
        )
        .select("id", F.transform("g", lambda s: F.xxhash64(s)).alias("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sh = per_doc.select("id", F.size("hs").alias("sz"), F.explode("hs").alias("sh64"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "sh64")
    b = sh.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "sh64")
    slack = threshold - 1e-4
    shared = (
        a.join(b, "sh64")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b").cast("double")
                >= F.lit(slack) * F.greatest("sz_a", "sz_b").cast("double")
            )
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "jaccard")
    )
    return out


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """The fixed universal-hash family (a_i odd, b_i) shared by both the
    xxhash64 production base and the md5 oracle base."""
    out = []
    for i in range(num_hashes):
        a = 2 * (1103515245 * (i + 1) % MERSENNE_P) + 1
        b = (12345 + 987_654_321 * i) % MERSENNE_P
        out.append((a, b))
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    base: str = "xxhash64",
    delta_ids: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact n-gram Jaccard.

    Scale shape: candidates come from an equi-join on (band index, band key)
    — docs only meet if an entire band of minima matches — so the pair count
    is output-sensitive, never O(n^2). Verification joins candidates back to
    the shingle frame (semi-join pruned).

    Contract: the output contains only pairs with >= 1 shared shingle (the
    shared-count aggregation has inner-join semantics — a zero-overlap
    candidate drops out before the threshold filter rather than surfacing
    with jaccard=0.0). Invisible for any threshold > 0, which the jaccard
    filter requires to be meaningful; a caller who wants zero-overlap
    candidates for scoring should left-join ``candidates`` back with
    ``coalesce(shared, 0)``.

    INCREMENTAL mode (``delta_ids``: a one-column frame of ids): emit only
    pairs touching at least one delta doc — exactly the full output
    filtered to the delta (band matching is pairwise, so restricting one
    join side loses nothing else). This is the near-dup analogue of the
    pipeline's committed-keys anti-join: ingesting a batch checks it
    against the corpus AND itself without re-pairing committed docs, so
    the band join is O(corpus x delta) band rows, not O(corpus^2). At the
    100 TB point the committed side's signatures come from a stored
    signatures table (a ``minhash_signature_frame`` written at ingest, the
    same lifecycle as records_keys) instead of the recompute this
    reference-twin form does; the band join and verify are unchanged.
    """
    # threshold validation lives in minhash_lsh_pairs_from_signatures (the
    # delegate raises synchronously, before any job runs)
    # ONE signature pass: a per-row projection computes the k minima, the
    # distinct-shingle count, AND the doc's shingle-hash set (xxhash64 of
    # each distinct shingle). The per-doc frame is persisted spill-safe,
    # because it has two genuinely independent consumers — the band
    # self-join (left + right) and the verify join — and without a
    # persist Catalyst re-evaluates
    # the whole shingle+hash subplan per reference (measured in r4:
    # the second shingle pass was ~half the operator's 37 cpu-s). Column
    # pruning on the cached relation means the band join never decodes the
    # `shs` arrays; only the verify (candidate-volume-sized) reads them.
    # At the 100 TB point this cache is O(docs x num_shingle_hashes) longs
    # — MEMORY_AND_DISK spills it rather than recomputing two extra corpus
    # passes, the same trade a materialized intermediate table would make.
    sig = minhash_signature_frame(
        df, id_col, text_col, num_hashes=num_hashes, shingle_n=shingle_n, base=base
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return minhash_lsh_pairs_from_signatures(
        sig, bands=bands, threshold=threshold, delta_ids=delta_ids
    )


def minhash_signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    base: str = "xxhash64",
) -> DataFrame:
    """The (id, mh_0..mh_{k-1}, sz, shs) signature aggregate that
    :func:`minhash_lsh_pairs_from_signatures` consumes: k minima, the
    distinct-shingle count, and the doc's shingle-hash set. This is the
    frame a stored-signatures lifecycle writes per ingested batch
    (partitioned like records_keys) so later dedup runs never
    re-explode the committed corpus.

    Computed entirely PER ROW with array expressions (round 6, BOTH
    bases): base hashes via one ``transform`` over the distinct-shingle
    array, each minimum via ``array_min(transform(...))`` — so the whole
    signature is a map-only projection: no explode, no shuffle, no
    aggregate. Measured sf0.1 local[32] vs the round-5 explode+groupBy
    form: xxhash64 8.7 -> 3.7 cpu-s; md5 full-operator 32.6 -> 11.3
    cpu-s (wall 1.81 -> 1.36 s), and still ahead at a 20x corpus
    (signature-only 31.8 -> 23.1 cpu-s). The round-5 belief that the md5
    base should keep the explode+codegen-aggregate form was re-measured
    and reversed this round: the aggregate carried ``collect_list`` (a
    TypedImperativeAggregate), which forces the whole 18-function
    aggregate off the codegen hash-aggregate path, and THAT cost — not
    the interpreted-lambda md5 — dominated the comparison. One Exchange
    removed for every base.

    tests/test_round6.py asserts the per-row build agrees row-for-row
    with the explode+aggregate formulation for both bases (shs compared
    as sets — the array order differs, no consumer is order-sensitive).
    """
    # the docs-with-no-shingles drop (grams empty <=> fewer than n
    # words, incl. NULL/empty text) is expressed on the RAW text, not
    # as size(bs) > 0: a filter on the derived array would be pushed
    # below the spread Exchange and re-evaluate the whole gram+hash
    # chain on the scan's (single, at this corpus size) partition —
    # the §4.4-style duplicated-expression trap, caught in the plan
    d = (
        spread_small_input(df)
        .where(F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= shingle_n)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(word_ngrams(text_col, shingle_n)).alias("g"),
        )
    )
    # the hash projections are SQL text: one py4j command per selectExpr,
    # where the same lambdas built through the Column API cost hundreds
    # of driver round trips per signature (same expressions)
    d = d.selectExpr(
        "id",
        f"transform(g, s -> pmod({_base_hash_sql(base, 's')}, {MERSENNE_P})) AS bs",
        "transform(g, s -> xxhash64(s)) AS shs",
    )
    mins = [
        f"array_min(transform(bs, x -> pmod({a} * x + {b}, {MERSENNE_P}))) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    return d.selectExpr("id", *mins, "size(bs) AS sz", "shs")


def minhash_lsh_pairs_from_signatures(
    sig: DataFrame,
    bands: int = 4,
    threshold: float = 0.5,
    delta_ids: DataFrame | None = None,
) -> DataFrame:
    """The band-join + exact-verify stage of :func:`minhash_lsh_pairs`,
    decoupled from signature building — the STORED-SIGNATURES lifecycle at
    scale: signatures are written once per ingested batch (the same
    discipline as records_keys), and every later dedup run — full or
    incremental (``delta_ids``) — starts here, never re-exploding the
    committed corpus's shingles. ``sig`` needs columns
    (id, mh_0..mh_{k-1}, sz, shs) exactly as the signature aggregate in
    :func:`minhash_lsh_pairs` produces them (num_hashes is inferred from
    the mh_* columns); persisting/storing the frame is the caller's call —
    a table read is already materialized.
    """
    if threshold <= 0.0:
        raise ValueError(
            "threshold must be > 0: zero-overlap candidate pairs are not "
            "emitted (see minhash_lsh_pairs contract)"
        )
    if bands <= 0:
        raise ValueError(f"bands must be positive, got {bands}")
    num_hashes = sum(1 for c in sig.columns if c.startswith("mh_"))
    if num_hashes == 0 or num_hashes % bands != 0:
        raise ValueError(f"{num_hashes} mh_* columns not divisible into {bands} bands")
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        f"named_struct('band', {bi}, 'key', concat_ws('_', "
        + ", ".join(f"mh_{bi * rows_per_band + j}" for j in range(rows_per_band))
        + "))"
        for bi in range(bands)
    )
    banded = sig.selectExpr("id", "sz", f"inline(array({band_structs})) AS (band, key)")
    left = banded.selectExpr("id AS id_a", "sz AS sz_a", "band", "key")
    right = banded.selectExpr("id AS id_b", "sz AS sz_b", "band", "key")
    if delta_ids is None:
        candidates = (
            left.join(right, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sz_a", "sz_b")
            .distinct()
        )
    else:
        # one side of the band join shrinks to the delta (semi-join on its
        # ids); both orderings of a {delta, committed} pair survive via
        # id_a != id_b, then least/greatest canonicalizes before distinct
        d = delta_ids.select(F.col(delta_ids.columns[0]).alias("id_b")).distinct()
        candidates = (
            left.join(right.join(d, "id_b"), ["band", "key"])
            .filter(F.col("id_a") != F.col("id_b"))
            .selectExpr(
                "least(id_a, id_b) AS ia",
                "greatest(id_a, id_b) AS ib",
                "CASE WHEN id_a < id_b THEN sz_a ELSE sz_b END AS sa",
                "CASE WHEN id_a < id_b THEN sz_b ELSE sz_a END AS sb",
            )
            .selectExpr("ia AS id_a", "ib AS id_b", "sa AS sz_a", "sb AS sz_b")
            .distinct()
        )
    # size-ratio prune (round 6): jaccard <= min(sz)/max(sz), so a
    # candidate whose size ratio is below the threshold can never survive
    # the final filter — drop it BEFORE the verify explode/join (the 1e-4
    # slack covers the round(j, 4) the output filter applies). Pure
    # output-preserving pruning of the candidate-volume-sized stage.
    candidates = candidates.filter(
        F.least("sz_a", "sz_b").cast("double")
        >= F.lit(threshold - 1e-4) * F.greatest("sz_a", "sz_b").cast("double")
    )
    # exact verify (round 6): equi-join the candidate pairs to the CACHED
    # per-doc shingle-hash sets — once per side — and take the
    # intersection size PER ROW with ``array_intersect``. Replaces the
    # round-4 explode/count formulation (pair-doc explode -> join ->
    # shs explode -> two grouped aggregations = 2 extra Exchanges): the
    # intersection of two distinct-element arrays is exactly the "seen
    # from both sides" count the old aggregation computed, but as pure
    # per-row compute on the candidate-volume-sized frame — no shuffle of
    # shingle rows at all. (Measured sf0.1 local[32]: 2 Exchanges + 2
    # Generates removed from the verify subplan.) Everything downstream
    # of the band join stays sized by the CANDIDATE volume.
    a = sig.selectExpr("id AS id_a", "shs AS __shs_a")
    b = sig.selectExpr("id AS id_b", "shs AS __shs_b")
    scored = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            "size(array_intersect(__shs_a, __shs_b)) AS shared",
        )
    )
    return (
        scored.selectExpr(
            "id_a",
            "id_b",
            "round(shared / CAST(sz_a + sz_b - shared AS DOUBLE), 4) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def components_from_pairs(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    rounds: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of a near-dup pair graph: every node labeled
    with the SMALLEST id reachable through pairs — the "keep one per
    near-dup group" primitive that turns pairwise dedup output into actual
    drop decisions. Returns (node, lbl).

    Pointer-jumping min-label propagation: each round takes the min label
    over neighbors (one equi-join + partial-agg groupBy on node id) and
    then jumps ``lbl <- lbl(lbl)`` (one self-equi-join). The jump
    shortens propagation where ids increase along a path (the default 6
    rounds close a 70-node chain numbered in order), but not in general:
    a node learns a smaller label only from a neighbour, and a sparse
    random 40-node graph needed 8 rounds, a shuffled 70-node chain more
    than 12. Near-dup clusters are near-cliques (every pair of clones
    shares the same shingles, so diameter 1-2) and close in a round or
    two. For general graphs raise ``rounds`` — the loop stops after the
    first round that leaves every edge inside one label, so the cap costs
    nothing once a graph converges — or switch to large-star/small-star.

    Iterative-algorithm plumbing, the standard Spark idiom (GraphFrames
    does the same): every round checkpoints the label frame. Each round
    references the previous labels TWICE (neighbor join + pointer jump),
    so without lineage truncation the plan tree doubles per round —
    2^rounds copies of the pair-generator subplan, which blows up
    Catalyst's tree traversals (measured: OOM in plan-string generation at
    rounds=6). The checkpoint materializes O(V) (long, long) rows on the
    EXECUTORS — nothing lands on the driver — and each round's shuffle is
    O(V + E) label rows, never the documents themselves.

    Fault model: ``localCheckpoint`` (the default) stores blocks only on
    executors — fast, but a lost executor mid-job makes the truncated
    lineage unrecoverable, so on an hours-long 100 TB cluster run pass
    ``checkpoint_dir`` (any shared path — HDFS/S3) to use RELIABLE
    ``checkpoint()`` instead: same labels, each round's frame persisted to
    storage and recomputable after node loss. Callers can wire it via env
    (see ``q_dedup_clusters``).
    """

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            # LAZY local checkpoint (round 6): materialization folds into
            # the round's convergence-test action instead of an eager job
            # per checkpoint — one Spark job per round, not three. The
            # implicit persist localCheckpoint carries means the frame
            # still computes once even when the round references it twice
            # before the action lands.
            return df.localCheckpoint(eager=False)
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        # reliable checkpoints stay EAGER: a lazy reliable checkpoint
        # recomputes the frame to write it at first action (no implicit
        # persist), and the fault-tolerance contract wants the write to
        # happen deterministically per round
        return df.checkpoint()

    # checkpoint the DIRECTED pair list first, then mirror the
    # materialized frame (round 6): the previous
    # ``ckpt(e union reverse(e))`` referenced the pair-generator subplan
    # twice inside one job, so the entire LSH band-join + verify ran
    # twice before the first checkpoint. Mirroring after materialization
    # evaluates the generator once; re-deriving the union from the
    # checkpointed frame each round is an O(E) map over stored rows.
    e = _ckpt(pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lab = ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("lbl"))
    # convergence: stop at the FIRST round after which no edge joins two
    # different labels. That is exactly the fixed point: edges are
    # symmetric, so a fixed point has lbl(u) = lbl(v) on every edge; and
    # labels are ids from the node's own component that never exceed the
    # node's id, so a component carrying one label carries its minimum
    # id. A graph that converges in round r stops after r rounds (an
    # unchanged-label test needs round r+1 to see it). Edges with an
    # endpoint outside ``ids`` drop out of the inner joins, as they do
    # from the propagation: such a node never gets a label and no path
    # runs through it. `rounds` stays the upper bound; the last round
    # skips the test, its labels are returned regardless.
    for r in range(rounds):
        nbr = (
            edges.join(lab.withColumnsRenamed({"node": "dst", "lbl": "nlbl"}), "dst")
            .groupBy("src")
            .agg(F.min("nlbl").alias("nlbl"))
            .withColumnRenamed("src", "node")
        )
        lab = _ckpt(
            lab.join(nbr, "node", "left")
            .select("node", F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"))
        )
        # pointer jump: labels are always real node ids, so lbl(lbl) exists
        # and is <= lbl (labels only ever decrease from the node id)
        jump = lab.select(F.col("node").alias("lbl"), F.col("lbl").alias("jlbl"))
        lab = _ckpt(lab.join(jump, "lbl").select("node", F.col("jlbl").alias("lbl")))
        if r + 1 < rounds and (
            e.join(lab.selectExpr("node AS src", "lbl AS l1"), "src")
            .join(lab.selectExpr("node AS dst", "lbl AS l2"), "dst")
            .where("l1 <> l2")
            .isEmpty()
        ):
            break
    return lab


def simhash64(df: DataFrame, id_col: str, text_col: str, base: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over word hashes."""
    w = spread_small_input(df).select(
        F.col(id_col).alias("id"),
        F.explode(words(F.trim(F.col(text_col)))).alias("w"),
    ).withColumn("h", F.expr(_base_hash_sql(base, "w")))
    votes = w.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(63)  # bit 63 is the sign bit; skip to stay ANSI-safe
        ]
    )
    sim = reduce(
        lambda acc, b: acc.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        ),
        range(63),
        F.lit(0).cast("long"),
    )
    return votes.select("id", sim.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, base: str = "xxhash64"
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation is exact by pigeonhole: the 63-bit signature is cut
    into ``max_hamming + 1`` blocks, so any pair within the radius agrees on
    at least one whole block; candidates equi-join on (block idx, block
    bits) and are verified by popcount. Block count scales with the radius —
    wider radius = more blocks = more candidates, never missed pairs.

    ``width`` must be ceil(63 / n_blocks): rounding up from floor(63/n)+1
    (the round-1 bug) made the last block start past bit 63 whenever
    n_blocks divides into 63 unevenly enough — fewer *effective* blocks
    than the pigeonhole needs, i.e. missed pairs at the radius boundary
    (and a 64-bit shift that the JVM wraps to 0).
    """
    n_blocks = max_hamming + 1
    width = -(-63 // n_blocks)
    # persisted: the signature subplan (a full per-bit vote aggregation
    # over the corpus) feeds BOTH sides of the block self-join below —
    # same three-consumer trade as ngram_jaccard_pairs/minhash_lsh_pairs,
    # O(docs x 1 long) cache, spill-safe
    sig = simhash64(df, id_col, text_col, base=base).persist(StorageLevel.MEMORY_AND_DISK)
    blocks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("simhash", width * i)
                        .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                        .alias("key"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    left = blocks.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "key")
    right = blocks.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "key")
    cand = (
        left.join(right, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    segs_col: str = "segs",
    join_sep: str = " ",
) -> DataFrame:
    """Corpus-wide SEGMENT-level dedup — the line/paragraph dedup of the
    C4 / RefinedWeb recipes: every segment (line, paragraph, fixed token
    window — whatever split produced ``segs_col: array<string>``) that
    appears anywhere else in the corpus keeps exactly its FIRST occurrence
    (smallest (doc id, position)), and each document is reassembled from
    its surviving segments in original order.

    Output: (id_col, text_dedup string, n_segs_kept long). Documents whose
    every segment lost disappear from the output (nothing left to keep).

    Scale shape: posexplode (no shuffle) -> groupBy(segment) with a
    ``min(struct(id, pos))`` partial aggregate — boilerplate-hot segments
    ("Home | About | Contact" at web scale) collapse MAP-SIDE to one
    candidate winner per task before the shuffle — -> equi-join the
    winners back (each row meets exactly one winner row; AQE skew-join
    splits the hot segment's probe side) -> one groupBy(id) to
    reassemble. Three keyed shuffles total, no window sort: the
    row_number() formulation would sort every hot segment's full
    occurrence list on one reducer.
    """
    p = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(segs_col)).alias("pos", "seg"),
    )
    winners = p.groupBy("seg").agg(F.min(F.struct("id", "pos")).alias("w"))
    keep = (
        p.join(winners, "seg")
        .where((F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos")))
        .select("id", "pos", "seg")
    )
    return (
        keep.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda x: x["seg"],
                ),
                join_sep,
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_segs_kept"),
        )
        .select(F.col("id").alias(id_col), "text_dedup", "n_segs_kept")
    )


def contamination_flags(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    ngram_n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark DECONTAMINATION (the GPT-3/PaLM recipe): flag every
    training document that shares >= ``min_hits`` distinct word n-grams
    with an evaluation set, so eval material can be dropped from the
    training mix. Returns the doc frame's (id, n_hits, contaminated).

    Scale shape: the eval side is tiny relative to a 10^12-doc corpus —
    its distinct n-gram set is BROADCAST, so the corpus-side explode
    flows map-only into a broadcast-hash semi-probe and the only shuffle
    is the per-doc hit-count aggregation (O(matching grams), output-
    sensitive). ``array_distinct`` runs per row before the explode; a
    doc repeating one contaminated 13-gram a thousand times costs one
    probe row. The standard n is 13 (512-token eval windows); lower it
    for short-form eval sets.
    """
    from pyspark.sql.functions import broadcast

    d = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(word_ngrams(F.lower(F.col(text_col)), ngram_n))
        ).alias("g"),
    )
    b = (
        bench.select(
            F.explode(
                F.array_distinct(word_ngrams(F.lower(F.col(bench_text_col)), ngram_n))
            ).alias("g")
        )
        .distinct()
    )
    hits = d.join(broadcast(b), "g").groupBy("id").agg(
        F.count_distinct("g").alias("n_hits")
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def substring_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_n: int = 12,
    max_df: int | None = None,
) -> DataFrame:
    """Exact-substring duplicate pairs: (id_a, id_b, shared_windows) for
    every doc pair sharing at least one run of ``window_n`` consecutive
    lowercase whitespace tokens — the within-corpus form of the
    train-on-test probe (`contamination_flags`), and the distributed
    restatement of suffix-based substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a suffix array is a
    single-machine index, but "share a >=K-token run" is exactly "share a
    K-token window", which is one explode + one equi-join in Spark.

    Scale shape: windows are keyed by ``md5`` (128-bit) so the self-join
    shuffles 16-byte hex keys, never the window text — at the 10^12-doc
    design point the corpus holds ~10^15 windows, past a 64-bit key's
    birthday bound, while 128 bits stays collision-free. ``array_distinct``
    runs per row BEFORE the explode (repeated boilerplate inside one doc
    costs one row). The pair aggregation is output-sensitive: count(*) per
    (a, b) after the join IS the distinct shared-window count because each
    side emits each window once per doc.

    A window shared by k docs emits k*(k-1)/2 pairs — that is the answer,
    not an artifact, but corpus-wide boilerplate (headers, licenses) can
    make k huge while signalling nothing. ``max_df`` drops windows whose
    document frequency exceeds it (one output-sensitive pre-aggregation on
    the same key) — the standard boilerplate guard at scale; the default
    ``None`` keeps exact semantics for the oracle.
    """
    # round 6: spread_small_input guard (without it a corpus that fits one
    # parquet split runs the interpreted window explode on ONE core —
    # measured 5.6 s wall at sf0.1) + persist, because the hashed-window frame
    # feeds BOTH sides of the self-join (and the max_df pre-aggregation):
    # without the cache each consumer re-runs the whole explode — the
    # same measured trade ngram_jaccard_pairs/minhash_lsh_pairs make.
    wins = spread_small_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_ngrams(F.lower(F.trim(F.col(text_col))), window_n))
        ).alias("w"),
    ).select("doc_id", F.md5("w").alias("h")).persist(StorageLevel.MEMORY_AND_DISK)
    if max_df is not None:
        keep = wins.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
        wins = wins.join(keep.where(F.col("df_") <= max_df).select("h"), "h")
    a, b = wins.alias("a"), wins.alias("b")
    return (
        a.join(b, "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )
