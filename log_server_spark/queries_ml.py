"""Training-data-pipeline queries (dedup / similarity / text / multimodal).

Same contract as queries.py: Spark impl + DuckDB oracle with identical
column names. Round 2 upgraded the LSH family (MinHash banding, SimHash
block-join, Rademacher-plane ANN) to value-checked oracles: the base hashes
switch to md5-derived integers (computable identically in any engine) and
the ANN hyperplanes to deterministic ±1 vectors whose projections are plain
left-folds of double adds — bit-for-bit reproducible across engines.
``multimodal_features`` pins the byte-stats kernel (pixel=False), so every
entry in this module is value-checked; the PIL pixel kernel stays
pytest-verified (it is an environment-dependent codec, not SQL).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_server_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprint,
    langid,
    quality_features,
    token_count,
)
from log_server_spark.operators.dedup_text import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from log_server_spark.operators.multimodal import extract_features, media_from_documents
from log_server_spark.plan_util import spread_small_input
from log_server_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    kmeans_assign,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- text analysis ---------------------------------------------------------

def q_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
FROM documents
"""


def q_quality_score(spark, sf_dir):
    # map-only with interpreted stopword-filter lambdas: spread (see
    # q_langid; measured 0.44 -> 0.19 wall)
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    feats = quality_features("text")
    return docs.select(
        "doc_id",
        feats["n_chars"].cast("long").alias("n_chars_q"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        feats["space_ratio"].alias("space_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_word_len"].alias("mean_word_len"),
    )


_SW = ",".join(f"'{w}'" for w in STOPWORDS_EN)
SQL_QUALITY_SCORE = rf"""
SELECT doc_id,
  length(text) AS n_chars_q,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
  round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / nullif(length(text), 0)::DOUBLE, 4) AS punct_ratio,
  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / nullif(length(text), 0)::DOUBLE, 4) AS digit_ratio,
  round((length(text) - length(regexp_replace(text, '\s', '', 'g'))) / nullif(length(text), 0)::DOUBLE, 4) AS space_ratio,
  round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x IN ({_SW})))
        / nullif(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 0)::DOUBLE, 4) AS stopword_ratio,
  round(length(regexp_replace(text, '\s', '', 'g'))
        / nullif(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 0)::DOUBLE, 4) AS mean_word_len
FROM documents
"""


def q_langid(spark, sf_dir):
    # heavy interpreted per-row lambdas on a map-only plan: spread the
    # single-split local scan so they run on every core (no-op at scale;
    # measured sf0.1 local[32] wall 0.46 -> 0.23)
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", langid("text").alias("lang_guess"))


def _langid_sql() -> str:
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    scores = {
        lang: f"len(list_filter({toks}, x -> x IN ({','.join(repr(m) for m in ms)})))"
        for lang, ms in sorted(LANG_MARKERS.items())
    }
    best = "greatest(" + ",".join(scores.values()) + ")"
    # mirror the Spark when-chain: iterate langs reverse-sorted, so the
    # FIRST lang in sort order wins ties (the last .when wrapping wins)
    expr = "'und'"
    for lang in sorted(LANG_MARKERS.keys(), reverse=True):
        expr = f"CASE WHEN {scores[lang]} = {best} AND {best} > 0 THEN '{lang}' ELSE {expr} END"
    return f"SELECT doc_id, {expr} AS lang_guess FROM documents"


SQL_LANGID = _langid_sql()


def q_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


SQL_FINGERPRINT = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


# --- dedup family ----------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text").select(
        "fp", F.col("keeper_id").alias("keeper_id"), F.col("dup_count").alias("dup_count")
    )


SQL_DEDUP_EXACT = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keeper_id, count(*) - 1 AS dup_count
FROM documents GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.3
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


SQL_DEDUP_NGRAM_JACCARD = r"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(w) - 2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
  WHERE len(w) >= 3
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, shared,
       round(shared / (x.sz + y.sz - shared)::DOUBLE, 4) AS jaccard
FROM shared JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE round(shared / (x.sz + y.sz - shared)::DOUBLE, 4) >= 0.3
"""


def q_minhash_signatures(spark, sf_dir):
    """Oracle-checkable MinHash: md5-based base hash, identical math in SQL."""
    from log_server_spark.operators.dedup_text import minhash_signature_frame

    return minhash_signature_frame(
        _t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=8, shingle_n=3, base="md5"
    ).select(F.col("id").alias("doc_id"), *[f"mh_{i}" for i in range(8)])


def _minhash_sql(num_hashes: int = 8) -> str:
    from log_server_spark.operators.dedup_text import MERSENNE_P, minhash_coefficients

    base = (
        "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % " + str(MERSENNE_P)
    )
    mins = ",\n       ".join(
        f"min(({a} * ({base}) + {b}) % {MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    )
    return rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(w) - 2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
  WHERE len(w) >= 3
)
SELECT doc_id, {mins}
FROM sh GROUP BY doc_id
"""


SQL_MINHASH_SIGNATURES = _minhash_sql()


def q_dedup_minhash_lsh(spark, sf_dir):
    """Oracle-checked banded MinHash-LSH: md5-based base hash (identical
    math in SQL), band keys = concatenated per-band minima, candidates from
    the (band, key) equi-join, exact Jaccard verify on candidates only."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=8, shingle_n=3, threshold=0.5, base="md5",
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


def _minhash_lsh_sql(num_hashes: int = 16, bands: int = 8, threshold: float = 0.5) -> str:
    from log_server_spark.operators.dedup_text import MERSENNE_P, minhash_coefficients

    rpb = num_hashes // bands
    base = "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % " + str(MERSENNE_P)
    mins = ",\n       ".join(
        f"min(({a} * ({base}) + {b}) % {MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {bi} AS band, "
        + " || '_' || ".join(f"CAST(mh_{bi * rpb + j} AS VARCHAR)" for j in range(rpb))
        + " AS key FROM sig"
        for bi in range(bands)
    )
    return rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(w) - 2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
  WHERE len(w) >= 3
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, key)
  WHERE a.doc_id < b.doc_id
),
shared AS (
  SELECT doc_a, doc_b, count(*) AS shared
  FROM cand c JOIN sh x ON x.doc_id = c.doc_a
              JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(shared / (x.sz + y.sz - shared)::DOUBLE, 4) AS jaccard
FROM shared JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE round(shared / (x.sz + y.sz - shared)::DOUBLE, 4) >= {threshold}
"""


SQL_DEDUP_MINHASH_LSH = _minhash_lsh_sql()


def q_dedup_simhash(spark, sf_dir):
    """Oracle-checked SimHash near-dup: md5-based word hash, pigeonhole
    block-join candidates, popcount verify."""
    return simhash_neardup_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=8, base="md5"
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


def _simhash_sql(max_hamming: int = 8) -> str:
    n_blocks = max_hamming + 1
    width = -(-63 // n_blocks)
    h = "CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)"
    votes = ",\n         ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(63)
    )
    sim = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(63)
    )
    blocks = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS blk, (simhash >> {width * i}) & {(1 << width) - 1} AS key FROM sig"
        for i in range(n_blocks)
    )
    return rf"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM w GROUP BY doc_id
),
sig AS (SELECT doc_id, {sim} AS simhash FROM votes),
blocks AS (
{blocks}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM blocks a JOIN blocks b USING (blk, key)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


SQL_DEDUP_SIMHASH = _simhash_sql()


# --- embedding similarity ---------------------------------------------------

def q_embedding_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5), k=3
    )


SQL_EMBEDDING_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings WHERE vec_id >= 5),
     s AS (SELECT qid, nid,
        list_sum(list_transform(generate_series(1, len(qe)),
                 i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS dot,
        sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        FROM q, c)
SELECT qid AS query_id, nid AS neighbor_id,
       row_number() OVER (PARTITION BY qid ORDER BY dot/(nq*nc) DESC, nid) AS rank,
       round(dot/(nq*nc), 4) AS cosine_r
FROM s QUALIFY rank <= 3
"""


def q_embedding_neardup(spark, sf_dir):
    return cosine_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


SQL_EMBEDDING_NEARDUP = """
WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
     p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_sum(list_transform(generate_series(1, len(a.e)),
                 i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(a.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(b.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM v a, v b WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cos, 4) AS cosine_r FROM p WHERE cos >= 0.45
"""


def q_embedding_ann_lsh(spark, sf_dir):
    """Oracle-checked ANN: Rademacher-plane LSH buckets (engine-portable
    deterministic projections) + multi-probe + exact cosine in-bucket."""
    from log_server_spark.operators.similarity import ann_rademacher_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_rademacher_topk(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5),
        dim=64, k=3, bits=6, probes=2,
    )


def _ann_sql(dim: int = 64, k: int = 3, bits: int = 6, probes: int = 2) -> str:
    from log_server_spark.operators.similarity import _probe_masks, _rademacher_signs

    signs = _rademacher_signs(dim, bits)

    def bucket(e: str) -> str:
        terms = []
        for j in range(bits):
            lst = "[" + ", ".join(f"{float(s):.1f}" for s in signs[j]) + "]"
            proj = (
                f"list_reduce(list_transform(generate_series(1, {dim}), "
                f"i -> CAST({e}[i] AS DOUBLE) * ({lst})[i]), (a, b) -> a + b)"
            )
            terms.append(f"CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END")
        return "(" + " + ".join(terms) + ")"

    masks = ", ".join(str(m) for m in _probe_masks(bits, probes))
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe, {bucket('embedding')} AS qb
           FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS neighbor_id, embedding AS ce, {bucket('embedding')} AS cb
           FROM embeddings WHERE vec_id >= 5),
     pq0 AS (SELECT query_id, qe, qb, unnest([{masks}]) AS m FROM q),
     pq AS (SELECT query_id, qe, xor(qb, m) AS bkt FROM pq0),
     cand AS (SELECT query_id, qe, neighbor_id, ce FROM pq JOIN c ON c.cb = pq.bkt),
     s AS (SELECT query_id, neighbor_id,
        list_sum(list_transform(generate_series(1, len(qe)),
                 i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS dot,
        sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        FROM cand)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY dot/(nq*nc) DESC, neighbor_id) AS rank,
       round(dot/(nq*nc), 4) AS cosine_r
FROM s QUALIFY rank <= {k}
"""


SQL_EMBEDDING_ANN_LSH = _ann_sql()


def q_embedding_ann_ivf(spark, sf_dir):
    """Oracle-checked IVF ANN: deterministic coarse quantizer (corpus-sample
    centroids), max-cosine assignment, nprobe inverted-list probe."""
    from log_server_spark.operators.similarity import ann_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivf_topk(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5), k=3, nprobe=2
    )


def _ivf_sql(k: int = 3, nprobe: int = 2, mod: int = 97, rem: int = 5) -> str:
    # every float reduction is a left fold (list_reduce) over the stored
    # element order — bit-identical to the Spark aggregate() expressions
    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, len({a})), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
        )

    def nrm(a: str) -> str:
        return (
            f"sqrt(list_reduce(list_transform({a}, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), "
            f"(x, y) -> x + y))"
        )

    return f"""
WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
              WHERE vec_id >= 5 AND vec_id % {mod} = {rem}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
lists AS (
  SELECT neighbor_id, cv, cent_id FROM (
    SELECT neighbor_id, cv, cent_id,
           row_number() OVER (PARTITION BY neighbor_id
                              ORDER BY {dot('cv', 'ce')} / ({nrm('cv')} * {nrm('ce')}) DESC,
                                       cent_id ASC) AS r
    FROM c, cent) WHERE r = 1
),
probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT query_id, qv, cent_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {dot('qv', 'ce')} / ({nrm('qv')} * {nrm('ce')}) DESC,
                                       cent_id ASC) AS r
    FROM q, cent) WHERE r <= {nprobe}
),
s AS (
  SELECT query_id, neighbor_id,
         {dot('qv', 'cv')} / ({nrm('qv')} * {nrm('cv')}) AS cos
  FROM lists JOIN probes USING (cent_id)
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
       round(cos, 4) AS cosine_r
FROM s QUALIFY rank <= {k}
"""


SQL_EMBEDDING_ANN_IVF = _ivf_sql()


# --- multimodal plumbing -----------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Binary payload metadata, fully JVM-side (octet length + sha2)."""
    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
    )


SQL_MULTIMODAL_META = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS payload_sha
FROM documents
"""


def q_multimodal_features(spark, sf_dir):
    """Feature extraction with the byte-stats kernel pinned (pixel=False) —
    deterministic in any environment, so the full mapInPandas plumbing
    (schema/batching/UDF signature) gets a DuckDB value check. The
    PIL-gated pixel kernel stays pytest territory (test_round2's fake-PIL
    branch tests)."""
    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return extract_features(media, pixel=False)


# byte-stats replay: payload bytes via hex(encode(text)) — per-BYTE values
# (substr is char-based; hex pairs are byte-based), mean/std over them.
# numpy .std() is the population std => stddev_pop.
SQL_MULTIMODAL_FEATURES = """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         hex(encode(text)) AS h,
         octet_length(encode(text)) AS n,
         sha256(text) AS sha
  FROM documents
),
bytes AS (
  SELECT media_id,
         (strpos('0123456789ABCDEF', substr(h, 2 * i - 1, 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substr(h, 2 * i, 1)) - 1) AS b
  FROM m, unnest(generate_series(1, CASE WHEN n = 0 THEN 1 ELSE n END)) AS t(i)
  WHERE n > 0
),
stats AS (
  SELECT media_id, avg(b) AS mean_b, coalesce(stddev_pop(b), 0.0) AS std_b
  FROM bytes GROUP BY media_id
)
SELECT m.media_id, m.kind,
       CAST(m.n AS BIGINT) AS n_bytes,
       m.sha AS sha256,
       round(coalesce(s.mean_b, 0.0), 4) AS feat_mean,
       round(coalesce(s.std_b, 0.0), 4) AS feat_std,
       CAST(32 AS INTEGER) AS thumb_w,
       CAST(32 AS INTEGER) AS thumb_h
FROM m LEFT JOIN stats s USING (media_id)
"""


# --- composite corpus filter (the training-data headline pipeline) ----------

def q_corpus_filter(spark, sf_dir):
    """Quality-gate + exact-dedup a document corpus in one plan: the
    canonical pretraining-data filter (quality thresholds -> first-wins
    dedup by normalized fingerprint)."""
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features("text")
    gated = docs.select(
        "doc_id", "lang", fingerprint("text").alias("fp"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_word_len"].alias("mwl"),
    ).filter((F.col("n_tokens") >= 30) & (F.col("mwl") >= 3.0) & (F.col("mwl") <= 12.0))
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )


SQL_CORPUS_FILTER = r"""
WITH gated AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         round(length(regexp_replace(text, '\s', '', 'g'))
               / nullif(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 0)::DOUBLE, 4) AS mwl
  FROM documents
)
SELECT doc_id, lang, n_tokens
FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM gated WHERE n_tokens >= 30 AND mwl >= 3.0 AND mwl <= 12.0)
WHERE rn = 1
"""




# --- privacy + chunking (training-data pipeline staples) ---------------------

def q_pii_scrub(spark, sf_dir):
    """PII redaction pass: plant deterministic emails/phones/IPs into each
    doc (both engines build the identical string from doc_id), then scrub
    with the chained codegen regexes and count per-class hits. Patterns are
    ASCII-class-only, where Java regex and RE2 agree."""
    from log_server_spark.functions.text import pii_counts, pii_scrub

    # chained global regexes over full docs, map-only: spread (see
    # q_langid; measured 0.31 -> 0.10 wall steady-state)
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    planted = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@test.org or +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 end"),
        ).alias("txt"),
    )
    counts = pii_counts("txt")
    return planted.select(
        "doc_id",
        pii_scrub("txt").alias("clean_text"),
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ip"),
    )


def _pii_sql() -> str:
    from log_server_spark.functions.text import PII_RULES

    rules = {name: (pat, repl) for name, pat, repl in PII_RULES}
    e_pat, e_rep = rules["email"]
    p_pat, p_rep = rules["phone"]
    i_pat, i_rep = rules["ipv4"]
    return f"""
WITH planted AS (
  SELECT doc_id,
         coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@test.org or +1 (555) 010-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end' AS txt
  FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(txt, '{e_pat}')) AS BIGINT) AS n_email,
         regexp_replace(txt, '{e_pat}', '{e_rep}', 'g') AS t
  FROM planted
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t, '{p_pat}')) AS BIGINT) AS n_phone,
         regexp_replace(t, '{p_pat}', '{p_rep}', 'g') AS t
  FROM s1
)
SELECT doc_id,
       regexp_replace(t, '{i_pat}', '{i_rep}', 'g') AS clean_text,
       n_email, n_phone,
       CAST(len(regexp_extract_all(t, '{i_pat}')) AS BIGINT) AS n_ip
FROM s2
"""


SQL_PII_SCRUB = _pii_sql()


def q_token_chunks(spark, sf_dir):
    """Context-window chunker: 64-token windows every 48 tokens (16-token
    overlap), final partial window kept — what a pretraining pipeline feeds
    its tokenizer from. Pure codegen; one row per chunk."""
    from log_server_spark.functions.text import token_chunks, token_count

    # interpreted transform/slice chunker, map-only: spread (see q_langid)
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    ch = docs.select(
        "doc_id", F.explode(token_chunks("text", size=64, overlap=16)).alias("c")
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_id").cast("long").alias("chunk_id"),
        token_count(F.col("c.chunk_text")).alias("n_chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


SQL_TOKEN_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
  WHERE length(trim(coalesce(text, ''))) > 0
),
s AS (
  SELECT doc_id, w,
         unnest(generate_series(0, greatest(len(w) - 17, 0), 48)) AS st
  FROM t
)
SELECT doc_id,
       CAST(st / 48 AS BIGINT) AS chunk_id,
       CAST(len(list_slice(w, st + 1, st + 64)) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(w, st + 1, st + 64), ' ') AS chunk_text
FROM s
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: LSH pairs -> connected components -> one keeper
    per group — the primitive that turns pairwise dedup output into actual
    keep/drop decisions over the whole corpus. Oracle replays the pair
    generation (md5-base LSH, bit-identical math) and closes the graph with
    a recursive CTE."""
    from log_server_spark.operators.dedup_text import components_from_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=16, bands=8, shingle_n=3, threshold=0.5, base="md5",
    )
    # the oracle's recursive CTE computes the EXACT closure, so the Spark
    # side must fully converge: keep the operator's default rounds=6 as
    # the cap (clone groups are near-cliques of diameter 1-2, so this is a
    # wide safety margin; a graph still unconverged at the cap would label
    # some nodes with a non-minimal keeper and break oracle parity). The
    # cap costs nothing on these graphs: the operator stops at the first
    # round after which no edge joins two different labels
    # LSS_CHECKPOINT_DIR switches the iteration from localCheckpoint
    # (executor-block-only — fast, not node-loss-safe) to reliable
    # checkpoint() against a shared path; identical labels either way
    # (test_round5 asserts it)
    comp = components_from_pairs(
        docs.select("doc_id"), pairs, id_col="doc_id", src_col="id_a", dst_col="id_b",
        checkpoint_dir=os.environ.get("LSS_CHECKPOINT_DIR") or None,
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("keeper_id"),
        (F.col("node") != F.col("lbl")).alias("is_dup"),
    )


def _closure_ctes() -> str:
    """The LSH-pairs -> undirected-edges -> recursive-walk closure CTE
    prefix — the ONE definition shared by dedup_clusters and
    dedup_keep_best (queries_web), so a fix to the closure semantics or
    the LSH parameters can never leave the two oracles disagreeing."""
    pairs_sql = _minhash_lsh_sql().strip()
    return f"""pairs AS (
{pairs_sql}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.doc_id
)"""


def _dedup_clusters_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _closure_ctes()
        + """
SELECT doc_id, min(lbl) AS keeper_id, (min(lbl) <> doc_id) AS is_dup
FROM walk GROUP BY doc_id
"""
    )


SQL_DEDUP_CLUSTERS = _dedup_clusters_sql()




def q_dedup_segments(spark, sf_dir):
    """Segment-level (line/paragraph) corpus dedup, C4/RefinedWeb-style:
    split every document into non-overlapping 16-token windows (this
    corpus has no newlines; on real web text the split is ``\\n`` lines),
    keep each distinct segment's FIRST occurrence corpus-wide, reassemble
    the survivors per document. Exercises operators/dedup_text.py:
    dedup_segments — posexplode -> min(struct) winner agg -> equi-join ->
    reassembly groupBy; no window sort anywhere (see operator docstring
    for the 100 TB shape)."""
    from log_server_spark.operators.dedup_text import dedup_segments

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(16)
    )
    segs = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, 16)))
    return dedup_segments(
        docs.select("doc_id", segs.alias("segs")), "doc_id", "segs", join_sep=" "
    )


SQL_DEDUP_SEGMENTS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), seg AS (
  SELECT doc_id, p.pos,
         array_to_string(toks[p.pos * 16 + 1 : p.pos * 16 + 16], ' ') AS seg
  FROM t, LATERAL (
    SELECT unnest(generate_series(0, CAST(ceil(len(toks) / 16.0) AS BIGINT) - 1)) AS pos
  ) p
), win AS (
  SELECT doc_id, pos, seg,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM seg
)
SELECT doc_id,
       string_agg(seg, ' ' ORDER BY pos) AS text_dedup,
       count(*) AS n_segs_kept
FROM win WHERE rn = 1 GROUP BY doc_id
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-language sampling quota (a pretraining mix):
    hash-bucket membership via md5 threshold — a pure scan-pushable
    predicate, reproducible across runs, partitionings, and engines (the
    oracle replays the identical predicate in DuckDB). operators/sample.py."""
    from log_server_spark.operators.sample import hash_stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = hash_stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "ru": 0.25, "de": 0.25, "es": 0.1},
        key_col="doc_id",
        salt="mix1",
        default=0.05,
    )
    return out.select("doc_id", "lang", "source")


SQL_SAMPLE_STRATIFIED = r"""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|mix1'), 1, 8) <
      CASE lang
        WHEN 'en' THEN '80000000'
        WHEN 'ru' THEN '40000000'
        WHEN 'de' THEN '40000000'
        WHEN 'es' THEN '19999999'
        ELSE '0ccccccc'
      END
"""




def q_repetition_score(spark, sf_dir):
    """Gopher/FineWeb repetition filters: duplicate-word fraction,
    duplicate-3-gram fraction, top-word concentration — the signals that
    catch boilerplate/spam pages a length-based quality gate misses. Pure
    codegen per row (the top-word mode is a linear run-length scan over
    the sorted word array, NOT a quadratic transform — see
    functions/text.py:repetition_features for the 100k-word-doc bound)."""
    from log_server_spark.functions.text import repetition_features

    docs = _t(spark, sf_dir, "documents")
    feats = repetition_features("text", ngram_n=3)
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


SQL_REPETITION_SCORE = r"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
), w AS (
  SELECT doc_id, t,
         CASE WHEN length(t) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(t, '\s+') END AS ws
  FROM base
), c AS (
  SELECT doc_id, t, len(ws) AS nw, len(list_distinct(ws)) AS nd,
         CASE WHEN len(ws) >= 3
              THEN list_transform(generate_series(1, len(ws) - 2),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         END AS grams
  FROM w
), top AS (
  SELECT doc_id, max(cnt) AS mx FROM (
    SELECT doc_id, u, count(*) AS cnt
    FROM (SELECT doc_id, unnest(ws) AS u FROM w WHERE len(ws) > 0)
    GROUP BY doc_id, u
  ) GROUP BY doc_id
)
SELECT c.doc_id,
  c.nw AS n_words,
  round(1.0 - c.nd / nullif(c.nw, 0)::DOUBLE, 4) AS dup_word_frac,
  CASE WHEN c.grams IS NOT NULL AND len(c.grams) > 0
       THEN round(1.0 - len(list_distinct(c.grams)) / len(c.grams)::DOUBLE, 4)
  END AS dup_ngram_frac,
  CASE WHEN c.nw > 0 THEN round(top.mx / c.nw::DOUBLE, 4) END AS top_word_frac
FROM c LEFT JOIN top USING (doc_id)
"""


def q_vocab_top_tokens(spark, sf_dir):
    """Corpus vocabulary profile: top 200 tokens by DOCUMENT frequency
    (each doc votes once per distinct token — ``array_distinct`` runs
    per-row BEFORE the explode, so a 100k-repeat boilerplate token costs
    one row, not 100k). One keyed shuffle with map-side combine, then a
    TakeOrdered top-k — never a full sort of the vocabulary."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("tok")
    ).where(F.length("tok") > 0)
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("tok"))
        .limit(200)
    )


SQL_VOCAB_TOP_TOKENS = r"""
SELECT u AS tok, count(*) AS doc_freq
FROM (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS u
  FROM documents WHERE length(trim(text)) > 0
)
WHERE length(u) > 0
GROUP BY u
ORDER BY doc_freq DESC, tok ASC
LIMIT 200
"""




def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/PaLM recipe): flag every training
    doc sharing a distinct word 5-gram with the eval set (here: the
    deterministic doc_id %% 29 == 0 slice standing in for a benchmark
    suite; production uses n=13 over 512-token eval windows). The eval
    side is broadcast — the corpus never shuffles for the probe; the only
    shuffle is the output-sensitive per-doc hit count.
    operators/dedup_text.py:contamination_flags."""
    from log_server_spark.operators.dedup_text import contamination_flags

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 29 == 0)
    return contamination_flags(docs, bench, "doc_id", "text", ngram_n=5)


SQL_DECONTAMINATE = r"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(w) - 4),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
         )) AS g
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents)
  WHERE len(w) >= 5
), b AS (
  SELECT DISTINCT g FROM g WHERE doc_id % 29 = 0
), hits AS (
  SELECT g.doc_id, count(DISTINCT g.g) AS n_hits
  FROM g JOIN b USING (g) GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_sample_quota(spark, sf_dir):
    """Cap every source at 40 docs, winners drawn deterministically by hash
    order — the anti-over-representation rule a fractional quota can't
    express when group sizes are unknown upfront (operators/sample.py)."""
    from log_server_spark.operators.sample import hash_quota_per_group

    docs = _t(spark, sf_dir, "documents")
    out = hash_quota_per_group(docs, "source", 40, key_col="doc_id", salt="cap1")
    return out.select("doc_id", "source", "lang")


SQL_SAMPLE_QUOTA = r"""
SELECT doc_id, source, lang
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '|cap1'), 1, 8), doc_id
) <= 40
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 keywords by tf-idf (tf = in-doc count, idf =
    ln(N/df) over document frequency). Tokenizer matches the corpus
    vocabulary convention. Three keyed shuffles: (doc, tok) counts,
    tok-level df (model-sized), per-doc top-k window; N is a parquet
    metadata count, no data pass."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "tok").withColumn(
        "score",
        F.col("tf").cast("double")
        * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("tok")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id", "tok", "tf",
            F.round("score", 4).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


SQL_TFIDF_TOP_TERMS = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> length(x) > 0)) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.tok, t.tf,
         t.tf::DOUBLE * ln(n.n_docs / d.df::DOUBLE) AS score
  FROM tf t JOIN df d USING (tok), n
)
SELECT doc_id, tok, tf, round(score, 4) AS score,
       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rnk
FROM scored QUALIFY rnk <= 3
"""


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (self-trained corpus bigram MLE —
    operators/lm.py): per doc, the average ln P(w2|w1) over its token
    bigrams and the resulting perplexity. Low ppl = boilerplate/template,
    high ppl = noise — the canonical web-corpus quality-bucket signal."""
    from .operators.lm import bigram_perplexity

    docs = _t(spark, sf_dir, "documents")
    return bigram_perplexity(docs, "doc_id", "text")


SQL_LM_PERPLEXITY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> length(x) > 0) AS t
  FROM documents
),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
),
cnt AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY 1),
model AS (
  SELECT w1, w2, ln(c12::DOUBLE / c1::DOUBLE) AS logp
  FROM cnt JOIN ctx USING (w1)
),
scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams, avg(m.logp) AS lp
  FROM bi b JOIN model m USING (w1, w2) GROUP BY 1
)
SELECT doc_id, n_bigrams, round(lp, 4) AS avg_logp, round(exp(-lp), 4) AS ppl
FROM scored
"""


def q_embedding_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means (k=8, 2 assignment rounds) over the
    embedding corpus — the trained coarse quantizer IVF plugs in. See
    operators/similarity.py:kmeans_assign for the determinism pins
    (lowest-id init, left-fold distances, round-6 centroid means)."""
    vecs = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(vecs, k=8, iters=2).withColumnRenamed("vid", "vec_id")


SQL_EMBEDDING_KMEANS = r"""
WITH v AS (SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c0 AS (SELECT vid AS cid, v AS cv FROM v ORDER BY vid LIMIT 8),
s1 AS (SELECT vid, v, cid,
         list_sum(list_transform(generate_series(1, len(v)),
                  i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d
       FROM v, c0),
a1 AS (SELECT vid, v, cid FROM (
         SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn FROM s1)
       WHERE rn = 1),
m1 AS (SELECT cid, pos, round(avg(val), 6) AS m FROM (
         SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a1)
       GROUP BY cid, pos),
c1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m1 GROUP BY cid),
s2 AS (SELECT vid, cid,
         list_sum(list_transform(generate_series(1, len(v)),
                  i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d
       FROM v, c1),
a2 AS (SELECT vid, cid, d FROM (
         SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn FROM s2)
       WHERE rn = 1)
SELECT vid AS vec_id, cid AS cluster, round(d, 4) AS dist_r FROM a2
"""


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup dedup: the doc_id %% 5 == 0 slice plays the
    incoming batch; emit only near-dup pairs touching it. Provably the
    full LSH output filtered to the delta (band matching is pairwise), at
    O(corpus x delta) band-join cost — the near-dup analogue of the
    pipeline's committed-keys anti-join (operators/dedup_text.py:
    minhash_lsh_pairs, INCREMENTAL mode)."""
    docs = _t(spark, sf_dir, "documents")
    delta = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    return (
        minhash_lsh_pairs(
            docs, "doc_id", "text",
            num_hashes=16, bands=8, shingle_n=3, threshold=0.5, base="md5",
            delta_ids=delta,
        )
        .withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})
        .orderBy("doc_a", "doc_b")
    )


def _dedup_incremental_sql() -> str:
    return (
        "SELECT * FROM (\n"
        + _minhash_lsh_sql().strip()
        + "\n) WHERE doc_a % 5 = 0 OR doc_b % 5 = 0\nORDER BY doc_a, doc_b\n"
    )


SQL_DEDUP_INCREMENTAL = _dedup_incremental_sql()


def q_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail corpus split: per language, rank docs by
    LM perplexity (low = clean/boilerplate-like, high = noise) and cut
    into terciles. The ordering key is avg_logp — ALREADY rounded to 1e-4
    by bigram_perplexity — with doc_id as the tie-break, so bucket
    assignment is deterministic and engine-portable (a raw-double order
    could flip near-equal neighbors across engines). One window per
    language over the model-scored frame; cost is dominated by the
    perplexity scoring it composes (operators/lm.py:bigram_perplexity)."""
    from .operators.lm import bigram_perplexity

    docs = _t(spark, sf_dir, "documents")
    ppl = bigram_perplexity(docs, "doc_id", "text")
    j = ppl.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logp").desc(), F.col("doc_id").asc()
    )
    t = F.ntile(3).over(w)
    return j.select(
        "doc_id",
        "lang",
        F.col("ppl").alias("ppl_r"),
        F.when(t == 1, F.lit("head"))
        .when(t == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _perplexity_buckets_sql() -> str:
    return (
        "WITH p AS (\n"
        + SQL_LM_PERPLEXITY.strip()
        + """
), ranked AS (
  SELECT p.doc_id, d.lang, round(p.ppl, 4) AS ppl_r,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY p.avg_logp DESC, p.doc_id ASC) AS t
  FROM p JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, ppl_r,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
"""
    )


def q_sample_mixture(spark, sf_dir):
    """Weight-driven mixture resampling: keep ~40%% of the corpus with
    src0/src1/src2 upweighted 3x against the rest — per-source fractions
    derived in-plan from target weights and observed source sizes
    (operators/sample.py:mixture_sample; broadcast probe, no data
    shuffle, no collect)."""
    from log_server_spark.operators.sample import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        docs, "source", "doc_id",
        {"src0": 3.0, "src1": 3.0, "src2": 3.0}, 0.4, salt="mix0",
    )
    return out.select("doc_id", "source", "lang")


SQL_SAMPLE_MIXTURE = r"""
WITH cw AS (
  SELECT source, count(*) AS cnt,
         CASE WHEN source IN ('src0', 'src1', 'src2')
              THEN CAST(3.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM documents GROUP BY source
), tots AS (SELECT sum(cnt) AS tot_n, sum(w) AS tot_w FROM cw),
per AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               CAST(0.4 AS DOUBLE) * CAST(tot_n AS DOUBLE) * w / tot_w / CAST(cnt AS DOUBLE)) AS f
  FROM cw, tots
)
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN per USING (source)
WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || '|mix0'), 1, 8)) AS BIGINT) AS DOUBLE)
      < f * 4294967296.0
"""


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (concat-and-cut): every doc assigned to the
    2048-token training sequence where it starts, in 8 deterministic
    hash shards — one shuffle + one per-shard window, no stateful scan
    (operators/pack.py)."""
    from log_server_spark.operators.pack import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return pack_sequences(d, "doc_id", "n_tokens", budget=2048, n_shards=8, salt="ep0")


SQL_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
         md5(CAST(doc_id AS VARCHAR) || '|ep0') AS h
  FROM documents
), s AS (
  SELECT doc_id, toks, substr(h, 1, 8) AS ok,
         CAST(CAST(concat('0x', substr(h, 9, 8)) AS BIGINT) % 8 AS INT) AS shard
  FROM t
), c AS (
  SELECT doc_id, shard,
         coalesce(sum(toks) OVER (
           PARTITION BY shard ORDER BY ok, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM s
)
SELECT doc_id, shard, cum // 2048 AS seq, cum % 2048 AS begin_off FROM c
"""


def q_dedup_substring(spark, sf_dir):
    """Within-corpus exact-substring dedup: every doc pair sharing at
    least one run of 12 consecutive tokens (the distributed restatement
    of suffix-array substring dedup — see
    operators/dedup_text.py:substring_duplicate_pairs for the scale
    shape: md5-keyed self-join, per-doc distinct before the explode,
    output-sensitive pair aggregation)."""
    from log_server_spark.operators.dedup_text import substring_duplicate_pairs

    docs = _t(spark, sf_dir, "documents")
    return substring_duplicate_pairs(docs, "doc_id", "text", window_n=12).orderBy(
        "id_a", "id_b"
    )


SQL_DEDUP_SUBSTRING = r"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, len(t) - 11),
      i -> array_to_string(t[i:i+11], ' '))
  )) AS w
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents)
  WHERE len(t) >= 12
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_windows
FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


REGISTRY_ML: dict[str, tuple] = {
    "corpus_filter": (q_corpus_filter, SQL_CORPUS_FILTER),
    "embedding_kmeans": (q_embedding_kmeans, SQL_EMBEDDING_KMEANS),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "langid": (q_langid, SQL_LANGID),
    "doc_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "embedding_cosine_topk": (q_embedding_cosine_topk, SQL_EMBEDDING_COSINE_TOPK),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "embedding_ann_lsh": (q_embedding_ann_lsh, SQL_EMBEDDING_ANN_LSH),
    "embedding_ann_ivf": (q_embedding_ann_ivf, SQL_EMBEDDING_ANN_IVF),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "token_chunks": (q_token_chunks, SQL_TOKEN_CHUNKS),
    "dedup_segments": (q_dedup_segments, SQL_DEDUP_SEGMENTS),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "repetition_score": (q_repetition_score, SQL_REPETITION_SCORE),
    "vocab_top_tokens": (q_vocab_top_tokens, SQL_VOCAB_TOP_TOKENS),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "lm_perplexity": (q_lm_perplexity, SQL_LM_PERPLEXITY),
    "sample_quota": (q_sample_quota, SQL_SAMPLE_QUOTA),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "dedup_substring": (q_dedup_substring, SQL_DEDUP_SUBSTRING),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "sample_mixture": (q_sample_mixture, SQL_SAMPLE_MIXTURE),
    "perplexity_buckets": (q_perplexity_buckets, _perplexity_buckets_sql()),
}
