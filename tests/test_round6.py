"""Round-6 optimization equivalence tests.

Every rewrite this round is a PLAN change, not a semantics change; these
tests pin each rewritten operator/query to its pre-rewrite formulation
(value-level, order-insensitive) so the optimization can never drift the
results.
"""

import pandas as pd
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def test_dedup_pipeline_single_agg_equals_operator_composition(spark):
    """q_dedup_pipeline's round-6 single-aggregate form == the explicit
    split_duplicates + anti_join_committed + union composition."""
    from log_server_spark.functions.parse import parse_pages
    from log_server_spark.operators.dedup import (
        DEDUP_KEY,
        anti_join_committed,
        split_duplicates,
    )
    from log_server_spark.queries_graft import (
        _PARSED_OUT,
        _t,
        q_dedup_pipeline,
        synth_legacy_pages,
    )

    docs = _t(spark, SF_DIR, "documents")
    anchor = F.when(
        F.col("doc_id") % 10 >= 8, F.col("doc_id") - F.col("doc_id") % 10
    ).otherwise(F.col("doc_id"))
    content = docs.select(
        F.col("doc_id").alias("cid"), F.col("text"), F.col("source"), F.col("lang")
    )
    anchored = (
        docs.select(F.col("doc_id"), anchor.alias("anchor"))
        .join(F.broadcast(content), F.col("anchor") == F.col("cid"))
        .select("doc_id", "cid", "text", "source", "lang")
    )
    pages = synth_legacy_pages(anchored, url_id="doc_id", content_id="cid")
    parsed = (
        parse_pages(pages)
        .filter(F.col("status") == "ok")
        .withColumn("doc_id", F.regexp_extract("url", r"doc://(\d+)", 1).cast("long"))
    )
    b1 = parsed.filter(F.col("doc_id") % 3 != 2)
    b2 = parsed.filter(F.col("doc_id") % 3 == 2)
    kept1, _ = split_duplicates(b1, order_cols=["url", "seq"])
    kept2, _ = split_duplicates(b2, order_cols=["url", "seq"])
    kept2 = anti_join_committed(kept2, kept1.select(*DEDUP_KEY))
    composed = (
        kept1.withColumn("batch", F.lit(1).cast("long"))
        .unionByName(kept2.withColumn("batch", F.lit(2).cast("long")))
        .select(F.col("batch"), *[c() for c in _PARSED_OUT])
    )
    got = _norm(q_dedup_pipeline(spark, SF_DIR).toPandas())
    want = _norm(composed.toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


import pytest


def _base_hash_mod_p(col, base: str):
    """Column-API reference for the per-shingle MinHash base ``b`` in
    [0, P): ``xxhash64``, or the first 15 hex chars of md5 as an integer."""
    from log_server_spark.operators.dedup_text import MERSENNE_P

    if base == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(MERSENNE_P))
    hex15 = F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15)
    return F.pmod(F.conv(hex15, 16, 10).cast("long"), F.lit(MERSENNE_P))


def _shingle_frame(df, id_col: str, text_col: str, n: int):
    """One (id, shingle) row per distinct word n-gram of each doc."""
    from log_server_spark.functions.text import word_ngrams

    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("shingle"),
    )


@pytest.mark.parametrize("base", ["xxhash64", "md5"])
def test_signature_frame_per_row_equals_aggregate_form(spark, base):
    """minhash_signature_frame's per-row build (round 6, both bases) ==
    the round-5 explode+groupBy build (shs compared as sorted sets)."""
    from log_server_spark.operators.dedup_text import (
        MERSENNE_P,
        minhash_coefficients,
        minhash_signature_frame,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    num_hashes = 16
    per_row = minhash_signature_frame(docs, "doc_id", "text", num_hashes, 3, base)

    sh = _shingle_frame(docs, "doc_id", "text", 3).withColumn(
        "b", _base_hash_mod_p(F.col("shingle"), base)
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("b") + F.lit(b), F.lit(MERSENNE_P))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    agg_form = sh.groupBy("id").agg(
        *aggs, F.count("*").alias("sz"), F.collect_list(F.xxhash64("shingle")).alias("shs")
    )

    def canon(df):
        out = df.select(
            "id",
            *[f"mh_{i}" for i in range(num_hashes)],
            "sz",
            F.array_sort("shs").alias("shs"),
        ).toPandas()
        out["shs"] = out["shs"].apply(tuple)
        return _norm(out)

    pd.testing.assert_frame_equal(canon(per_row), canon(agg_form), check_dtype=False)


def test_ngram_jaccard_size_prune_cannot_change_output(spark):
    """The size-ratio prune is output-preserving: the restructured
    ngram_jaccard_pairs == the direct all-shared-pairs formulation."""
    from log_server_spark.functions.text import word_ngrams
    from log_server_spark.operators.dedup_text import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    threshold = 0.3
    got = _norm(ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=threshold).toPandas())

    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(word_ngrams("text", 3))).alias("s"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    shared = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    want = _norm(
        shared.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "jaccard")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_neardup_flat_cells_match_numpy_all_pairs(spark):
    """The flat-cell applyInArrow near-dup == numpy brute force, for a
    block count that exercises diagonal and off-diagonal cells."""
    import numpy as np

    from log_server_spark.operators.similarity import cosine_neardup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(F.col("vec_id") < 300)
    got = sorted(
        (r.id_a, r.id_b, r.cosine_r)
        for r in cosine_neardup_pairs(emb, threshold=0.4, n_blocks=4).collect()
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    want = []
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and sims[i, j] >= 0.4:
                want.append((int(ids[i]), int(ids[j]), float(np.round(sims[i, j], 4))))
    assert got == sorted(want)


def test_kmeans_min_struct_equals_min_by_argmin(spark):
    """kmeans_assign's round-6 min(struct(order, payload)) argmin == the
    min_by(payload, order) formulation it replaced, on the full sf0.01
    embedding table (ties on distance resolve to the lower centroid id in
    both forms because (d, cid) is unique per group)."""
    from log_server_spark.operators.similarity import _as_double, _sqdist, kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = _norm(kmeans_assign(emb, k=8, iters=2).toPandas())

    # reference: the pre-rewrite min_by argmin, same init/update math
    v = emb.select(F.col("vec_id").alias("vid"), _as_double(F.col("embedding")).alias("v"))
    cent = v.orderBy("vid").limit(8).select(F.col("vid").alias("cid"), F.col("v").alias("cv"))
    for it in range(2):
        last = it == 1
        scored = v.join(F.broadcast(cent)).withColumn("d", _sqdist(F.col("v"), F.col("cv")))
        winner = (
            F.struct(F.col("cid"), F.col("d"))
            if last
            else F.struct(F.col("cid"), F.col("v"), F.col("d"))
        )
        assigned = (
            scored.groupBy("vid")
            .agg(F.min_by(winner, F.struct(F.col("d"), F.col("cid"))).alias("w"))
            .select(
                "vid",
                F.col("w.cid").alias("cid"),
                *([] if last else [F.col("w.v").alias("v")]),
                F.col("w.d").alias("d"),
            )
        )
        if last:
            break
        cent = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
                ).alias("cv")
            )
        )
    want = _norm(
        assigned.select(
            "vid", F.col("cid").alias("cluster"), F.round(F.col("d"), 4).alias("dist_r")
        ).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
