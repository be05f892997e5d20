"""Recall tests for the approximate dedup / ANN operators against their
exact counterparts — the correctness story for the rows-only queries()
entries (no SQL oracle exists for LSH banding)."""

import pytest
from pyspark.sql import functions as F

from log_server_spark.operators.dedup_text import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_neardup_pairs,
)
from log_server_spark.operators.similarity import ann_rademacher_topk, cosine_topk

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.mark.slow
def test_minhash_lsh_recall_vs_exact(docs):
    """16 hashes / 8 bands of 2: P(candidate | j=0.8) = 1-(1-j^2)^8 ≈ 0.9997.
    Every exact pair at jaccard >= 0.8 must be found (this corpus has ~20)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    assert len(exact) >= 5, "fixture should contain strong near-dups"
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=8, shingle_n=3, threshold=0.8
        ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"}).collect()
    }
    missed = exact - approx
    assert len(missed) / len(exact) <= 0.1, f"LSH missed {missed}"
    # verification step guarantees no false positives above threshold
    assert approx <= {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8 - 1e-9).collect()
    }


def test_minhash_jaccard_estimate_quality(docs):
    """The verified jaccard emitted by the LSH path equals the exact one."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        .withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})
        .collect()
    }
    for pair, j in got.items():
        assert abs(exact[pair] - j) < 1e-9


def test_simhash_deterministic_and_near_dups_close(docs, spark):
    sig1 = {r["id"]: r["simhash"] for r in simhash64(docs, "doc_id", "text").collect()}
    sig2 = {r["id"]: r["simhash"] for r in simhash64(docs, "doc_id", "text").collect()}
    assert sig1 == sig2  # deterministic across runs
    # strong near-dups (jaccard>=0.9) should sit within small hamming
    strong = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9).collect()
    assert strong
    close = 0
    for r in strong:
        h = bin(sig1[r["id_a"]] ^ sig1[r["id_b"]]).count("1")
        close += h <= 8
    assert close / len(strong) >= 0.8


def test_simhash_neardup_pairs_complete_within_radius(docs):
    """Blocked candidate generation must equal brute-force at the radius."""
    sigs = {r["id"]: r["simhash"] for r in simhash64(docs, "doc_id", "text").collect()}
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 6
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=6).collect()
    }
    assert got == brute


@pytest.mark.slow
def test_ann_lsh_recall_vs_exact(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, corpus, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_rademacher_topk(queries, corpus, dim=64, k=3, bits=6, probes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ANN recall {recall:.2f} too low"
    # scored cosine values must be exact for returned pairs (no approximation
    # in the scoring, only in candidate pruning)
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine_r"]
        for r in cosine_topk(queries, corpus, k=500).collect()
    }
    for r in ann_rademacher_topk(queries, corpus, dim=64, k=3, bits=6, probes=2).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(exact_scores[key] - r["cosine_r"]) < 1e-9


def test_block_neardup_equals_bruteforce(emb):
    """The distributed block-pair exact near-dup must equal a driver-side
    numpy brute force (the pytest oracle for cosine_neardup_pairs)."""
    import numpy as np

    from log_server_spark.operators.similarity import cosine_neardup_pairs

    got = {
        (r["id_a"], r["id_b"]): r["cosine_r"]
        for r in cosine_neardup_pairs(emb, threshold=0.45, n_blocks=5).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    want = {}
    n = len(ids)
    for i in range(n):
        for j in range(n):
            if ids[i] < ids[j] and sims[i, j] >= 0.45:
                want[(int(ids[i]), int(ids[j]))] = round(float(sims[i, j]), 4)
    assert got == want


@pytest.mark.parametrize("delta", [-1, 0, 1])
def test_block_neardup_autosizes_blocks_at_boundary(emb, delta):
    """Auto-sized n_blocks (ceil(count / block_target)) must return the same
    exact pair set right at a block boundary (count == k*target - 1, k*target,
    k*target + 1) as the single-block run — block count is task granularity
    only, never semantics."""
    from log_server_spark.operators.similarity import cosine_neardup_pairs

    target = 40
    n = 3 * target + delta  # straddles the ceil boundary
    sub = emb.filter(F.col("vec_id") < n)
    assert sub.count() == n
    auto = {
        (r["id_a"], r["id_b"]): r["cosine_r"]
        for r in cosine_neardup_pairs(sub, threshold=0.3, block_target=target).collect()
    }
    one = {
        (r["id_a"], r["id_b"]): r["cosine_r"]
        for r in cosine_neardup_pairs(sub, threshold=0.3, n_blocks=1).collect()
    }
    assert auto == one and len(one) > 0


def test_ivf_recall_vs_exact(emb):
    """IVF with nprobe=2 over ~20 corpus-sample centroids must recover a
    reasonable share of the exact top-3 (and rank-1 for most queries)."""
    from log_server_spark.operators.similarity import ann_ivf_topk

    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, corpus, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_topk(queries, corpus, k=3, nprobe=2).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.4
    # scores of returned pairs are EXACT cosines (verified inside buckets)
    exact500 = {
        (r["query_id"], r["neighbor_id"]): r["cosine_r"]
        for r in cosine_topk(queries, corpus, k=500).collect()
    }
    from log_server_spark.operators.similarity import ann_ivf_topk as _  # noqa: F401
    for r in ann_ivf_topk(queries, corpus, k=3, nprobe=2).collect():
        assert abs(exact500[(r["query_id"], r["neighbor_id"])] - r["cosine_r"]) < 1e-9


class TestKmeans:
    def test_kmeans_recovers_separated_blobs(self, spark):
        """Three well-separated blobs: every point lands with its blob's
        seed centroid after 2 rounds, and assignments are perfectly pure."""
        import itertools

        from log_server_spark.operators.similarity import kmeans_assign

        centers = [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]
        rows = []
        vid = 0
        # ids 0,1,2 are one point of each blob -> the lowest-id init picks
        # one seed per blob
        for rep in range(10):
            for b, (cx, cy) in enumerate(centers):
                dx = ((vid * 7) % 5) * 0.1
                dy = ((vid * 11) % 5) * 0.1
                rows.append((vid, b, [cx + dx, cy + dy]))
                vid += 1
        df = spark.createDataFrame(rows, ["vec_id", "blob", "embedding"])
        out = kmeans_assign(df, k=3, iters=2).withColumnRenamed("vid", "vec_id")
        got = {r.vec_id: r.cluster for r in out.collect()}
        blobs = {r[0]: r[1] for r in rows}
        # purity: all members of a blob share one cluster, distinct per blob
        by_blob = {}
        for v, c in got.items():
            by_blob.setdefault(blobs[v], set()).add(c)
        assert all(len(s) == 1 for s in by_blob.values())
        assert len(set(itertools.chain.from_iterable(by_blob.values()))) == 3

    def test_kmeans_update_moves_centroids(self, spark):
        """iters=2 differs from iters=1 when the seed points are off-center
        (the update actually recomputes means)."""
        from log_server_spark.operators.similarity import kmeans_assign

        # seeds 0 and 1 both sit in blob A; blob B far away has no seed.
        rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.5, 0.0])]
        rows += [(i, [50.0 + (i % 3) * 0.1, 0.0]) for i in range(3, 9)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        a1 = {r.vid: r.cluster for r in kmeans_assign(df, k=2, iters=1).collect()}
        a2 = {r.vid: r.cluster for r in kmeans_assign(df, k=2, iters=2).collect()}
        # round 1: everything in blob B picks seed 1 (closer of the two);
        # after the update, centroid 1 moves into blob B and keeps it, while
        # blob A consolidates under centroid 0 — vec 1 flips to cluster 0.
        assert a1[1] == 1 and all(a1[i] == 1 for i in range(3, 9))
        assert a2[1] == 0 and all(a2[i] == 1 for i in range(3, 9))
        assert all(a2[i] == 0 for i in (0, 1, 2))
