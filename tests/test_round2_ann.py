"""Round-2 ANN/similarity verification: LCS vectorization differential,
IVF recall vs brute force, hyperplane sign-matrix determinism."""

import math
import random

import numpy as np
import pytest

from iresearch_spark.ops import similarity


def _lcs_classic(q, s):
    prev = [0] * (len(s) + 1)
    for qt in q:
        cur = [0] * (len(s) + 1)
        for j, st in enumerate(s, 1):
            cur[j] = prev[j - 1] + 1 if st == qt else max(cur[j - 1], prev[j])
        prev = cur
    return prev[-1]


def _lcs_vectorized(q, s):
    # the formulation of semantics.lcs_lengths
    stream = np.asarray(s)
    prev = np.zeros(stream.size + 1, dtype=np.int32)
    cur = np.empty_like(prev)
    for qt in q:
        eq = (stream == qt).astype(np.int32)
        cur[0] = 0
        np.maximum.accumulate(np.maximum(prev[1:], prev[:-1] + eq), out=cur[1:])
        prev, cur = cur, prev
    return int(prev[-1])


def test_lcs_vectorization_matches_classic_dp():
    rng = random.Random(7)
    alphabet = list("abcd")
    for _ in range(300):
        q = [rng.choice(alphabet) for _ in range(rng.randint(1, 6))]
        s = [rng.choice(alphabet) for _ in range(rng.randint(0, 30))]
        assert _lcs_vectorized(q, s) == _lcs_classic(q, s), (q, s)


def test_sign_matrix_deterministic_and_balanced():
    a = similarity.hyperplane_sign_matrix(6, 64)
    b = similarity.hyperplane_sign_matrix(6, 64)
    assert a == b
    assert all(s in (-1, 1) for row in a for s in row)
    # md5-derived signs should be roughly balanced
    total = sum(s for row in a for s in row)
    assert abs(total) < 100


@pytest.fixture(scope="module")
def emb384(spark):
    rng = np.random.default_rng(42)
    # 12 clusters of 32 vectors each -> meaningful nearest neighbors
    centers = rng.normal(size=(12, 16))
    rows = []
    vid = 0
    for c in range(12):
        for _ in range(32):
            v = centers[c] + 0.15 * rng.normal(size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_recall_vs_brute_force(emb384):
    k = 3
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb384, k=k).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb384, k=k, n_centroids=16, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_lsh_recall_vs_brute_force(emb384):
    k = 3
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb384, k=k).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(emb384, k=k, n_bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_kmeans_centroids_recall(emb384):
    k = 3
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb384, k=k).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb384, k=k, n_centroids=12, n_probe=3, centroids="kmeans"
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
