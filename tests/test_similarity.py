"""Similarity-search operators: brute-force correctness vs NumPy, LSH
recall vs the brute-force truth, and the ranking contract every top-k
tier shares."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.operators.ivf import ivf_top_k
from aws_healthcare_etl_pipeline_spark.operators.pq import pq_encode, pq_top_k
from aws_healthcare_etl_pipeline_spark.operators.similarity import (
    brute_force_top_k,
    lsh_top_k,
)
from aws_healthcare_etl_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
K = 5
NQ = 8


@pytest.fixture(scope="module")
def emb_pdf(spark):
    return load_table(spark, SF, "embeddings").toPandas()


def numpy_topk(pdf, k=K, nq=NQ):
    vecs = np.array([np.array(v, dtype=np.float64) for v in pdf.embedding])
    ids = pdf.vec_id.to_numpy()
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = normed @ normed.T
    truth = {}
    for qi in range(len(ids)):
        if ids[qi] >= nq:
            continue
        order = sorted(
            ((-sims[qi, j], ids[j]) for j in range(len(ids)) if ids[j] != ids[qi])
        )
        truth[ids[qi]] = [vid for _, vid in order[:k]]
    return truth


def test_bruteforce_matches_numpy(spark, emb_pdf):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = brute_force_top_k(emb, queries, k=K).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert by_q == numpy_topk(emb_pdf)


def test_lsh_recall(spark, emb_pdf):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = numpy_topk(emb_pdf)
    got = lsh_top_k(emb, queries, k=K, dim=64).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(by_q.get(q, set()) & set(t)) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    # approximate by design; require it to beat random by a wide margin
    assert hits / total > 0.2, f"LSH recall {hits}/{total}"


def test_lsh_scores_are_exact_cosines(spark):
    """Scores on returned candidates must equal the exact cosine (LSH
    only prunes candidates, never approximates the metric)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = {
        (r.query_id, r.vec_id): r.cosine
        for r in brute_force_top_k(emb, queries, k=500).collect()
    }
    for r in lsh_top_k(emb, queries, k=K, dim=64).collect():
        assert (r.query_id, r.vec_id) in bf
        assert abs(bf[(r.query_id, r.vec_id)] - r.cosine) < 1e-12


# Ranking contract shared by every top-k tier, on a corpus with planted
# exact duplicates: 0 and 1 are the queries (drawn from the corpus);
# 3 and 5 copy vector 0, 4 and 7 copy vector 1. Every vector is two
# 2-d subvectors from _SUBS, so a PQ codebook holding exactly _SUBS
# encodes it losslessly and ADC scores tie wherever cosines do.
_SUBS = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
_PLANTED = {
    0: _SUBS[0] + _SUBS[0],
    1: _SUBS[1] + _SUBS[1],
    2: _SUBS[0] + _SUBS[1],
    3: _SUBS[0] + _SUBS[0],
    4: _SUBS[1] + _SUBS[1],
    5: _SUBS[0] + _SUBS[0],
    6: _SUBS[2] + _SUBS[3],
    7: _SUBS[1] + _SUBS[1],
}
_CENTROIDS = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
_BOOKS = np.array([_SUBS, _SUBS])


def _pq(corpus, queries, k):
    return pq_top_k(pq_encode(corpus, _BOOKS), queries, _BOOKS, k)


@pytest.mark.parametrize(
    "top_k",
    [
        lambda c, q, k: brute_force_top_k(c, q, k),
        lambda c, q, k: lsh_top_k(c, q, k, dim=4),
        lambda c, q, k: ivf_top_k(c, q, k, _CENTROIDS, nprobe=len(_CENTROIDS)),
        _pq,
    ],
    ids=["brute_force", "lsh", "ivf", "pq"],
)
def test_ties_rank_lower_id_first_and_never_self(spark, top_k):
    corpus = spark.createDataFrame(
        sorted(_PLANTED.items()), "vec_id long, embedding array<float>"
    )
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r.query_id, r.rank): r.vec_id for r in top_k(corpus, queries, 2).collect()
    }
    # each query's own id is an exact duplicate too and the lowest id
    # of its tie group, so it would rank first if it were returned
    assert got == {(0, 1): 3, (0, 2): 5, (1, 1): 4, (1, 2): 7}
