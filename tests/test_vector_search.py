"""The vector-search family's shared contract (operators/similarity.py,
kmeans.py, pq.py): the output columns of every top-k operator, and the
Lloyd round count at its edge (iters=0)."""

from __future__ import annotations

import pytest

from osm_pt_validator_spark.operators.kmeans import kmeans_fixed_point
from osm_pt_validator_spark.operators.pq import pq_adc_topk, pq_train
from osm_pt_validator_spark.operators.similarity import (
    brute_force_topk,
    int8_ivf_topk,
    int8_quantized_topk,
    ivf_ann_topk,
    lsh_ann_topk,
    semantic_dedup,
)

DIM, M = 8, 2


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(DIM)])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )


def test_topk_operators_output_columns(emb, queries):
    """The column order each top-k operator promises in its docstring."""
    ranked = ["query_id", "vec_id", "sim", "rank"]
    assert brute_force_topk(emb, queries, k=3).columns == ranked
    assert lsh_ann_topk(emb, queries, dim=DIM, k=3).columns == ranked
    assert ivf_ann_topk(emb, queries, k=3, num_centroids=2, nprobe=1).columns == ranked
    int8 = ["query_id", "vec_id", "approx_sim", "sim", "rank"]
    assert int8_quantized_topk(emb, queries, k=3).columns == int8
    assert int8_ivf_topk(emb, queries, k=3, num_centroids=2, nprobe=1).columns == int8
    cb = pq_train(emb, m=M, k=2, iters=1, dim=DIM)
    assert pq_adc_topk(emb, queries, cb, k=3, m=M, dim=DIM).columns == [
        "query_id",
        "vec_id",
        "adc_dist",
        "rank",
    ]


def test_kmeans_needs_at_least_one_round(emb):
    """Without a Lloyd round no vector is assigned: iters=0 is refused
    up front, naming the parameter, for kmeans and for the SemDeDup
    pass built on it."""
    with pytest.raises(ValueError, match="iters"):
        kmeans_fixed_point(emb, k=2, iters=0)
    with pytest.raises(ValueError, match="iters"):
        semantic_dedup(emb, k=2, iters=0)


def test_pq_train_zero_rounds_returns_seed_codebooks(emb):
    """pq_train(iters=0) is the seed: per subspace, the k smallest ids'
    subvectors in fixed point, cid in id order."""
    k, ds = 3, DIM // M
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    want = {
        (j, cid, tuple(round(x * 1e6) for x in vecs[i][j * ds : (j + 1) * ds]))
        for j in range(M)
        for cid, i in enumerate(sorted(vecs)[:k])
    }
    got = {
        (r.m, r.cid, tuple(r.cv))
        for r in pq_train(emb, m=M, k=k, iters=0, dim=DIM).collect()
    }
    assert got == want
