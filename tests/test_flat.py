"""Flat exact-search tests.

Mirrors the reference's integration coverage
(test/integration/index_test.go:20-56) and result-validity invariants
(internal/math/testutils/helpers.go:160-212): k rows per query, sorted
ascending, finite, non-negative, self-query at distance 0.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gofaiss_spark.functions.distance import np_distance_matrix
from gofaiss_spark.operators.topk import range_search, search_flat


@pytest.fixture(scope="module")
def vectors(embeddings):
    return embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).cache()


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _np_truth(vectors, queries, k, metric):
    vp = vectors.toPandas().sort_values("id")
    qp = queries.toPandas().sort_values("query_id")
    base = np.stack(vp["vec"].to_numpy())
    ids = vp["id"].to_numpy()
    qm = np.stack(qp["qvec"].to_numpy())
    dm = np_distance_matrix(base, qm, metric)  # (n, q)
    truth = {}
    for j, qid in enumerate(qp["query_id"].to_numpy()):
        order = np.lexsort((ids, dm[:, j]))[:k]
        truth[qid] = [(int(ids[i]), float(dm[i, j])) for i in order]
    return truth


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
@pytest.mark.parametrize("method", ["local", "expr"])
def test_matches_numpy_truth(vectors, queries, metric, method):
    k = 10
    rows = search_flat(vectors, queries, k=k, metric=metric, method=method).collect()
    truth = _np_truth(vectors, queries, k, metric)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(truth)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, k + 1))
        got = [(r.id, r.distance) for r in rs]
        for (gid, gd), (tid, td) in zip(got, truth[qid]):
            assert gid == tid
            # norms-identity (local/np) vs diff-fold (expr) differ by
            # ~sqrt(eps) near zero — 1e-6 still separates real neighbors
            assert gd == pytest.approx(td, abs=1e-6)
        # invariants: sorted ascending, finite
        ds = [d for _, d in got]
        assert ds == sorted(ds)
        assert all(math.isfinite(d) for d in ds)
        if metric != "dot":
            assert all(d >= 0 for d in ds)


def test_self_query_rank1(vectors, queries):
    res = search_flat(vectors, queries, k=1, metric="l2").collect()
    for r in res:
        assert r.id == r.query_id
        assert r.distance == pytest.approx(0.0, abs=1e-6)


def test_k_zero_returns_all(vectors, queries):
    n = vectors.count()
    res = search_flat(vectors, queries, k=0, metric="l2")
    counts = res.groupBy("query_id").count().collect()
    assert all(c["count"] == n for c in counts)


def test_k_larger_than_n(vectors, queries):
    n = vectors.count()
    res = search_flat(vectors, queries, k=n + 100, metric="l2")
    counts = res.groupBy("query_id").count().collect()
    assert all(c["count"] == n for c in counts)


def test_range_search_exact(vectors, queries):
    t = 2.0
    res = range_search(vectors, queries, threshold=t, metric="l2").collect()
    assert all(r.distance <= t for r in res)
    # exactness: must equal the filter on the full scored join
    full = search_flat(vectors, queries, k=0, metric="l2").collect()
    expected = {(r.query_id, r.id) for r in full if r.distance <= t}
    got = {(r.query_id, r.id) for r in res}
    assert got == expected
    assert len(expected) > 0


def test_chunked_query_kernel_identical(embeddings):
    """A 300-query batch (past the kernel's 128-query block) returns
    byte-identical results to its three 100-query slices: each
    query's answer does not depend on the batch it rides in."""
    v = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))

    def answer(lo, hi):
        q = embeddings.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec"))
        return sorted((r.query_id, r.rank, r.id, r.distance)
                      for r in search_flat(v, q, k=7).collect())

    whole = answer(0, 300)
    assert len(whole) == 300 * 7
    assert whole == answer(0, 100) + answer(100, 200) + answer(200, 300)
