"""Driver-colocated serving (operators/local_serve.py): the local
kernels, the process pool, and the tier equality — the distributed
searches run these kernels over each Arrow batch, so their answers
equal the local replica's, ids and distances bit for bit."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gofaiss_spark.operators.local_serve import to_local
from gofaiss_spark.operators.topk import search_flat

# query batch sizes of every tier-equality check: empty, one, many
NQ = (0, 1, 64)


@pytest.fixture(scope="module")
def vq(embeddings):
    # four partitions, so the distributed searches merge per-batch
    # top-k lists from several Arrow batches
    v = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).repartition(4).cache()
    q = embeddings.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).cache()
    return v, q


def _query_batch(emb, n: int):
    """The first n embeddings as a (query_id, qvec) DataFrame, and as
    the (ids, matrix) pair the local tier is given."""
    q = emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    qp = q.orderBy("query_id").toPandas()
    qmat = (np.stack(qp["qvec"].to_numpy()) if len(qp)
            else np.zeros((0, 64), dtype=np.float32))
    return q, qp["query_id"].to_numpy(), qmat


def _assert_tiers_equal(res, qids, ids, d):
    """The distributed (query_id, id, distance, rank) rows are exactly
    the local (ids, dists) matrices: same ids at the same ranks and
    the same f64 distances, bit for bit. Local padding (id int64.max)
    has no distributed row."""
    pad = np.iinfo(np.int64).max
    got = sorted((r.query_id, r.rank, r.id, r.distance)
                 for r in res.collect())
    want = sorted((int(qid), j + 1, int(ids[i, j]), float(d[i, j]))
                  for i, qid in enumerate(qids)
                  for j in range(ids.shape[1]) if ids[i, j] != pad)
    assert got == want


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_local_matches_distributed(embeddings, vq, metric):
    v, _ = vq
    local = to_local(v, metric=metric)
    for nq in NQ:
        q, qids, qmat = _query_batch(embeddings, nq)
        _assert_tiers_equal(search_flat(v, q, k=7, metric=metric),
                            qids, *local.search(qmat, k=7))


def test_local_k_bounds(spark, vq):
    v, _ = vq
    local = to_local(v)
    n = len(local.ids)
    ids, d = local.search(local.vecs[:3], k=0)  # k<=0 -> all
    assert ids.shape == (3, n)
    ids, _ = local.search(local.vecs[:2], k=10 * n)  # k>n -> n
    assert ids.shape == (2, n)


def test_flat_index_to_local_method(spark, vq):
    from gofaiss_spark.operators.flat import build_flat

    v, _ = vq
    idx = build_flat(v)
    local = idx.to_local()
    ids, d = local.search(local.vecs[:5], k=3)
    assert ids.shape == (5, 3)
    # self-query at rank 1 with exact zero distance
    assert all(ids[i, 0] == local.ids[i] for i in range(5))
    assert all(d[i, 0] == 0.0 for i in range(5))


class TestLocalIvf:
    """LocalIvfIndex: full probe == exact flat; pruned probe matches
    the distributed search_ivf on the same index."""

    @pytest.fixture(scope="class")
    def built(self, spark, vq):
        from gofaiss_spark.operators.ivf import build_ivf
        from gofaiss_spark.operators.local_serve import to_local_ivf

        v, q = vq
        idx = build_ivf(v, nlist=16, seed=42)
        idx.assignments.cache().count()
        local = to_local_ivf(idx)
        qp = q.orderBy("query_id").toPandas()
        qids = qp["query_id"].to_numpy()
        qmat = np.stack(qp["qvec"].to_numpy())
        return idx, local, qids, qmat

    def test_fullprobe_is_exact(self, spark, vq, built):
        v, q = vq
        idx, local, qids, qmat = built
        ids, d = local.search(qmat, k=7, nprobe=idx.nlist)
        flat = {
            (r.query_id, r.rank): (r.id, round(r.distance, 6))
            for r in search_flat(v, q, k=7).collect()
        }
        for row, qid in enumerate(qids):
            for rank in range(7):
                assert flat[(qid, rank + 1)] == (
                    ids[row, rank], round(float(d[row, rank]), 6)
                )

    def test_pruned_matches_distributed_ivf(self, embeddings, vq, built):
        """search_ivf equals LocalIvfIndex.search for every metric,
        nprobe 1, 4 and nlist, and 0, 1 and 64 queries."""
        from gofaiss_spark.operators.ivf import build_ivf, search_ivf
        from gofaiss_spark.operators.local_serve import to_local_ivf

        v, _ = vq
        for metric in ("l2", "cosine", "dot"):
            idx = (built[0] if metric == "l2" else
                   build_ivf(v, nlist=16, metric=metric, trainer="local"))
            local = to_local_ivf(idx)
            for nq in NQ:
                q, qids, qmat = _query_batch(embeddings, nq)
                for nprobe in (1, 4, idx.nlist):
                    _assert_tiers_equal(
                        search_ivf(idx, q, k=5, nprobe=nprobe), qids,
                        *local.search(qmat, k=5, nprobe=nprobe))

    def test_cell_layout_consistency(self, built):
        idx, local, _, _ = built
        assert local.offsets[0] == 0
        assert local.offsets[-1] == len(local.ids)
        assert np.all(np.diff(local.offsets) >= 0)


def _assert_cell_kind_tiers_equal(embeddings, idx, local, search):
    """An IVFPQ/IVFSQ distributed search equals its local replica at
    nprobe 1, 4 and nlist, for 0, 1 and 64 queries."""
    for nq in NQ:
        q, qids, qmat = _query_batch(embeddings, nq)
        for nprobe in (1, 4, idx.nlist):
            _assert_tiers_equal(search(idx, q, k=5, nprobe=nprobe), qids,
                                *local.search(qmat, k=5, nprobe=nprobe))


class TestLocalQuantized:
    """LocalPqIndex / LocalIvfPqIndex / LocalSqIndex / LocalIvfSqIndex:
    the distributed searches return the local answers bit for bit,
    and refine-all must reduce to the exact flat result."""

    def test_local_pq_matches_search_pq(self, embeddings, vq):
        from gofaiss_spark.operators.local_serve import to_local_pq
        from gofaiss_spark.operators.pq import build_pq, search_pq

        v, _ = vq
        idx = build_pq(v, m=8, seed=42)
        idx.codes.cache().count()
        local = to_local_pq(idx)
        for nq in NQ:
            q, qids, qmat = _query_batch(embeddings, nq)
            _assert_tiers_equal(search_pq(idx, q, k=7), qids,
                                *local.search(qmat, k=7))

    def test_local_ivfpq_matches_search_ivfpq(self, embeddings, vq):
        from gofaiss_spark.operators.ivfpq import build_ivfpq, search_ivfpq
        from gofaiss_spark.operators.local_serve import to_local_ivfpq

        v, _ = vq
        idx = build_ivfpq(v, nlist=8, m=8, seed=42)
        idx.codes.cache().count()
        _assert_cell_kind_tiers_equal(embeddings, idx, to_local_ivfpq(idx),
                                      search_ivfpq)

    def test_local_ivfsq_matches_search_ivfsq(self, embeddings, vq):
        from gofaiss_spark.operators.ivfsq import build_ivfsq, search_ivfsq
        from gofaiss_spark.operators.local_serve import to_local_ivfsq

        v, _ = vq
        idx = build_ivfsq(v, nlist=8, seed=42)
        idx.codes.cache().count()
        _assert_cell_kind_tiers_equal(embeddings, idx, to_local_ivfsq(idx),
                                      search_ivfsq)
        idx.codes.unpersist()

    def test_local_ivfsq_refine_requires_vecs(self, spark, vq):
        from gofaiss_spark.operators.ivfsq import build_ivfsq
        from gofaiss_spark.operators.local_serve import to_local_ivfsq

        v, q = vq
        idx = build_ivfsq(v, nlist=4, seed=42)
        local = to_local_ivfsq(idx)  # no vectors packed
        qp = q.limit(3).toPandas()
        qmat = np.stack(qp["qvec"].to_numpy())
        with pytest.raises(ValueError, match="refine requires"):
            local.search(qmat, k=3, refine=2)

    def test_local_ivfsq_k_exceeds_n_pads(self, spark, vq):
        """k > corpus clamps to n; absent neighbors never appear
        (same padding contract as LocalIvfPqIndex)."""
        from gofaiss_spark.operators.ivfsq import build_ivfsq
        from gofaiss_spark.operators.local_serve import to_local_ivfsq
        from pyspark.sql import functions as F

        v, q = vq
        small = v.filter(F.col("id") < 20)
        idx = build_ivfsq(small, nlist=2, seed=42)
        local = to_local_ivfsq(idx)
        qp = q.limit(2).toPandas()
        qmat = np.stack(qp["qvec"].to_numpy())
        ids, d = local.search(qmat, k=50, nprobe=2)
        assert ids.shape[1] == 20
        assert np.isfinite(d).all()
        assert (ids < 20).all()

    def test_local_sq_matches_search_sq(self, embeddings, vq):
        from gofaiss_spark.operators.local_serve import to_local_sq
        from gofaiss_spark.operators.sq import build_sq, search_sq

        v, _ = vq
        idx = build_sq(v)
        idx.codes.cache().count()
        local = to_local_sq(idx)
        for nq in NQ:
            q, qids, qmat = _query_batch(embeddings, nq)
            _assert_tiers_equal(search_sq(idx, q, k=7), qids,
                                *local.search(qmat, k=7))

    def test_pq_refine_all_equals_flat(self, spark, vq):
        import math

        from gofaiss_spark.operators.local_serve import to_local, to_local_pq
        from gofaiss_spark.operators.pq import build_pq

        v, q = vq
        n = v.count()
        idx = build_pq(v, m=8, seed=42)
        idx.codes.cache().count()
        local = to_local_pq(idx, vectors=v)
        qp = q.orderBy("query_id").toPandas()
        qmat = np.stack(qp["qvec"].to_numpy())
        ids, d = local.search(qmat, k=5, refine=math.ceil(n / 5) + 1)
        fids, fd = to_local(v).search(qmat, k=5)
        np.testing.assert_array_equal(ids, fids)
        np.testing.assert_array_equal(d, fd)

    def test_refine_requires_vectors(self, spark, vq):
        from gofaiss_spark.operators.local_serve import to_local_pq
        from gofaiss_spark.operators.pq import build_pq

        v, q = vq
        idx = build_pq(v.limit(50), m=8, nbits=4, seed=42)
        local = to_local_pq(idx)
        with pytest.raises(ValueError, match="vectors"):
            local.search(np.zeros((1, 64), dtype=np.float32), k=3, refine=2)

    def test_pq_sq_refine_rejects_non_l2_metric(self):
        """ADVICE r6: LocalPqIndex/LocalSqIndex refine re-ranks in
        exact L2 and must reject other metrics loudly — the same
        guard LocalIvfPqIndex.search already has (the shard/pool
        paths propagate meta['metric'] verbatim, so a non-l2 build
        would otherwise get silently L2-refined results)."""
        from gofaiss_spark.operators.local_serve import (
            LocalPqIndex,
            LocalSqIndex,
        )

        rng = np.random.default_rng(2)
        vecs = rng.random((20, 8), dtype=np.float32)
        pq = LocalPqIndex(
            ids=np.arange(20, dtype=np.int64),
            codes=np.zeros((20, 2), dtype=np.uint16),
            codebooks=rng.random((2, 4, 4)),
            vecs=vecs, metric="cosine",
        )
        with pytest.raises(ValueError, match="l2"):
            pq.search(np.zeros((1, 8), dtype=np.float32), k=3, refine=2)
        sq = LocalSqIndex(
            ids=np.arange(20, dtype=np.int64),
            codes=np.zeros((20, 8), dtype=np.uint8),
            vmin=np.zeros(8), step=np.ones(8),
            vecs=vecs, metric="dot",
        )
        with pytest.raises(ValueError, match="l2"):
            sq.search(np.zeros((1, 8), dtype=np.float32), k=3, refine=2)


class TestQuantizedKernelProperties:
    """Numpy-only pins: the serving kernels against a brute-force
    re-derivation of the ADC math (no Spark)."""

    def test_pq_kernel_vs_bruteforce(self):
        from gofaiss_spark.operators.local_serve import LocalPqIndex

        rng = np.random.default_rng(5)
        m, ksub, dsub, n = 4, 8, 5, 500  # dim 20
        books = rng.normal(size=(m, ksub, dsub))
        codes = rng.integers(0, ksub, size=(n, m)).astype(np.uint16)
        idx = LocalPqIndex(
            ids=np.arange(n, dtype=np.int64),
            codes=np.ascontiguousarray(codes), codebooks=books)
        q = rng.normal(size=(7, 20))
        ids, d = idx.search(q.astype(np.float32), k=5)
        # brute force: decode each row from its codebook entries and
        # measure squared L2 per subspace against the f32-cast query
        q64 = q.astype(np.float32).astype(np.float64)
        recon = books[np.arange(m)[None, :], codes.astype(np.int64), :]
        recon = recon.reshape(n, m * dsub)  # (n, dim)
        diff = recon[None, :, :] - q64[:, None, :]
        bf = np.sqrt(np.maximum(0.0, np.einsum("qnd,qnd->qn", diff, diff)))
        for qi in range(7):
            order = np.lexsort((np.arange(n), bf[qi]))[:5]
            np.testing.assert_array_equal(ids[qi], order)
            np.testing.assert_allclose(d[qi], bf[qi][order],
                                       rtol=0, atol=1e-9)

    def test_sq_kernel_vs_bruteforce(self):
        from gofaiss_spark.operators.local_serve import LocalSqIndex

        rng = np.random.default_rng(6)
        n, dim = 400, 12
        vmin = rng.normal(size=dim)
        step = rng.random(dim) * 0.01 + 1e-4
        codes = rng.integers(0, 256, size=(n, dim)).astype(np.uint8)
        idx = LocalSqIndex(
            ids=np.arange(n, dtype=np.int64),
            codes=np.ascontiguousarray(codes), vmin=vmin, step=step)
        q = rng.normal(size=(5, dim))
        ids, d = idx.search(q.astype(np.float32), k=4)
        recon = vmin + codes.astype(np.float64) * step
        q64 = q.astype(np.float32).astype(np.float64)
        diff = recon[None, :, :] - q64[:, None, :]
        bf = np.sqrt(np.einsum("qnd,qnd->qn", diff, diff))
        for qi in range(5):
            order = np.lexsort((np.arange(n), bf[qi]))[:4]
            np.testing.assert_array_equal(ids[qi], order)
            np.testing.assert_allclose(d[qi], bf[qi][order],
                                       rtol=0, atol=1e-9)


class TestServerPool:
    """LocalServerPool — process-parallel serving: block-split output
    must be bit-identical to the in-process kernels (no Spark
    needed; pure NumPy fixtures)."""

    @pytest.fixture(scope="class")
    def ivf_local(self):
        from gofaiss_spark.operators.local_serve import LocalIvfIndex

        rng = np.random.default_rng(7)
        n, dim, nlist = 4000, 24, 20
        vecs = rng.random((n, dim), dtype=np.float32)
        cent = vecs[rng.choice(n, nlist, replace=False)].astype(np.float64)
        cn = (cent * cent).sum(1)
        assign = (vecs.astype(np.float64) @ cent.T * -2 + cn[None]).argmin(1)
        order = np.argsort(assign, kind="stable")
        return LocalIvfIndex(
            ids=np.arange(n, dtype=np.int64)[order],
            vecs=np.ascontiguousarray(vecs[order]),
            metric="l2",
            centroids=cent,
            offsets=np.searchsorted(
                assign[order], np.arange(nlist + 1)
            ).astype(np.int64),
            norms_sq=np.einsum(
                "ij,ij->i", vecs[order], vecs[order]
            ),
        )

    def test_ivf_pool_bit_identical(self, ivf_local, pool_both_ways):
        from gofaiss_spark.operators.local_serve import LocalServerPool

        rng = np.random.default_rng(8)
        q = rng.random((300, 24), dtype=np.float32)
        with LocalServerPool(ivf_local, workers=3) as pool:
            (i_mp, d_mp), ntasks = pool_both_ways(pool, q, k=5, nprobe=4)
        assert ntasks == 6
        i_sp, d_sp = ivf_local.search(q, k=5, nprobe=4)
        assert np.array_equal(i_mp, i_sp)
        assert np.array_equal(d_mp, d_sp)

    def test_flat_pool_bit_identical(self, ivf_local, pool_both_ways):
        from gofaiss_spark.operators.local_serve import (
            LocalFlatIndex,
            LocalServerPool,
        )

        flat = LocalFlatIndex(
            ids=ivf_local.ids, vecs=ivf_local.vecs, metric="l2",
            norms_sq=ivf_local.norms_sq,
        )
        rng = np.random.default_rng(9)
        q = rng.random((100, 24), dtype=np.float32)
        with LocalServerPool(flat, workers=2) as pool:
            (i_mp, d_mp), ntasks = pool_both_ways(pool, q, k=7, nprobe=None)
        assert ntasks == 4
        i_sp, d_sp = flat.search(q, k=7)
        assert np.array_equal(i_mp, i_sp)
        assert np.array_equal(d_mp, d_sp)

    def test_pool_reuse_and_small_batches(self, ivf_local, pool_both_ways):
        from gofaiss_spark.operators.local_serve import LocalServerPool

        rng = np.random.default_rng(10)
        pool = LocalServerPool(ivf_local, workers=2)
        try:
            # fewer rows than workers × 2, split one row a task;
            # repeated use of one pool
            for nq in (1, 3, 50):
                q = rng.random((nq, 24), dtype=np.float32)
                (i_mp, _), ntasks = pool_both_ways(pool, q, k=3, nprobe=20)
                assert ntasks == min(4, nq)
                i_sp, _ = ivf_local.search(q, k=3, nprobe=20)
                assert np.array_equal(i_mp, i_sp)
        finally:
            pool.close()
        pool.close()  # idempotent

    def test_pq_pool_bit_identical(self, pool_both_ways):
        from gofaiss_spark.operators.local_serve import (
            LocalPqIndex,
            LocalServerPool,
        )

        rng = np.random.default_rng(12)
        m, ksub, dsub = 4, 16, 6  # dim 24
        books = rng.normal(size=(m, ksub, dsub))
        codes = rng.integers(0, ksub, size=(3000, m)).astype(np.uint16)
        vecs = rng.random((3000, 24), dtype=np.float32)
        idx = LocalPqIndex(
            ids=np.arange(3000, dtype=np.int64),
            codes=np.ascontiguousarray(codes),
            codebooks=books, vecs=vecs,
        )
        q = rng.random((200, 24), dtype=np.float32)
        with LocalServerPool(idx, workers=3) as pool:
            (i_mp, d_mp), _ = pool_both_ways(pool, q, k=5, nprobe=None)
            (ri_mp, rd_mp), _ = pool_both_ways(
                pool, q, k=5, nprobe=None, refine=3)
        i_sp, d_sp = idx.search(q, k=5)
        ri_sp, rd_sp = idx.search(q, k=5, refine=3)
        np.testing.assert_array_equal(i_mp, i_sp)
        np.testing.assert_array_equal(d_mp, d_sp)
        np.testing.assert_array_equal(ri_mp, ri_sp)
        np.testing.assert_array_equal(rd_mp, rd_sp)

    def test_ivfpq_pool_bit_identical(self, pool_both_ways):
        from gofaiss_spark.operators.local_serve import (
            LocalIvfPqIndex,
            LocalServerPool,
        )

        rng = np.random.default_rng(13)
        m, ksub, dsub, nlist, n = 4, 16, 6, 8, 3000  # dim 24
        books = rng.normal(size=(m, ksub, dsub))
        cents = rng.normal(size=(nlist, 24))
        cell = np.sort(rng.integers(0, nlist, size=n))
        offsets = np.searchsorted(
            cell, np.arange(nlist + 1)).astype(np.int64)
        codes = rng.integers(0, ksub, size=(n, m)).astype(np.uint16)
        vecs = rng.random((n, 24), dtype=np.float32)
        idx = LocalIvfPqIndex(
            ids=np.arange(n, dtype=np.int64),
            codes=np.ascontiguousarray(codes), codebooks=books,
            centroids=cents, offsets=offsets, vecs=vecs,
        )
        q = rng.random((150, 24), dtype=np.float32)
        with LocalServerPool(idx, workers=3) as pool:
            (i_mp, d_mp), _ = pool_both_ways(pool, q, k=5, nprobe=3)
            (ri_mp, rd_mp), _ = pool_both_ways(
                pool, q, k=5, nprobe=3, refine=4)
        i_sp, d_sp = idx.search(q, k=5, nprobe=3)
        ri_sp, rd_sp = idx.search(q, k=5, nprobe=3, refine=4)
        np.testing.assert_array_equal(i_mp, i_sp)
        np.testing.assert_array_equal(d_mp, d_sp)
        np.testing.assert_array_equal(ri_mp, ri_sp)
        np.testing.assert_array_equal(rd_mp, rd_sp)

    def test_sq_pool_bit_identical(self, pool_both_ways):
        from gofaiss_spark.operators.local_serve import (
            LocalServerPool,
            LocalSqIndex,
        )

        rng = np.random.default_rng(14)
        n, dim = 2500, 16
        vmin = rng.normal(size=dim)
        step = rng.random(dim) * 0.01 + 1e-4
        codes = rng.integers(0, 256, size=(n, dim)).astype(np.uint8)
        vecs = rng.random((n, dim), dtype=np.float32)
        idx = LocalSqIndex(
            ids=np.arange(n, dtype=np.int64),
            codes=np.ascontiguousarray(codes),
            vmin=vmin, step=step, vecs=vecs,
        )
        q = rng.random((120, dim), dtype=np.float32)
        with LocalServerPool(idx, workers=2) as pool:
            (i_mp, d_mp), _ = pool_both_ways(pool, q, k=4, nprobe=None)
            (ri_mp, rd_mp), _ = pool_both_ways(
                pool, q, k=4, nprobe=None, refine=3)
        i_sp, d_sp = idx.search(q, k=4)
        ri_sp, rd_sp = idx.search(q, k=4, refine=3)
        np.testing.assert_array_equal(i_mp, i_sp)
        np.testing.assert_array_equal(d_mp, d_sp)
        np.testing.assert_array_equal(ri_mp, ri_sp)
        np.testing.assert_array_equal(rd_mp, rd_sp)

    def test_pool_rejects_unknown_index(self):
        from gofaiss_spark.operators.local_serve import LocalServerPool

        with pytest.raises(TypeError):
            LocalServerPool(object())

    def test_pool_empty_query_batch(self, ivf_local):
        from gofaiss_spark.operators.local_serve import LocalServerPool

        with LocalServerPool(ivf_local, workers=2) as pool:
            ids, d = pool.search(
                np.empty((0, 24), dtype=np.float32), k=5, nprobe=4
            )
        assert ids.shape == (0, 5) and d.shape == (0, 5)
        assert ids.dtype == np.int64 and d.dtype == np.float64

    def test_pool_blas_cap_is_the_spawn_environment(self, ivf_local,
                                                    monkeypatch):
        """Building a pool warns about nothing; every worker exists
        when it returns, so each one started inside the spawn window
        and runs with its BLAS cap, while the parent gets its own
        value back."""
        import os
        import time
        import warnings

        from gofaiss_spark.operators.local_serve import LocalServerPool

        monkeypatch.setenv("OPENBLAS_NUM_THREADS", "3")
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            pool = LocalServerPool(ivf_local, workers=2, worker_threads=1)
        try:
            procs = list(pool._procs)
            assert len(procs) == 2 and all(p.is_alive() for p in procs)
            assert os.environ["OPENBLAS_NUM_THREADS"] == "3"
            # eval is a builtin, so the task pickles by reference
            task = ("__import__('os').getpid(), "
                    "__import__('os').environ.get('OPENBLAS_NUM_THREADS')")
            seen, deadline = {}, time.monotonic() + 60
            while len(seen) < 2 and time.monotonic() < deadline:
                seen.update(pool._run([(eval, (task,))] * 8))
            assert set(seen) == {p.pid for p in procs}
            assert set(seen.values()) == {"1"}
        finally:
            pool.close()

    def test_pool_close_stops_a_request_in_flight(self, ivf_local):
        """close() while another thread's request runs returns within
        seconds, leaves no worker alive and unlinks the segments; the
        client's request raises instead of hanging. A second close()
        is a no-op."""
        import os
        import threading
        import time

        from gofaiss_spark.operators.local_serve import LocalServerPool

        pool = LocalServerPool(ivf_local, workers=2)
        procs = list(pool._procs)
        segs = [shm.name for shm in pool._shms]
        q = np.random.default_rng(4).random((4096, 24), dtype=np.float32)
        served, errors = threading.Event(), []

        def client():
            try:
                while True:
                    pool.search(q, k=10, nprobe=20)
                    served.set()
            except Exception as exc:
                errors.append(exc)

        t = threading.Thread(target=client, daemon=True)
        t.start()
        try:
            assert served.wait(60)
            t0 = time.monotonic()
            pool.close()
            assert time.monotonic() - t0 < 5
        finally:
            pool.close()
        t.join(10)
        assert not t.is_alive() and errors
        assert procs and all(not p.is_alive() for p in procs)
        assert not any(os.path.exists(f"/dev/shm/{n}") for n in segs)

    def test_pool_concurrent_clients_outnumber_workers(self, ivf_local):
        """8 client threads × 50 requests of 1-600 queries on 2
        workers: split requests check out only the workers already
        idle, so no call waits on another and the run finishes in
        time, with every answer the in-process replica's bits. A short
        switch interval makes the client threads interleave often."""
        import sys
        import threading
        import time

        from gofaiss_spark.operators.local_serve import LocalServerPool

        wrong, done = [], []

        def client(seed):
            rng = np.random.default_rng(seed)
            for _ in range(50):
                q = rng.random((int(rng.integers(1, 601)), 24),
                               dtype=np.float32)
                got = pool.search(q, k=10, nprobe=4)
                want = ivf_local.search(q, k=10, nprobe=4)
                if not all(np.array_equal(a, b) for a, b in zip(got, want)):
                    wrong.append(seed)
            done.append(seed)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with LocalServerPool(ivf_local, workers=2) as pool:
                threads = [threading.Thread(target=client, args=(s,),
                                            daemon=True) for s in range(8)]
                deadline = time.monotonic() + 180
                for t in threads:
                    t.start()
                for t in threads:
                    t.join(max(0.0, deadline - time.monotonic()))
                assert not any(t.is_alive() for t in threads)
        finally:
            sys.setswitchinterval(interval)
        assert sorted(done) == list(range(8)) and not wrong

    def test_shm_export_empty_array(self):
        from gofaiss_spark.operators.local_serve import (
            _shm_attach,
            _shm_export,
        )

        shm, meta = _shm_export(np.empty((0, 24), dtype=np.float32))
        try:
            shm2, arr = _shm_attach(meta)
            assert arr.shape == (0, 24) and arr.dtype == np.float32
            shm2.close()
        finally:
            shm.close()
            shm.unlink()


# --- LocalIvfIndex kernels against a brute-force f64 scan (pure NumPy) ---

IVF_DIM, IVF_NLIST = 16, 32


def _ivf_replica(metric: str, layout: str) -> "LocalIvfIndex":
    """A clustered LocalIvfIndex in one of three layouts: ``full`` (every
    cell populated), ``shard`` (a list-sharded replica in the
    ``shard_serve._load_shard`` layout: all nlist centroids, 3 of every
    4 cells empty) and ``tiny`` (every cell smaller than k)."""
    from gofaiss_spark.functions.distance import np_distance_matrix
    from gofaiss_spark.operators.local_serve import LocalIvfIndex

    rng = np.random.default_rng(17)
    n = 3 * IVF_NLIST if layout == "tiny" else 3000
    centres = rng.normal(size=(8, IVF_DIM))
    x = (centres[rng.integers(0, 8, n)]
         + rng.normal(scale=0.3, size=(n, IVF_DIM))).astype(np.float32)
    x[5] = 0.0  # a zero row: cosine's zero-vector contract
    cents = x[rng.choice(n, IVF_NLIST, replace=False)].astype(np.float64)
    cell = np.argmin(np_distance_matrix(cents, x.astype(np.float64), metric),
                     axis=0)
    if layout == "tiny":
        cell = np.arange(n) % IVF_NLIST
    ids = rng.permutation(n).astype(np.int64)
    if layout == "shard":
        keep = cell % 4 == 1
        x, cell, ids = x[keep], cell[keep], ids[keep]
    order = np.lexsort((ids, cell))
    vecs = np.ascontiguousarray(x[order])
    return LocalIvfIndex(
        ids=ids[order], vecs=vecs, metric=metric, centroids=cents,
        offsets=np.searchsorted(cell[order], np.arange(IVF_NLIST + 1)),
        norms_sq=np.einsum("ij,ij->i", vecs, vecs))


def _quantized_replica(kind: str, layout: str):
    """An IVFPQ (M=4, 64 codewords) or IVFSQ (SQ8) replica over the
    residuals of ``_ivf_replica("l2", layout)``'s rows, with the rows
    stored for refine."""
    from gofaiss_spark.operators.local_serve import (
        LocalIvfPqIndex,
        LocalIvfSqIndex,
    )

    idx = _ivf_replica("l2", layout)
    rng = np.random.default_rng(23)
    cell = np.searchsorted(idx.offsets, np.arange(len(idx.ids)),
                           side="right") - 1
    resid = idx.vecs.astype(np.float64) - idx.centroids[cell]
    common = dict(ids=idx.ids, centroids=idx.centroids,
                  offsets=idx.offsets, vecs=idx.vecs)
    if kind == "ivfpq":
        books, codes = _pq_codes(resid, 4, 64, rng)
        return LocalIvfPqIndex(codes=codes, codebooks=books, **common)
    vmin = resid.min(axis=0)
    step = (resid.max(axis=0) - vmin) / 255.0
    codes = np.rint((resid - vmin) / step).astype(np.uint8)
    return LocalIvfSqIndex(codes=codes, vmin=vmin, step=step, **common)


def _pq_codes(x: np.ndarray, m: int, ksub: int, rng):
    """Codebooks sampled from ``x``'s subvectors and each row's
    nearest codewords: enough structure for a brute-force check."""
    sub = x.reshape(len(x), m, -1)
    books = np.stack([sub[rng.integers(0, len(x), ksub), j]
                      for j in range(m)])
    codes = np.stack([
        np.argmin(((sub[:, j, None, :] - books[j][None]) ** 2).sum(-1),
                  axis=1) for j in range(m)], axis=1)
    return books, codes.astype(np.uint16)


def _exact_distances(idx, q: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """f64 distance of one query to the stored rows ``rows`` as each
    index kind reports it, pair by pair: the metric's formula on the
    raw rows (Flat, IVF), sqrt of the f64 ADC sum (PQ, IVFPQ) or the
    exact L2 to the decoded point (SQ, IVFSQ). The cell kinds code
    each row's residual to its cell centroid."""
    from gofaiss_spark.operators.pq import adc_accumulate, adc_tables

    if hasattr(idx, "norms_sq"):
        vb = idx.vecs[rows].astype(np.float64)
        qq = np.repeat(q[None, :], len(rows), axis=0)
        if idx.metric == "l2":
            diff = vb - qq
            return np.sqrt(np.einsum("kd,kd->k", diff, diff))
        if idx.metric == "cosine":
            denom = (np.sqrt(np.einsum("kd,kd->k", vb, vb))
                     * np.linalg.norm(qq, axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                d = 1.0 - np.clip(np.einsum("kd,kd->k", vb, qq) / denom,
                                  -1.0, 1.0)
            d[denom == 0.0] = 1.0
            return d
        return -np.einsum("kd,kd->k", vb, qq)
    if hasattr(idx, "offsets"):
        cell = np.searchsorted(idx.offsets, rows, side="right") - 1
        target = q[None, :] - idx.centroids[cell]
    else:
        cell = np.zeros(len(rows), dtype=np.int64)
        target = np.repeat(q[None, :], len(rows), axis=0)
    if hasattr(idx, "codebooks"):
        d2 = np.empty(len(rows))
        for c in np.unique(cell):
            m = cell == c
            tabs = adc_tables(idx.codebooks, target[m][:1])
            d2[m] = adc_accumulate(tabs, idx.codes[rows[m]])[0]
        return np.sqrt(d2)
    diff = idx.vmin + idx.codes[rows].astype(np.float64) * idx.step - target
    return np.sqrt(np.einsum("kd,kd->k", diff, diff))


def _probed_bruteforce(idx, q64: np.ndarray, k: int, nprobe: int | None,
                       refine: int | None = None):
    """Per query: every row of its probed cells (every row without
    cells) scored by ``_exact_distances``, ascending (distance, id),
    padded to width k with (int64.max, inf). ``refine`` re-ranks the
    top k·refine + 16 by exact L2 to the stored rows."""
    from gofaiss_spark.functions.distance import np_distance_matrix

    nq = len(q64)
    out_ids = np.full((nq, k), np.iinfo(np.int64).max, dtype=np.int64)
    out_d = np.full((nq, k), np.inf)
    if nprobe is not None:
        dm = np_distance_matrix(idx.centroids, q64, idx.metric)
    for i in range(nq):
        if nprobe is None:
            rows = np.arange(len(idx.ids))
        else:
            cells = (np.argpartition(dm[:, i], nprobe - 1)[:nprobe]
                     if nprobe < idx.nlist else np.arange(idx.nlist))
            rows = np.concatenate([
                np.arange(idx.offsets[c], idx.offsets[c + 1])
                for c in cells])
        d = _exact_distances(idx, q64[i], rows)
        if refine:
            rows = rows[np.lexsort((idx.ids[rows], d))[:k * refine + 16]]
            diff = idx.vecs[rows].astype(np.float64) - q64[i]
            d = np.sqrt(np.einsum("kd,kd->k", diff, diff))
        o = np.lexsort((idx.ids[rows], d))[:k]
        out_ids[i, :len(o)] = idx.ids[rows][o]
        out_d[i, :len(o)] = d[o]
    return out_ids, out_d


def _ivf_queries(idx, nq: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    q = idx.vecs[rng.integers(0, len(idx.vecs), nq)].astype(np.float64)
    return q + rng.normal(scale=0.05, size=q.shape)


@pytest.mark.parametrize("layout", ["full", "shard", "tiny"])
@pytest.mark.parametrize("metric,kind,refine", [
    pytest.param("l2", "ivf", None, id="l2"),
    pytest.param("cosine", "ivf", None, id="cosine"),
    pytest.param("dot", "ivf", None, id="dot"),
    pytest.param("l2", "ivfpq", None, id="ivfpq"),
    pytest.param("l2", "ivfpq", 4, id="ivfpq-refine4"),
    pytest.param("l2", "ivfsq", None, id="ivfsq"),
    pytest.param("l2", "ivfsq", 4, id="ivfsq-refine4"),
])
def test_ivf_kernels_bit_identical_to_probed_scan(metric, kind, refine,
                                                  layout, monkeypatch):
    """The cell-family kernels return exactly the top-k of an f64
    scan of each query's probed cells — ids and distances — at batch
    sizes on both sides of LocalIvfIndex's per-query / cell-grouped
    rule; for IVFPQ and IVFSQ with and without refine."""
    from gofaiss_spark.operators import local_serve

    idx = (_ivf_replica(metric, layout) if kind == "ivf"
           else _quantized_replica(kind, layout))
    ran = []

    def spy(owner, name):
        kernel = getattr(owner, name)

        def wrapped(*args):
            ran.append(name)
            return kernel(*args)
        monkeypatch.setattr(owner, name, wrapped)

    spy(local_serve.LocalIvfIndex, "_rank_per_query")
    spy(local_serve, "_rank_by_cell")
    kw = {} if kind == "ivf" else {"refine": refine}
    for nq in (1, 2, 16, 17, 64, 1024):
        q64 = _ivf_queries(idx, nq, seed=nq)
        if metric == "cosine":
            q64[0] = 0.0  # zero query
        for nprobe in (1, 4, IVF_NLIST):
            ids, d = idx.search(q64, k=10, nprobe=nprobe, **kw)
            want_ids, want_d = _probed_bruteforce(idx, q64, 10, nprobe,
                                                  refine)
            np.testing.assert_array_equal(ids, want_ids)
            np.testing.assert_array_equal(d, want_d)
    # LocalIvfIndex runs both kernels; the quantized kinds only pool
    assert set(ran) == ({"_rank_per_query", "_rank_by_cell"}
                        if kind == "ivf" else {"_rank_by_cell"})


@pytest.mark.parametrize("kind", ["flat", "pq", "sq"])
def test_scan_kernels_bit_identical_to_bruteforce(kind):
    """The scan-family kernels (Flat, PQ, SQ) return exactly the top-k
    of an f64 brute force over every row. n spans three 8,192-row
    tiles and nq two 128-query blocks; rows and queries are sorted
    along one axis, so a later tile passes the column filter for one
    query block and is rejected outright for the other."""
    from gofaiss_spark.operators.local_serve import (
        LocalFlatIndex,
        LocalPqIndex,
        LocalSqIndex,
    )

    rng = np.random.default_rng(29)
    n, dim = 20_000, 8
    x = rng.normal(size=(n, dim))
    x[:, 0] = np.linspace(0.0, 100.0, n)
    x = x.astype(np.float32)
    q64 = rng.normal(size=(200, dim))
    q64[:, 0] = np.sort(np.concatenate([rng.uniform(0, 30, 128),
                                        rng.uniform(70, 100, 72)]))
    ids = rng.permutation(n).astype(np.int64)
    x64 = x.astype(np.float64)
    if kind == "pq":
        books, codes = _pq_codes(x64, 4, 256, rng)
        metrics = {"l2": LocalPqIndex(ids=ids, codes=codes,
                                      codebooks=books)}
    elif kind == "sq":
        vmin = x64.min(axis=0)
        step = (x64.max(axis=0) - vmin) / 255.0
        metrics = {"l2": LocalSqIndex(
            ids=ids, codes=np.rint((x64 - vmin) / step).astype(np.uint8),
            vmin=vmin, step=step)}
    else:
        metrics = {m: LocalFlatIndex(ids, x, m, np.einsum("ij,ij->i", x, x))
                   for m in ("l2", "cosine", "dot")}
    for idx in metrics.values():
        for nq in (1, 200):
            ids_, d = idx.search(q64[:nq], k=10)
            want_ids, want_d = _probed_bruteforce(idx, q64[:nq], 10, None)
            np.testing.assert_array_equal(ids_, want_ids)
            np.testing.assert_array_equal(d, want_d)


@pytest.mark.parametrize("k", [0, -1, -17])
def test_ivf_nonpositive_k_returns_every_probed_candidate(k):
    """k ≤ 0 means every candidate in the probed cells (the search_ivf,
    LocalFlatIndex and LocalIvfPqIndex contract), for both kernels."""
    idx = _ivf_replica("l2", "full")
    n = len(idx.ids)
    for nq in (2, 64):
        q64 = _ivf_queries(idx, nq, seed=3)
        ids, d = idx.search(q64, k=k, nprobe=4)
        assert ids.shape == d.shape == (nq, n)
        want_ids, want_d = _probed_bruteforce(idx, q64, n, 4)
        np.testing.assert_array_equal(ids, want_ids)
        np.testing.assert_array_equal(d, want_d)


def test_ivf_concurrent_callers_match_serial():
    """Four threads share one LocalIvfIndex: every answer equals the
    serial one, and GUARD_FALLBACKS rises by exactly the serial count
    (no lost updates), with batches for both kernels."""
    import sys
    import threading

    from gofaiss_spark.operators import local_serve
    from gofaiss_spark.operators.local_serve import LocalIvfIndex

    # near-ties far below f32 resolution trip the margin guard
    rng = np.random.default_rng(7)
    u = rng.normal(size=IVF_DIM)
    u /= np.linalg.norm(u)
    v = rng.normal(size=IVF_DIM)
    v -= (v @ u) * u
    v /= np.linalg.norm(v)
    n = 400
    base = (100.0 * u + (1.0 + rng.permutation(n)[:, None] * 1e-4)
            * v).astype(np.float32)
    cell = np.arange(n) % 4
    order = np.lexsort((np.arange(n), cell))
    vecs = np.ascontiguousarray(base[order])
    idx = LocalIvfIndex(
        ids=np.arange(n, dtype=np.int64)[order], vecs=vecs, metric="l2",
        centroids=np.stack([base[cell == c].mean(0) for c in range(4)]
                           ).astype(np.float64),
        offsets=np.searchsorted(cell[order], np.arange(5)),
        norms_sq=np.einsum("ij,ij->i", vecs, vecs))
    batches = [(100.0 * u + rng.normal(scale=1e-3, size=(m, IVF_DIM)))
               for m in (1, 3, 16, 40) * 4]
    before = local_serve.GUARD_FALLBACKS
    serial = [idx.search(b, k=10, nprobe=2) for b in batches]
    serial_fallbacks = local_serve.GUARD_FALLBACKS - before
    assert serial_fallbacks > 0

    got = [None] * len(batches)

    def client(t: int) -> None:
        for j in range(t, len(batches), 4):
            got[j] = idx.search(batches[j], k=10, nprobe=2)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        before = local_serve.GUARD_FALLBACKS
        threads = [threading.Thread(target=client, args=(t,))
                   for t in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert local_serve.GUARD_FALLBACKS - before == serial_fallbacks
    for (ids, d), (sids, sd) in zip(got, serial):
        np.testing.assert_array_equal(ids, sids)
        np.testing.assert_array_equal(d, sd)
