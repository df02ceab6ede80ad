"""Driver-colocated HNSW serving tier (LocalHnswRoutedIndex +
LocalServerPool kind "hnsw_routed").

Contract under test: the packed-CSR local tier must return EXACTLY
what the distributed routed search returns (same routing code, same
per-cell graph algorithm), and the process pool must be bit-identical
to the in-process kernel. Reference semantics: hnsw.go:142-187
(search), the FAISS IVF+HNSW composition for routing.
"""

from __future__ import annotations

import numpy as np
import pytest

from gofaiss_spark.operators.hnsw import (
    HnswGraph,
    _build_graph,
    _prep,
    _search_graph_batch,
)
from gofaiss_spark.operators.local_serve import (
    LocalHnswRoutedIndex,
    _pack_graphs,
    _unpack_graphs,
    hnsw_to_local,
)


def _mk_graph(n: int, dim: int, seed: int, metric: str = "l2") -> HnswGraph:
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64) * 7 + seed  # non-trivial ids
    vecs = _prep(rng.random((n, dim)).astype(np.float32), metric)
    return _build_graph(ids, vecs, 8, 64, metric, seed)


class TestPackRoundTrip:
    def test_multi_graph_roundtrip(self):
        graphs = [_mk_graph(n, 16, s) for n, s in ((120, 1), (75, 2), (50, 3))]
        cents = np.random.default_rng(0).normal(size=(3, 16))
        arrays = _pack_graphs(graphs, cents)
        # everything shm-exportable: contiguous numpy arrays only
        for key, arr in arrays.items():
            assert isinstance(arr, np.ndarray), key
            assert arr.flags["C_CONTIGUOUS"], key
        back, cents2 = _unpack_graphs(arrays)
        np.testing.assert_array_equal(cents2, cents)
        assert len(back) == len(graphs)
        for g0, g1 in zip(graphs, back):
            assert (g0.metric, g0.dim, g0.m) == (g1.metric, g1.dim, g1.m)
            assert g0.entry_point == g1.entry_point
            assert g0.max_level == g1.max_level
            np.testing.assert_array_equal(g0.ids, g1.ids)
            np.testing.assert_array_equal(g0.vecs, g1.vecs)
            np.testing.assert_array_equal(g0.levels, g1.levels)
            assert len(g0.edges) == len(g1.edges)
            for e0, e1 in zip(g0.edges, g1.edges):
                assert set(e0.keys()) == set(e1.keys())
                for node in e0:
                    np.testing.assert_array_equal(e0[node], e1[node])

    def test_unpacked_graph_searches_identically(self):
        g = _mk_graph(300, 24, 9)
        arrays = _pack_graphs([g], np.zeros((1, 24)))
        (g2,), _ = _unpack_graphs(arrays)
        rng = np.random.default_rng(10)
        q = _prep(rng.random((20, 24)).astype(np.float32), "l2")
        qids = np.arange(20, dtype=np.int64)
        a = _search_graph_batch(g, q, qids, 5, 50)
        b = _search_graph_batch(g2, q, qids, 5, 50)
        assert a.equals(b)


class TestLocalHnswSearch:
    @pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
    def test_single_graph_matches_batch_kernel(self, metric):
        g = _mk_graph(400, 16, 4, metric)
        local = LocalHnswRoutedIndex(
            graphs=[g], centroids=np.zeros((1, 16)), metric=metric,
            ef_search=50, default_nprobe=1)
        rng = np.random.default_rng(11)
        qraw = rng.random((15, 16)).astype(np.float32)
        ids, dists = local.search(qraw, k=7)
        ref = _search_graph_batch(
            g, _prep(qraw, metric), np.arange(15, dtype=np.int64), 7, 50)
        for qi in range(15):
            sub = ref[ref["query_id"] == qi]
            np.testing.assert_array_equal(ids[qi], sub["id"].to_numpy())
            np.testing.assert_allclose(
                dists[qi], sub["distance"].to_numpy(), rtol=0, atol=0)

    def test_k_larger_than_corpus_pads(self):
        g = _mk_graph(6, 8, 5)
        local = LocalHnswRoutedIndex(
            graphs=[g], centroids=np.zeros((1, 8)), metric="l2",
            ef_search=50, default_nprobe=1)
        ids, dists = local.search(
            np.random.default_rng(1).random((3, 8), dtype=np.float32), k=10)
        assert ids.shape == (3, 6)  # clamped to corpus size
        assert np.isfinite(dists).all()

    def test_k_nonpositive_raises(self):
        g = _mk_graph(10, 8, 6)
        local = LocalHnswRoutedIndex(
            graphs=[g], centroids=np.zeros((1, 8)), metric="l2",
            ef_search=50, default_nprobe=1)
        with pytest.raises(ValueError):
            local.search(np.zeros((1, 8), dtype=np.float32), k=0)

    def test_empty_query_batch(self):
        g = _mk_graph(10, 8, 7)
        local = LocalHnswRoutedIndex(
            graphs=[g], centroids=np.zeros((1, 8)), metric="l2",
            ef_search=50, default_nprobe=1)
        ids, dists = local.search(np.zeros((0, 8), dtype=np.float32), k=3)
        assert ids.shape[0] == 0 and dists.shape[0] == 0

    def test_routed_full_probe_equals_union(self):
        """nprobe=G must equal searching every cell — routing only
        prunes, it never changes per-cell results."""
        graphs = [_mk_graph(n, 12, s) for n, s in ((90, 21), (60, 22))]
        cents = np.stack([g.vecs.mean(axis=0).astype(np.float64)
                          for g in graphs])
        local = LocalHnswRoutedIndex(
            graphs=graphs, centroids=cents, metric="l2",
            ef_search=40, default_nprobe=2)
        rng = np.random.default_rng(23)
        q = rng.random((10, 12)).astype(np.float32)
        ids_full, d_full = local.search(q, k=5, nprobe=2)
        # manual union of per-graph batch kernels
        qp = _prep(q, "l2")
        qids = np.arange(10, dtype=np.int64)
        frames = [_search_graph_batch(g, qp, qids, 5, 40) for g in graphs]
        import pandas as pd

        allf = pd.concat(frames)
        for qi in range(10):
            sub = allf[allf["query_id"] == qi].sort_values(
                ["distance", "id"], kind="mergesort").head(5)
            np.testing.assert_array_equal(ids_full[qi], sub["id"].to_numpy())
            np.testing.assert_allclose(
                d_full[qi], sub["distance"].to_numpy(), rtol=0, atol=0)


@pytest.mark.usefixtures("spark")
class TestAgainstDistributedRouted:
    def test_local_equals_distributed_routed(self, spark):
        """The local tier vs search_hnsw_routed on the same Spark-built
        index: identical ids and distances (same routing + same graph
        kernel), across nprobe settings."""
        from pyspark.sql import functions as F

        from gofaiss_spark.operators.hnsw import (
            build_hnsw_routed,
            search_hnsw_routed,
        )
        from gofaiss_spark.operators.local_serve import hnsw_routed_to_local

        rng = np.random.default_rng(30)
        n, dim = 1200, 16
        vecs = rng.random((n, dim)).astype(np.float32)
        df = spark.createDataFrame(
            [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
            "id long, vec array<float>")
        idx = build_hnsw_routed(df, nlist=8, m=8, ef_construction=64,
                                seed=7)
        local = hnsw_routed_to_local(idx)
        nq = 25
        qv = rng.random((nq, dim)).astype(np.float32)
        qdf = spark.createDataFrame(
            [(int(i), [float(x) for x in qv[i]]) for i in range(nq)],
            "query_id long, qvec array<float>")
        for nprobe in (2, 8):
            dist = (search_hnsw_routed(idx, qdf, k=6, nprobe=nprobe)
                    .orderBy("query_id", "rank").collect())
            ids, dists = local.search(qv, k=6, nprobe=nprobe)
            got = {}
            for r in dist:
                got.setdefault(r["query_id"], []).append(
                    (r["id"], round(r["distance"], 9)))
            for qi in range(nq):
                mine = [(int(ids[qi][j]), round(float(dists[qi][j]), 9))
                        for j in range(6)]
                assert mine == got[qi], f"nprobe={nprobe} q={qi}"


class TestHnswPool:
    def test_pool_bit_identical_routed(self, pool_both_ways):
        from gofaiss_spark.operators.local_serve import LocalServerPool

        graphs = [_mk_graph(n, 12, s)
                  for n, s in ((300, 41), (200, 42), (150, 43))]
        cents = np.stack([g.vecs.mean(axis=0).astype(np.float64)
                          for g in graphs])
        local = LocalHnswRoutedIndex(
            graphs=graphs, centroids=cents, metric="l2",
            ef_search=45, default_nprobe=2)
        rng = np.random.default_rng(44)
        q = rng.random((64, 12)).astype(np.float32)
        ids0, d0 = local.search(q, k=8, nprobe=2)
        pool = LocalServerPool(local, workers=3, worker_threads=1)
        try:
            (ids1, d1), ntasks = pool_both_ways(pool, q, k=8, nprobe=2)
        finally:
            pool.close()
        assert ntasks > 1  # cell groups balanced over several tasks
        np.testing.assert_array_equal(ids0, ids1)
        np.testing.assert_array_equal(d0, d1)

    def test_pool_single_graph_via_hnsw_to_local(self, pool_both_ways):
        from gofaiss_spark.operators.hnsw import HnswIndex
        from gofaiss_spark.operators.local_serve import LocalServerPool

        g = _mk_graph(500, 16, 51)
        local = hnsw_to_local(HnswIndex(graph=g), ef_search=60)
        rng = np.random.default_rng(52)
        q = rng.random((40, 16)).astype(np.float32)
        ids0, d0 = local.search(q, k=5)
        pool = LocalServerPool(local, workers=2, worker_threads=1)
        try:
            (ids1, d1), ntasks = pool_both_ways(pool, q, k=5)
        finally:
            pool.close()
        assert ntasks > 1  # the one graph's queries split over tasks
        np.testing.assert_array_equal(ids0, ids1)
        np.testing.assert_array_equal(d0, d1)


class TestEmptyCellRouting:
    """ADVICE r6 (medium): a batch whose every probed cell is a
    validly-empty (None) graph must return the (-1, inf) padding rows
    instead of crashing in pd.concat — the distributed
    search_hnsw_routed simply yields no rows for such queries."""

    def _mk(self):
        g = _mk_graph(50, 8, 9)
        cents = np.stack([
            g.vecs.mean(axis=0).astype(np.float64),
            np.full(8, 100.0),  # far centroid, validly-empty cell
        ])
        return g, LocalHnswRoutedIndex(
            graphs=[g, None], centroids=cents, metric="l2",
            ef_search=40, default_nprobe=1)

    def test_all_probed_cells_empty_returns_padding(self):
        _, local = self._mk()
        # the single query sits on the EMPTY cell's centroid →
        # nprobe=1 probes only the None graph → frames == []
        q = np.full((1, 8), 100.0, dtype=np.float32)
        ids, dists = local.search(q, k=5, nprobe=1)
        assert ids.shape == (1, 5)
        assert (ids[0] == -1).all()
        assert np.isinf(dists[0]).all()

    def test_mixed_batch_pads_only_empty_routed_rows(self):
        g, local = self._mk()
        q = np.stack([
            np.full(8, 100.0, dtype=np.float32),       # → empty cell
            g.vecs.mean(axis=0).astype(np.float32),    # → built cell
        ])
        ids, dists = local.search(q, k=5, nprobe=1)
        assert (ids[0] == -1).all() and np.isinf(dists[0]).all()
        assert (ids[1] >= 0).all() and np.isfinite(dists[1]).all()

    def test_full_probe_ignores_empty_cell(self):
        g, local = self._mk()
        rng = np.random.default_rng(3)
        q = rng.random((4, 8)).astype(np.float32)
        full_ids, full_d = local.search(q, k=5, nprobe=2)
        solo = LocalHnswRoutedIndex(
            graphs=[g], centroids=local.centroids[:1], metric="l2",
            ef_search=40, default_nprobe=1)
        solo_ids, solo_d = solo.search(q, k=5, nprobe=1)
        np.testing.assert_array_equal(full_ids, solo_ids)
        np.testing.assert_allclose(full_d, solo_d, rtol=0, atol=0)
