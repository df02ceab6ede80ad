"""Adversarial margin-guard tests (round-5 verdict item 2).

The f32-select kernels (LocalFlatIndex/LocalIvfIndex in
operators/local_serve.py, which the distributed search_flat and
search_ivf also run over each Arrow batch) rank candidates in single
precision and exactly re-score only the top-(k+16). These tests
construct inputs where f32 ranking error EXCEEDS the true distance gaps — near-ties below f32 resolution and
exact duplicates tied past the +16 buffer — and assert the guarded
kernels still return the exact f64 answer (reference analogue: the
exactness contract of the flat scan, pkg/index/flat/flat.go:74-114).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gofaiss_spark.functions.distance import np_distance_matrix
from gofaiss_spark.operators import local_serve
from gofaiss_spark.operators.local_serve import (
    LocalIvfIndex,
    to_local,
)
from gofaiss_spark.operators.topk import search_flat

DIM = 32
K = 10


def _near_tie_corpus(metric: str, n: int = 240, seed: int = 7):
    """Vectors whose exact-distance gaps to the query are far below
    the f32 score error: magnitudes ~1e2 (f32 coordinate resolution
    ~6e-6 keeps the 1e-4 spacings distinct) while the f32 GEMM score
    error is ~d*eps*|b||q| ~ 1e-2. All values are f32-representable
    so every tier (double columns, f32 index arrays) sees identical
    inputs."""
    rng = np.random.default_rng(seed)
    u = rng.normal(size=DIM)
    u /= np.linalg.norm(u)
    w = rng.normal(size=DIM)
    w -= (w @ u) * u
    w /= np.linalg.norm(w)
    q = 100.0 * u
    radii = 1.0 + np.arange(n) * 1e-4
    rng.shuffle(radii)  # ids uncorrelated with distance
    base = q[None, :] + radii[:, None] * w[None, :]
    if metric == "dot":
        # for MIPS, near-ties in the inner product instead
        base = base * (1.0 + np.arange(n)[:, None] * 1e-9)
    return (base.astype(np.float32).astype(np.float64),
            q.astype(np.float32).astype(np.float64)[None, :])


def _dup_corpus(n_dup: int = 120, n_other: int = 80, seed: int = 3):
    """n_dup EXACT duplicates BEST-ranked under every metric (ties
    must break by ascending id across a boundary far beyond the +16
    buffer) plus well-separated fill rows. The fill is scaled DOWN
    (×0.01): tiny rows are far from q in l2, near-orthogonal in
    cosine, AND carry negligible inner products — so under MIPS the
    duplicates (dot ≈ |v|² ≈ 32 vs fill ≈ 0.06) still sit at the
    selection boundary; large fill rows would dominate the dot top-k
    and the guard would correctly stay quiet (the r5 test-design
    bug)."""
    rng = np.random.default_rng(seed)
    v = rng.normal(size=DIM).astype(np.float32)
    dup = np.repeat(v[None, :], n_dup, axis=0)
    other = (rng.normal(size=(n_other, DIM)) * 0.01).astype(np.float32)
    base = np.concatenate([dup, other]).astype(np.float64)
    q = (v + np.float32(0.01)).astype(np.float64)[None, :]
    return base, q


def _oracle(base, q, metric, k):
    d = np_distance_matrix(base, q, metric)[:, 0]
    ids = np.arange(len(base), dtype=np.int64)
    o = np.lexsort((ids, d))[:k]
    return ids[o], d[o]


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
@pytest.mark.parametrize("corpus", ["near_tie", "dup"])
def test_local_flat_guard_exact(metric, corpus):
    base, q = (_near_tie_corpus(metric) if corpus == "near_tie"
               else _dup_corpus())
    exp_ids, exp_d = _oracle(base, q, metric, K)
    idx = local_serve.LocalFlatIndex(
        ids=np.arange(len(base), dtype=np.int64),
        vecs=np.ascontiguousarray(base.astype(np.float32)),
        metric=metric,
        norms_sq=np.einsum(
            "ij,ij->i", base.astype(np.float32), base.astype(np.float32)
        ),
    )
    before = local_serve.GUARD_FALLBACKS
    ids, d = idx.search(q.astype(np.float32), k=K)
    assert local_serve.GUARD_FALLBACKS > before, (
        "adversarial corpus did not trip the margin guard — the test "
        "is not exercising the fallback path"
    )
    # exact distances must match the f64 oracle computed on the SAME
    # raw f32-stored rows — every metric, no special cases: the index
    # stores RAW rows for cosine too (round-7 raw-row contract)
    np.testing.assert_array_equal(ids[0], exp_ids)
    np.testing.assert_allclose(d[0], exp_d, rtol=0, atol=1e-9)


@pytest.mark.parametrize("metric", ["l2", "dot"])
def test_local_ivf_fullprobe_guard_exact(metric):
    base, q = _near_tie_corpus(metric)
    n = len(base)
    # two synthetic cells split by id parity, rows cell-major
    cell = (np.arange(n) % 2).astype(np.int64)
    order = np.lexsort((np.arange(n), cell))
    ids = np.arange(n, dtype=np.int64)[order]
    vecs = np.ascontiguousarray(base[order].astype(np.float32))
    cents = np.stack([base[cell == 0].mean(0), base[cell == 1].mean(0)])
    offsets = np.searchsorted(cell[order], np.arange(3)).astype(np.int64)
    idx = LocalIvfIndex(
        ids=ids, vecs=vecs, metric=metric, centroids=cents,
        offsets=offsets,
        norms_sq=np.einsum("ij,ij->i", vecs, vecs),
    )
    before = local_serve.GUARD_FALLBACKS
    got_ids, got_d = idx.search(q, k=K, nprobe=2)  # full probe = exact
    assert local_serve.GUARD_FALLBACKS > before
    exp_ids, exp_d = _oracle(base, q, metric, K)
    np.testing.assert_array_equal(got_ids[0], exp_ids)
    np.testing.assert_allclose(got_d[0], exp_d, rtol=0, atol=1e-9)


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_distributed_kernel_guard_exact(spark, metric):
    base, q = _near_tie_corpus(metric)
    exp_ids, exp_d = _oracle(base, q, metric, K)
    v = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(base)],
        "id long, vec array<double>",
    ).repartition(4)
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in q[0]])], "query_id long, qvec array<double>"
    )
    rows = (search_flat(v, qdf, k=K, metric=metric)
            .orderBy("rank").collect())
    got_ids = np.array([r.id for r in rows])
    got_d = np.array([r.distance for r in rows])
    np.testing.assert_array_equal(got_ids, exp_ids)
    np.testing.assert_allclose(got_d, exp_d, rtol=0, atol=1e-9)


def test_guard_quiet_on_separated_data():
    """Well-separated random data must NOT trip the guard — the f32
    fast path stays the hot path (the margin is conservative but not
    trigger-happy)."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(2000, DIM))
    q = rng.normal(size=(64, DIM))
    idx = to_local_arrays(base)
    before = local_serve.GUARD_FALLBACKS
    idx.search(q.astype(np.float32), k=K)
    assert local_serve.GUARD_FALLBACKS == before


def to_local_arrays(base) -> local_serve.LocalFlatIndex:
    v32 = np.ascontiguousarray(base.astype(np.float32))
    return local_serve.LocalFlatIndex(
        ids=np.arange(len(base), dtype=np.int64), vecs=v32, metric="l2",
        norms_sq=np.einsum("ij,ij->i", v32, v32),
    )


def test_guard_no_warning_on_underfull_pool():
    """Underfull candidate pools (probed cells hold fewer than k rows)
    must not emit RuntimeWarning from the margin-guard subtraction —
    inf - inf = nan spammed production logs (round-6 verdict item 2);
    the isfinite mask already made the semantics safe, so the
    subtraction must run silenced."""
    import warnings

    rng = np.random.default_rng(5)
    n = 12  # 3 cells x 4 rows — every probed cell is smaller than K
    base = rng.normal(size=(n, DIM))
    cell = (np.arange(n) % 3).astype(np.int64)
    order = np.lexsort((np.arange(n), cell))
    ids = np.arange(n, dtype=np.int64)[order]
    vecs = np.ascontiguousarray(base[order].astype(np.float32))
    cents = np.stack([base[cell == c].mean(0) for c in range(3)])
    offsets = np.searchsorted(cell[order], np.arange(4)).astype(np.int64)
    idx = LocalIvfIndex(
        ids=ids, vecs=vecs, metric="l2", centroids=cents,
        offsets=offsets, norms_sq=np.einsum("ij,ij->i", vecs, vecs),
    )
    q = rng.normal(size=(8, DIM)).astype(np.float32)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got_ids, got_d = idx.search(q, k=K, nprobe=1)  # 4 rows < k=10
    assert got_ids.shape[0] == 8
    # the returned rows themselves are the probed cells' exact top-k
    assert np.isfinite(got_d[:, 0]).all()
