"""Distance kernels.

Reference semantics: internal/math/distance.go:8-93 (L2, L2², dot,
norm, cosine with zero-vector→1.0 and [-1,1] clamp, InnerProduct =
NEGATIVE dot so every metric sorts ascending-is-nearer) and
internal/math/simd.go:180-198 (norms-precompute rewrite).

Two backends, same semantics:

1. **Column expressions** (this module's ``*_distance`` helpers):
   pure ``pyspark.sql.functions`` higher-order functions — JVM-side,
   whole-stage-codegen'd, no Python in the loop. The fold is a
   sequential left fold in DOUBLE precision, which makes results
   bit-comparable with an equivalent sequential SQL fold (the DuckDB
   correctness oracle).

2. **NumPy kernels** (``np_distance_matrix``): batch query×base
   distance matrices via BLAS matmul inside pandas UDFs — the
   vectorized hot path (plays the role of the reference's SIMD layer,
   internal/math/simd.go:13-35, which is itself only a scalar
   fallback).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Closed metric enum, mirroring pkg/metric/metric.go:12-16.
METRICS = ("l2", "cosine", "dot")


def validate_metric(metric: str) -> str:
    """metric.New parity (pkg/metric/metric.go:25-36): error on unknown."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric type: {metric!r} (expected one of {METRICS})")
    return metric


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot_product(a, b) -> Column:
    """⟨a,b⟩ as a sequential double-precision fold (distance.go:28-34)."""
    a, b = _as_col(a), _as_col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def l2_distance_squared(a, b) -> Column:
    """Σ(aᵢ-bᵢ)² — the argmin-friendly form (distance.go:18-25)."""
    a, b = _as_col(a), _as_col(b)
    diff_sq = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diff_sq, F.lit(0.0), lambda s, v: s + v)


def l2_distance(a, b) -> Column:
    """Euclidean distance (distance.go:8-15)."""
    return F.sqrt(l2_distance_squared(a, b))


def norm_squared(v) -> Column:
    """Σvᵢ² (distance.go:46-52)."""
    v = _as_col(v)
    return F.aggregate(
        F.zip_with(v, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, a: s + a,
    )


def norm(v) -> Column:
    """L2 norm (distance.go:37-43)."""
    return F.sqrt(norm_squared(v))


def cosine_distance(a, b) -> Column:
    """1 − cos_sim, zero-vector → 1.0, clamped to [-1,1] before the
    subtraction (distance.go:55-71): result ∈ [0, 2]."""
    a, b = _as_col(a), _as_col(b)
    na, nb = norm(a), norm(b)
    sim = dot_product(a, b) / (na * nb)
    clamped = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), sim))
    return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(F.lit(1.0) - clamped)


def cosine_distance_with_norms(a, b, norm_a, norm_b) -> Column:
    """Cosine using precomputed norm columns (distance.go:74-88) — the
    index-build-time physical optimization (flat.go:48-53)."""
    a, b = _as_col(a), _as_col(b)
    norm_a, norm_b = _as_col(norm_a), _as_col(norm_b)
    sim = dot_product(a, b) / (norm_a * norm_b)
    clamped = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), sim))
    return F.when((norm_a == 0.0) | (norm_b == 0.0), F.lit(1.0)).otherwise(F.lit(1.0) - clamped)


def inner_product_distance(a, b) -> Column:
    """NEGATIVE dot product — MIPS as a min-distance problem
    (distance.go:91-93). Keeps top-k ordering uniformly ascending."""
    return -dot_product(a, b)


def distance_col(metric: str, a, b, norm_a=None, norm_b=None) -> Column:
    """Metric-dispatch column builder (the metric.New analogue)."""
    validate_metric(metric)
    if metric == "l2":
        return l2_distance(a, b)
    if metric == "cosine":
        if norm_a is not None and norm_b is not None:
            return cosine_distance_with_norms(a, b, norm_a, norm_b)
        return cosine_distance(a, b)
    return inner_product_distance(a, b)


# ---------------------------------------------------------------------------
# NumPy batch kernels (pandas-UDF backend)
# ---------------------------------------------------------------------------

_F32_EPS = float(np.finfo(np.float32).eps)  # 2^-23


def f32_select_margin(
    metric: str, dim: int, bmax: float, qnorms: np.ndarray
) -> np.ndarray:
    """Per-query upper bound on the absolute error of the f32
    candidate-RANKING surrogate score relative to its exact value.

    The top-k kernels (operators/topk.py, operators/local_serve.py)
    rank candidates with a single-precision GEMM and exactly re-score
    only the survivors; that is identical to a full f64 scan ONLY if
    no true top-k member's f32 score falls past the selection
    boundary. This bound makes the cut checkable: if the f32 gap
    between the selection pivot and the k-th-best survivor exceeds
    2x this margin, no rejected candidate can outrank a survivor in
    exact arithmetic, so the selection is provably exact; otherwise
    the kernels fall back to an exact f64 ranking for the affected
    queries.

    Derivation (standard forward-error bounds, Higham ch. 3): an f32
    dot product of length-d vectors has error <= gamma_d*|x||y| with
    gamma_d ~ d*u (u = 2^-23); rounding each operand to f32 adds
    ~2u*|x||y|; the l2 surrogate ``|b|^2 - 2<b,q>`` adds the |b|^2
    accumulation and one subtraction. (dim + 8)*u covers all terms —
    conservative, since BLAS blocked accumulation errs ~log2(d)*u in
    practice; a too-large margin only costs rare exact-path
    fallbacks, never correctness.

    ``bmax`` is the max base-row norm in the scored block, ``qnorms``
    the query norms (array). Returns a float64 array shaped like
    ``qnorms``.
    """
    q = np.asarray(qnorms, dtype=np.float64)
    c = _F32_EPS * (dim + 8)
    if metric == "l2":
        return c * (bmax * bmax + 2.0 * bmax * q)
    if metric == "dot":
        return c * (bmax * q)
    # cosine: unit vectors after the two f32 normalizations (each
    # <= (dim/2 + 2)*u relative) plus the unit dot product
    return np.full(q.shape, _F32_EPS * (2.0 * dim + 16.0))


def np_distance_matrix(base: np.ndarray, queries: np.ndarray, metric: str) -> np.ndarray:
    """(n_base, n_query) distance matrix in float64 via BLAS.

    l2 uses ||a-b||² = ||a||²+||b||²−2⟨a,b⟩ with clamp-at-0
    (simd.go:180-198); cosine matches the zero-vector→1.0 and clamp
    semantics of distance.go:55-71; dot is the negative inner product.
    """
    validate_metric(metric)
    base = np.asarray(base, dtype=np.float64)
    queries = np.asarray(queries, dtype=np.float64)
    ip = base @ queries.T  # (n_base, n_query)
    if metric == "dot":
        return -ip
    if metric == "l2":
        bn = np.einsum("ij,ij->i", base, base)[:, None]
        qn = np.einsum("ij,ij->i", queries, queries)[None, :]
        d2 = bn + qn - 2.0 * ip
        np.maximum(d2, 0.0, out=d2)
        # the norms identity leaves O(1e-16·scale) noise where the
        # exact distance is 0 (identical vectors) — and that noise
        # depends on GEMM shape, so chunked vs unchunked plans would
        # disagree in the last float digits. The direct (a-b)² form
        # the reference uses returns exact 0 there; clamp to match.
        d2[d2 <= 1e-12 * (bn + qn)] = 0.0
        return np.sqrt(d2)
    # cosine
    bn = np.linalg.norm(base, axis=1)[:, None]
    qn = np.linalg.norm(queries, axis=1)[None, :]
    denom = bn * qn
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = ip / denom
    sim = np.clip(sim, -1.0, 1.0)
    dist = 1.0 - sim
    dist[np.broadcast_to(denom == 0.0, dist.shape)] = 1.0
    return dist


def np_paired_distance(a: np.ndarray, b: np.ndarray, metric: str) -> np.ndarray:
    """Row-paired distances (n,) in float64 — the BatchL2/BatchDot
    analogue (internal/math/distance.go:96-111) for already-joined
    (vector, query) pairs. Same l2 clamp / cosine zero-vector / dot
    sign semantics as np_distance_matrix."""
    validate_metric(metric)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if metric == "dot":
        return -np.einsum("ij,ij->i", a, b)
    if metric == "l2":
        d = a - b
        return np.sqrt(np.einsum("ij,ij->i", d, d))
    an = np.linalg.norm(a, axis=1)
    bn = np.linalg.norm(b, axis=1)
    denom = an * bn
    ip = np.einsum("ij,ij->i", a, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = ip / denom
    sim = np.clip(sim, -1.0, 1.0)
    dist = 1.0 - sim
    dist[denom == 0.0] = 1.0
    return dist


def paired_distance_udf(metric: str):
    """Arrow-batched pandas UDF computing np_paired_distance over two
    array<float> columns. The hot-path replacement for the per-row
    zip_with/aggregate expression wherever rows are (vector, query)
    PAIRS (e.g. exact refine of ~k·oversample candidates per query):
    the JVM higher-order functions evaluate per element interpreted,
    while this is one BLAS einsum per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    validate_metric(metric)

    @pandas_udf("double")
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        return pd.Series(
            np_paired_distance(np.stack(a.to_numpy()), np.stack(b.to_numpy()), metric)
        )

    return dist
