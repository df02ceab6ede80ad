"""PQ — product quantization with asymmetric-distance (ADC) search.

Reference: pkg/index/pq/pq.go. Train = per-subspace k-means over dim
slices (pq.go:64-101); Add/encode = per-subspace argmin → one uint8
code per subspace (pq.go:104-124, :245-270); Search = per-query
M×Ksub distance table, distance² per code = Σ_m table[m][code[m]],
sqrt at the end (pq.go:127-179). L2 only (the reference's ADC tables
are squared-L2, pq.go:144-155).

Spark shape:
- training explodes a bounded SAMPLE to (id, m, subvec) and runs one
  deterministic NumPy Lloyd per subspace via applyInPandas — M
  independent groups, perfectly parallel, input sorted by id so the
  stride init is reproducible.
- codes are the big table: (id, code ARRAY<SMALLINT>) — M bytes of
  information per vector ((dim·4)/M compression, pq.go:207-233).
- search is one mapInArrow over codes (topk.search_index): each
  Arrow batch becomes a LocalPqIndex, which builds the per-query
  tables (q × M × Ksub doubles — tiny), gathers + sums per row and
  keeps the batch's top-k. No shuffle until the ≤ batches×q×k
  candidate rows; codes never explode into M×n rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofaiss_spark.functions.kmeans_np import lloyd_kmeans
from gofaiss_spark.operators.topk import search_index


def validate_pq_params(dim: int, m: int, nbits: int) -> tuple[int, int]:
    """dim % M == 0 and 1 ≤ nbits ≤ 16 (pq.go:35-61).
    Returns (ksub, dsub)."""
    if m <= 0 or dim % m != 0:
        raise ValueError(f"dim {dim} must be divisible by M {m}")
    if not 1 <= nbits <= 16:
        raise ValueError(f"nbits must be in [1,16], got {nbits}")
    return 1 << nbits, dim // m


@dataclass
class PqIndex:
    """Codebooks (driver-size) + the big codes DataFrame."""

    dim: int
    m: int
    nbits: int
    codebooks: np.ndarray  # (M, ksub, dsub) float64
    codes: DataFrame = field(repr=False)  # (id, code array<smallint>)

    @property
    def ksub(self) -> int:
        return 1 << self.nbits

    @property
    def dsub(self) -> int:
        return self.dim // self.m

    def stats(self) -> dict:
        """compressionRatio = dim·4 / M; memory_mb =
        (n·M codes + M·ksub·dsub·4 codebooks)/MiB (pq.go:205-233)."""
        total = self.codes.count()
        return {
            "index_type": "pq",
            "total_vectors": total,
            "dimension": self.dim,
            "m": self.m,
            "nbits": self.nbits,
            "ksub": self.ksub,
            "dsub": self.dsub,
            "compression_ratio": (self.dim * 4) / self.m,
            "memory_mb": (total * self.m + self.m * self.ksub * self.dsub * 4)
            / (1024 * 1024),
        }


def _subvector_rows(vectors: DataFrame, m: int, dsub: int, vec_col: str, id_col: str) -> DataFrame:
    """(id, m, subvec): projection slicing, SURVEY.md §2.1
    (pq.go:85-87 ``v.Data[start:end]`` ↔ ``slice(vec, ...)``)."""
    slices = F.array(
        *[
            F.struct(
                F.lit(j).alias("m"),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("subvec"),
            )
            for j in range(m)
        ]
    )
    return vectors.select(
        F.col(id_col).alias("id"), F.explode(slices).alias("s")
    ).select("id", F.col("s.m").alias("m"), F.col("s.subvec").alias("subvec"))


def train_pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    nbits: int = 8,
    max_iter: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
) -> np.ndarray:
    """Per-subspace k-means (pq.go:64-101) → (M, ksub, dsub).

    Requires n ≥ ksub (pq.go:78-80). Train on a sample at scale — the
    reference trains on 5k of 100k (benchmark_comparison.go:258-263).

    Small training sets (≤ LOCAL_TRAIN_MAX_CELLS cells, the bounded-
    sample contract — see operators/ivf.py) collect once and fit all
    M subspaces driver-side: M sequential BLAS Lloyd loops over a
    5k-row sample beat an explode + groupBy(m) shuffle +
    applyInPandas round-trip by an order of magnitude. Larger
    training sets explode to (id, m, subvec) rows and fit one
    applyInPandas group per subspace (distributed)."""
    ksub, dsub = validate_pq_params(dim, m, nbits)

    from gofaiss_spark.operators.ivf import LOCAL_TRAIN_MAX_CELLS

    n = vectors.count()
    if n * dim <= LOCAL_TRAIN_MAX_CELLS:
        from gofaiss_spark.operators.ivf import collect_vector_matrix

        data = collect_vector_matrix(vectors, vec_col, order_col=id_col)
        codebooks = np.zeros((m, ksub, dsub), dtype=np.float64)
        for j in range(m):
            cents, _ = lloyd_kmeans(
                data[:, j * dsub:(j + 1) * dsub], ksub, max_iter=max_iter,
                init="++", seed=42 + j,
            )
            codebooks[j] = cents
        return codebooks

    sub = _subvector_rows(vectors, m, dsub, vec_col, id_col)

    def fit_one(key, pdf):
        pdf = pdf.sort_values("id")
        data = np.stack(pdf["subvec"].to_numpy()).astype(np.float64)
        cents, _ = lloyd_kmeans(data, ksub, max_iter=max_iter)
        return pd.DataFrame(
            {
                "m": np.full(ksub, key[0], dtype=np.int32),
                "k": np.arange(ksub, dtype=np.int32),
                "centroid": [c for c in cents],
            }
        )

    cb_rows = (
        sub.groupBy("m")
        .applyInPandas(fit_one, schema="m int, k int, centroid array<double>")
        .collect()
    )
    codebooks = np.zeros((m, ksub, dsub), dtype=np.float64)
    for r in cb_rows:
        codebooks[r["m"], r["k"]] = np.asarray(r["centroid"])
    return codebooks


def encode_pq(
    vectors: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "vec",
    id_col: str = "id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Vector → M subspace codes by per-subspace argmin
    (pq.go:104-124, :245-270). Codebooks ride the closure (broadcast);
    per-batch BLAS; no shuffle."""
    mm, ksub, dsub = codebooks.shape
    cb = np.ascontiguousarray(codebooks)
    cb_sq = np.einsum("mkd,mkd->mk", cb, cb)  # (M, ksub)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            b = base.shape[0]
            subs = base.reshape(b, mm, dsub)
            codes = np.empty((b, mm), dtype=np.int16)
            for j in range(mm):
                x = subs[:, j, :]  # (B, dsub)
                d2 = (
                    np.einsum("ij,ij->i", x, x)[:, None]
                    + cb_sq[j][None, :]
                    - 2.0 * (x @ cb[j].T)
                )
                codes[:, j] = np.argmin(d2, axis=1).astype(np.int16)
            out = {"id": pdf[id_col].to_numpy(dtype=np.int64)}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()
            out["code"] = list(codes)
            yield pd.DataFrame(out)

    in_cols = [id_col, *extra_cols, vec_col]
    extra_schema = "".join(
        f", {c} {dict(vectors.dtypes)[c]}" for c in extra_cols
    )
    return vectors.select(*in_cols).mapInPandas(
        part, schema=f"id long{extra_schema}, code array<smallint>"
    )


def build_pq(
    vectors: DataFrame,
    m: int = 8,
    nbits: int = 8,
    train_fraction: float | None = None,
    seed: int = 42,
    vec_col: str = "vec",
    id_col: str = "id",
) -> PqIndex:
    """Train + encode (pq.go:64-124)."""
    dim = int(vectors.select(F.first(F.size(vec_col)).alias("d")).collect()[0]["d"])
    validate_pq_params(dim, m, nbits)
    train_df = vectors
    if train_fraction is not None and train_fraction < 1.0:
        train_df = vectors.sample(fraction=train_fraction, seed=seed)
    codebooks = train_pq_codebooks(train_df, dim, m, nbits, vec_col=vec_col, id_col=id_col)
    codes = encode_pq(vectors, codebooks, vec_col=vec_col, id_col=id_col)
    return PqIndex(dim=dim, m=m, nbits=nbits, codebooks=codebooks, codes=codes)


def adc_tables(codebooks: np.ndarray, query_mat: np.ndarray) -> np.ndarray:
    """(q, M, ksub) squared-L2 lookup tables (pq.go:144-155)."""
    mm, ksub, dsub = codebooks.shape
    q = query_mat.shape[0]
    subs = query_mat.reshape(q, mm, dsub)
    # T[q,m,k] = ||subs[q,m] - cb[m,k]||²
    t = (
        np.einsum("qmd,qmd->qm", subs, subs)[:, :, None]
        + np.einsum("mkd,mkd->mk", codebooks, codebooks)[None, :, :]
        - 2.0 * np.einsum("qmd,mkd->qmk", subs, codebooks)
    )
    np.maximum(t, 0.0, out=t)
    return t


def adc_accumulate(tables: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Sum per-subspace ADC table entries for every (query, row) pair:
    (q, M, ksub) tables × (b, M) codes → (q, b) float64 squared
    distances (clamped at 0).

    This gather is the ADC hot loop at every tier (distributed
    search_pq/search_ivfpq and the Local*/sharded serving kernels).
    ``np.take`` over each subspace's table slice with a CONTIGUOUS
    code column runs ~2× faster than the equivalent fancy-index
    gather ``tables[:, mi, codes[:, mi]]`` at serving shapes — the
    strided index array defeats numpy's fast gather path. Committed
    interleaved A/B (BENCH_AB.json ``adc_gather_ab_r7``, q=200,
    b=10k, M=8, bit-identity asserted): best 39.8 ms vs 78.9 ms per
    tile, 1.98×."""
    ct = np.ascontiguousarray(codes.T.astype(np.int64, copy=False))
    q, b = tables.shape[0], codes.shape[0]
    d2 = np.zeros((q, b), dtype=np.float64)
    for mi in range(tables.shape[1]):
        d2 += np.take(tables[:, mi, :], ct[mi], axis=1)
    np.maximum(d2, 0.0, out=d2)
    return d2


def search_pq(
    index: PqIndex,
    queries: DataFrame,
    k: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
    refine: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """ADC search (pq.go:127-179) on the shared distributed kernel
    (topk.search_index, LocalPqIndex.search per Arrow batch): table
    gather + per-batch top-k. Returns (query_id, id, distance, rank);
    distance = sqrt(Σ table).

    ``refine=r`` re-ranks the top-(k·r) ADC candidates with exact L2
    against ``base`` (the original vectors DataFrame) — the FAISS
    RefineFlat pattern; quantization then costs recall only, never
    distance accuracy. ``base`` is required with refine: PQ stores
    codes, the originals live in the lake."""
    return search_index(index, queries, k, qvec_col=qvec_col,
                        query_id_col=query_id_col, refine=refine, base=base)
