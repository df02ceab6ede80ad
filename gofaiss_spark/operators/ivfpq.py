"""IVFPQ — IVF coarse quantizer + PQ over residuals.

Reference: pkg/index/ivfpq/ivfpq.go. Train = k-means centroids →
assign → residual = v − centroid (ivfpq.go:139-147) → PQ-train on
residuals (ivfpq.go:117-174). Add = assign → residual → encode →
per-list compressed codes (ivfpq.go:184-219). Search = top-nprobe
centroids → per-(query, probed list) residual distance tables → ADC
→ global top-k (ivfpq.go:222-284).

The reference façade's IVFPQ search arm is BROKEN (returns empty,
pkg/search/search.go:72-80); we implement it correctly per
SURVEY.md §2.3.

Spark shape: codes table is (id, list_id, code) — written
``partitionBy("list_id")`` for nprobe partition pruning exactly like
IVF. The ADC tables are per (query, probed list) because codes
encode residuals: table[q,l][m][k] = ||(q − c_l)_m − cb[m][k]||²
(ivfpq.go:515-531). Search builds them inside each Arrow batch's
LocalIvfPqIndex, once per probed list present in the batch, from the
broadcast queries, centroids and codebooks — never all q × nprobe
tables on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofaiss_spark.functions.distance import validate_metric
from gofaiss_spark.functions.vector import vector_subtract
from gofaiss_spark.operators.ivf import (
    assign_to_centroids,
    default_nlist,
    train_kmeans_centroids,
)
from gofaiss_spark.operators.pq import train_pq_codebooks, validate_pq_params
from gofaiss_spark.operators.topk import search_index


def default_m(dim: int) -> int:
    """Prefer 8; else the smallest divisor of dim in [8,32]; else 4
    (ivfpq.go:25-54)."""
    if dim % 8 == 0:
        return 8
    for m in range(8, 33):
        if dim % m == 0:
            return m
    return 4


@dataclass
class IvfPqIndex:
    metric: str
    nlist: int
    dim: int
    m: int
    nbits: int
    centroids: np.ndarray  # (nlist, dim)
    codebooks: np.ndarray  # (M, ksub, dsub) — trained on residuals
    codes: DataFrame = field(repr=False)  # (id, list_id, code array<smallint>)
    # True when codes rows are already grouped by list_id (loaded from
    # a partitionBy("list_id") artifact). In-memory builds are NOT —
    # every physical partition then holds a slice of every list, and
    # the per-(query,list) ADC tables would be rebuilt once per
    # partition (a silent partitions× redundancy). search_ivfpq
    # repartitions on list_id when this is False.
    colocated: bool = False

    def list_sizes(self) -> DataFrame:
        return self.codes.groupBy("list_id").agg(
            F.count(F.lit(1)).alias("n_vectors")
        )

    def stats(self) -> dict:
        """compressionRatio = (n·dim·4)/(n·M); memory_mb = (n·M codes
        + M·ksub·dsub·4 codebooks + nlist·dim·4 centroids)/MiB
        (ivfpq.go:322-364)."""
        total = self.codes.count()
        ksub = 1 << self.nbits
        dsub = self.dim // self.m
        return {
            "index_type": "ivfpq",
            "total_vectors": total,
            "dimension": self.dim,
            "metric": self.metric,
            "nlist": self.nlist,
            "m": self.m,
            "nbits": self.nbits,
            "compression_ratio": (self.dim * 4) / self.m,
            "memory_mb": (
                total * self.m
                + self.m * ksub * dsub * 4
                + self.nlist * self.dim * 4
            )
            / (1024 * 1024),
        }


def build_ivfpq(
    vectors: DataFrame,
    nlist: int | None = None,
    m: int | None = None,
    nbits: int = 8,
    metric: str = "l2",
    seed: int = 42,
    train_fraction: float | None = None,
    min_train_factor: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    trainer: str = "mllib",
    codebook_train_fraction: float | None = None,
) -> IvfPqIndex:
    """Train + Add (ivfpq.go:117-219).

    Requires n ≥ nlist·min_train_factor (ivfpq.go:121). The residual
    pipeline is pure column expressions until the NumPy encode.

    ``codebook_train_fraction`` (default: same as ``train_fraction``)
    sizes the PQ-codebook training sample independently of the coarse
    quantizer's. The two have different sweet spots: ADC ordering
    quality keeps improving with more residual samples (ksub=256
    cells per subspace want ≥~100 samples each), while the coarse
    k-means is already saturated at a few thousand — so the docs'
    "train ≥50k" recall target is reached by growing only the
    codebook sample, without paying a 50k distributed k-means."""
    validate_metric(metric)
    n = vectors.count()
    if nlist is None:
        nlist = default_nlist(n)
    dim = int(vectors.select(F.first(F.size(vec_col)).alias("d")).collect()[0]["d"])
    if m is None:
        m = default_m(dim)
    validate_pq_params(dim, m, nbits)
    if n < nlist * min_train_factor:
        raise ValueError(
            f"need at least nlist*{min_train_factor} = {nlist * min_train_factor} "
            f"training vectors, got {n}"
        )
    train_df = None
    if train_fraction is not None and train_fraction < 1.0:
        train_df = vectors.sample(fraction=train_fraction, seed=seed)

    # (1) coarse centroids (driver-side BLAS Lloyd under
    # LOCAL_TRAIN_MAX_CELLS, MLlib above — see operators/ivf.py)
    cents = train_kmeans_centroids(
        train_df if train_df is not None else vectors, nlist, seed=seed,
        vec_col=vec_col, trainer=trainer,
    )

    # (2)+(3) codebooks over TRAINING residuals. Training is a bounded
    # sample by contract (the reference trains on 5k of 100k,
    # benchmark_comparison.go:258-263; at 100 TB train_fraction bounds
    # it), so under LOCAL_TRAIN_MAX_CELLS the sample is collected once
    # and assign→residual→M Lloyd fits all happen driver-side — zero
    # extra Spark jobs. Above the threshold, the distributed
    # assign + residual-join + grouped-applyInPandas path runs.
    from gofaiss_spark.functions.distance import np_distance_matrix
    from gofaiss_spark.functions.kmeans_np import lloyd_kmeans
    from gofaiss_spark.operators.ivf import LOCAL_TRAIN_MAX_CELLS

    if codebook_train_fraction is not None and codebook_train_fraction < 1.0:
        tdf = vectors.sample(fraction=codebook_train_fraction, seed=seed)
    else:
        tdf = train_df if train_df is not None else vectors
    n_train = tdf.count()
    if n_train * dim <= LOCAL_TRAIN_MAX_CELLS:
        from gofaiss_spark.operators.ivf import collect_vector_matrix

        tdata = collect_vector_matrix(tdf, vec_col, order_col=id_col)
        t_assign = np.argmin(np_distance_matrix(tdata, cents, metric), axis=1)
        t_res = tdata - cents[t_assign]
        ksub = 1 << nbits
        dsub = dim // m
        codebooks = np.zeros((m, ksub, dsub), dtype=np.float64)
        for j in range(m):
            cb_j, _ = lloyd_kmeans(
                t_res[:, j * dsub:(j + 1) * dsub], ksub,
                init="++", seed=seed + j,
            )
            codebooks[j] = cb_j
    else:
        train_assigned = assign_to_centroids(tdf, cents, metric, vec_col, id_col)
        train_res = _with_residual(train_assigned, cents, vec_col)
        codebooks = train_pq_codebooks(
            train_res, dim, m, nbits, vec_col="residual", id_col="id"
        )

    # (4) Add over the FULL set: assign → residual → encode FUSED into
    # one Arrow kernel (centroids + codebooks ride the closure). One
    # pass, no shuffle, no Python↔JVM round-trips between stages —
    # the distributed path that scales to the full corpus.
    codes = _assign_encode_fused(
        vectors, cents, codebooks, metric, vec_col, id_col
    )
    return IvfPqIndex(
        metric=metric,
        nlist=nlist,
        dim=dim,
        m=m,
        nbits=nbits,
        centroids=cents,
        codebooks=codebooks,
        codes=codes,
    )


def _assign_encode_fused(
    vectors: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    metric: str,
    vec_col: str = "vec",
    id_col: str = "id",
) -> DataFrame:
    """Add (ivfpq.go:184-219) as ONE mapInPandas kernel: per Arrow
    batch, BLAS argmin to the nearest centroid, residual subtract,
    and per-subspace argmin encode — centroids and codebooks ride the
    closure (a broadcast). Eliminates the assign→join→encode lineage's
    two extra Python↔JVM crossings; output keeps input partitioning
    (no shuffle)."""
    from gofaiss_spark.functions.distance import np_distance_matrix

    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)  # (M, ksub, dsub)
    mm, ksub, dsub = cb.shape
    cb_sq = np.einsum("mkd,mkd->mk", cb, cb)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            assign = np.argmin(
                np_distance_matrix(base, cents, metric), axis=1
            )
            res = base - cents[assign]
            b = res.shape[0]
            subs = res.reshape(b, mm, dsub)
            codes = np.empty((b, mm), dtype=np.int16)
            for j in range(mm):
                x = subs[:, j, :]
                d2 = (
                    np.einsum("ij,ij->i", x, x)[:, None]
                    + cb_sq[j][None, :]
                    - 2.0 * (x @ cb[j].T)
                )
                codes[:, j] = np.argmin(d2, axis=1).astype(np.int16)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(dtype=np.int64),
                    "list_id": assign.astype(np.int32),
                    "code": list(codes),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        part, schema="id long, list_id int, code array<smallint>"
    )


def _with_residual(assigned: DataFrame, centroids: np.ndarray, vec_col: str) -> DataFrame:
    """residual = vec − centroid[list_id] (ivfpq.go:139-147) as a
    zip_with column expression against a broadcast centroid lookup."""
    spark = assigned.sparkSession
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        schema="list_id int, _centroid array<double>",
    )
    return (
        assigned.join(F.broadcast(cent_df), "list_id")
        .withColumn("residual", vector_subtract(F.col(vec_col).cast("array<double>"), "_centroid"))
        .withColumn("residual", F.col("residual").cast("array<float>"))
        .drop("_centroid")
    )


def search_ivfpq(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
    refine: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """nprobe-pruned ADC search (ivfpq.go:222-284) on the shared
    distributed kernel (topk.search_index): per Arrow batch of the
    probed lists' codes, LocalIvfPqIndex.search_cells — per probed
    (query, list) residual tables → gather-sum over codes → sqrt →
    top-k.

    ``refine=r`` re-ranks the top-(k·r) ADC candidates with exact L2
    against ``base`` (the original vectors DataFrame) — the FAISS
    RefineFlat pattern; the residual-quantization error then costs
    recall only, never distance accuracy."""
    return search_index(index, queries, k, nprobe, qvec_col, query_id_col,
                        refine, base)
