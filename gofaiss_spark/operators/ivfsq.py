"""IVFSQ — IVF coarse quantizer + SQ8 over residuals.

No reference analogue (gofaiss has IVF and IVFPQ only); this is the
FAISS `IVF,SQ8` config — in practice the sweet spot for serving:
nprobe partition pruning like IVF, 4× compression like SQ8, and
recall that tracks the pruning (not the quantizer) because the
per-dimension residual reconstruction error is bounded by one step.

Spark shape mirrors IVFPQ (operators/ivfpq.py): codes are
(id, list_id, code) written ``partitionBy("list_id")`` so nprobe
search prunes parquet partitions; search runs LocalIvfSqIndex over
each Arrow batch of the probed lists' codes (topk.search_index) —
codes are never joined to queries, and each list's decode runs once
per batch from the broadcast (centroids, vmin, step).
Reported distances carry the analytic bound ‖step‖₂ (hard-checked by
the driver's ivfsq_topk), and ``refine=`` re-ranks them exact.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofaiss_spark.functions.distance import validate_metric
from gofaiss_spark.operators.ivf import (
    assign_to_centroids,
    default_nlist,
    train_kmeans_centroids,
)
from gofaiss_spark.operators.ivfpq import _with_residual
from gofaiss_spark.operators.sq import _LEVELS
from gofaiss_spark.operators.topk import search_index


@dataclass
class IvfSqIndex:
    metric: str
    nlist: int
    dim: int
    centroids: np.ndarray  # (nlist, dim)
    vmin: np.ndarray = field(repr=False)  # (dim,) residual-space min
    vmax: np.ndarray = field(repr=False)  # (dim,) residual-space max
    codes: DataFrame = field(repr=False)  # (id, list_id, code array<smallint>)
    colocated: bool = False  # see IvfPqIndex.colocated

    @property
    def step(self) -> np.ndarray:
        rng = self.vmax - self.vmin
        return np.where(rng > 0, rng / _LEVELS, 0.0)

    def distance_error_bound(self) -> float:
        return float(np.linalg.norm(self.step))

    def list_sizes(self) -> DataFrame:
        return self.codes.groupBy("list_id").agg(
            F.count(F.lit(1)).alias("n_vectors")
        )

    def stats(self) -> dict:
        total = self.codes.count()
        return {
            "index_type": "ivfsq",
            "total_vectors": total,
            "dimension": self.dim,
            "metric": self.metric,
            "nlist": self.nlist,
            "levels": _LEVELS + 1,
            "compression_ratio": 4.0,
            # logical bytes: 1 byte/dim + 8-byte id per vector, plus
            # float32 centroids (reference-style accounting)
            "memory_mb": (total * (self.dim + 8) + self.nlist * self.dim * 4)
            / (1024 * 1024),
        }


def build_ivfsq(
    vectors: DataFrame,
    nlist: int | None = None,
    metric: str = "l2",
    seed: int = 42,
    train_fraction: float | None = None,
    min_train_factor: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    trainer: str = "mllib",
) -> IvfSqIndex:
    """k-means centroids → assign → residual → per-dim residual
    min/max (ONE JVM aggregation) → SQ8-encode residuals (Arrow
    kernel). The residual pipeline is shared column lineage — no
    second assignment pass when training on the full set."""
    validate_metric(metric)
    if metric != "l2":
        raise ValueError(f"ivfsq supports l2 only, got {metric!r}")
    n = vectors.count()
    if nlist is None:
        nlist = default_nlist(n)
    first = vectors.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"])
    if n < nlist * min_train_factor:
        raise ValueError(
            f"need at least nlist*{min_train_factor} = {nlist * min_train_factor} "
            f"training vectors, got {n}"
        )
    train_df = None
    if train_fraction is not None and train_fraction < 1.0:
        train_df = vectors.sample(fraction=train_fraction, seed=seed)

    cents = train_kmeans_centroids(
        train_df if train_df is not None else vectors,
        nlist,
        seed=seed,
        vec_col=vec_col,
        trainer=trainer,
    )
    assigned = assign_to_centroids(vectors, cents, metric, vec_col, id_col)
    with_res = _with_residual(assigned, cents, vec_col).persist()

    aggs = []
    for j in range(dim):
        e = F.element_at(F.col("residual"), j + 1)
        aggs.append(F.min(e).alias(f"_mn{j}"))
        aggs.append(F.max(e).alias(f"_mx{j}"))
    row = with_res.agg(*aggs).first()
    vmin = np.array([row[f"_mn{j}"] for j in range(dim)], dtype=np.float64)
    vmax = np.array([row[f"_mx{j}"] for j in range(dim)], dtype=np.float64)
    rng = vmax - vmin
    step = np.where(rng > 0, rng / _LEVELS, 1.0)

    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((vmin, step))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mn, st = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["residual"].to_numpy()).astype(np.float64)
            codes = np.clip(np.rint((x - mn) / st), 0, _LEVELS).astype(np.int16)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "list_id": pdf["list_id"].to_numpy(),
                    "code": list(codes),
                }
            )

    codes = with_res.select("id", "list_id", "residual").mapInPandas(
        enc, schema="id long, list_id int, code array<smallint>"
    )
    return IvfSqIndex(
        metric=metric,
        nlist=nlist,
        dim=dim,
        centroids=cents,
        vmin=vmin,
        vmax=vmax,
        codes=codes,
    )


def search_ivfsq(
    index: IvfSqIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
    refine: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """nprobe-pruned decode-and-score search on the shared distributed
    kernel (topk.search_index, LocalIvfSqIndex.search_cells per Arrow
    batch). ``refine=r`` re-ranks top-(k·r) exact."""
    return search_index(index, queries, k, nprobe, qvec_col, query_id_col,
                        refine, base)
