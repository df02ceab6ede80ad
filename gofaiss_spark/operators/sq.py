"""Scalar quantization (SQ8): 1 byte per dimension, near-exact recall.

No reference analogue — gofaiss jumps from Flat (4 bytes/dim) to PQ
(sub-byte/dim); SQ8 is the standard middle point (FAISS
IndexScalarQuantizer): 4× compression with recall that stays ≈1.0
because the per-dimension reconstruction error is bounded by one
quantization step. At 100 TB that turns a 48 GB/100M-vector scan into
12 GB — often the difference between a broadcast-able segment and a
spill.

Spark shapes:
- **train** = one JVM aggregation pass (per-dimension min/max as 2·dim
  partial-aggregated columns — no Python, no extra scan);
- **encode** = Arrow-batched clip/round kernel, embarrassingly
  parallel;
- **search** = the same two-phase top-k as flat (topk.search_index):
  a LocalSqIndex per Arrow batch decodes, scores and keeps its top-k,
  then a (batches × q × k)-row window — shuffle size independent of
  n.
- reported distances are reconstruction-approximate; the quantization
  step bound makes them hard-checkable (|d_sq − d_exact| ≤ ‖step‖₂,
  driver query sq_topk), and ``refine=`` re-ranks them exact.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofaiss_spark.operators.topk import search_index

_LEVELS = 255  # codes in [0, 255] — uint8 range, stored as smallint


@dataclass
class SqIndex:
    dim: int
    metric: str  # l2 only (parity with PQ's ADC space)
    vmin: np.ndarray = field(repr=False)  # (dim,)
    vmax: np.ndarray = field(repr=False)  # (dim,)
    codes: DataFrame = field(repr=False)  # (id, code array<smallint>)

    @property
    def step(self) -> np.ndarray:
        rng = self.vmax - self.vmin
        return np.where(rng > 0, rng / _LEVELS, 0.0)

    def distance_error_bound(self) -> float:
        """|d_sq − d_exact| can never exceed the L2 norm of the
        per-dimension step vector (triangle inequality over the
        reconstruction error box)."""
        return float(np.linalg.norm(self.step))

    def size(self) -> int:
        return self.codes.count()

    def stats(self) -> dict:
        n = self.size()
        return {
            "index_type": "sq",
            "n_vectors": n,
            "dimension": self.dim,
            "metric": self.metric,
            "levels": _LEVELS + 1,
            # logical bytes: 1 byte/dim + 8-byte id (reference-style
            # accounting, cf. pq.go:207-233 conventions)
            "memory_mb": round(n * (self.dim + 8) / 2**20, 4),
            "compression_ratio": 4.0,
        }


def build_sq(
    vectors: DataFrame,
    metric: str = "l2",
    vec_col: str = "vec",
    id_col: str = "id",
) -> SqIndex:
    """Train (per-dim min/max, one aggregation) + encode (Arrow clip/
    round kernel)."""
    if metric != "l2":
        raise ValueError(f"sq supports l2 only, got {metric!r}")
    first = vectors.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("build_sq: empty vectors DataFrame")
    dim = first["d"]
    aggs = []
    for j in range(dim):
        e = F.element_at(F.col(vec_col), j + 1)
        aggs.append(F.min(e).alias(f"_mn{j}"))
        aggs.append(F.max(e).alias(f"_mx{j}"))
    row = vectors.agg(*aggs).first()
    vmin = np.array([row[f"_mn{j}"] for j in range(dim)], dtype=np.float64)
    vmax = np.array([row[f"_mx{j}"] for j in range(dim)], dtype=np.float64)
    rng = vmax - vmin
    step = np.where(rng > 0, rng / _LEVELS, 1.0)  # avoid div-by-zero

    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((vmin, step))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mn, st = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            codes = np.clip(np.rint((x - mn) / st), 0, _LEVELS).astype(np.int16)
            yield pd.DataFrame(
                {"id": pdf["_id"].to_numpy(), "code": list(codes)}
            )

    codes = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(enc, schema="id long, code array<smallint>")
    return SqIndex(dim=dim, metric=metric, vmin=vmin, vmax=vmax, codes=codes)


def search_sq(
    index: SqIndex,
    queries: DataFrame,
    k: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
    refine: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """Decode + score per Arrow batch on the shared distributed
    kernel (topk.search_index, LocalSqIndex.search). ``refine=r``
    re-ranks top-(k·r) with exact L2 against ``base`` (see
    operators/topk.refine_exact)."""
    return search_index(index, queries, k, qvec_col=qvec_col,
                        query_id_col=query_id_col, refine=refine, base=base)
