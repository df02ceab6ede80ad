"""IVF — inverted-file index via k-means partitioning.

Reference: pkg/index/ivf/ivf.go. Train = k-means over a training set
(ivf.go:70-83, 10 Lloyd iterations); Add = assign each vector to its
nearest centroid's inverted list (ivf.go:93-112); Search = scan only
the ``nprobe`` nearest lists (ivf.go:115-161).

Spark shape (SURVEY.md §1.3):
- centroids: a SMALL DataFrame/ndarray (nlist ≤ 65536 → ≤ 67 MB at
  dim=128) — always broadcastable.
- assignments: (id, vec, list_id) — the big table. Persist with
  ``partitionBy("list_id")`` so nprobe search becomes Catalyst
  partition pruning (SURVEY.md §4 row 4): a probe of 10/316 lists
  reads ~3% of the files. This is THE scale property of IVF — at
  100 TB the scan cost is data × nprobe/nlist.
- search: the driver probes each query's nprobe nearest centroids
  once (tiny); the candidate scan is a partition-pruned list_id
  filter and one mapInArrow that runs the local IVF kernel over each
  Arrow batch; a Window merges the per-batch top-k (no n×q shuffle).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofaiss_spark.functions.distance import (
    np_distance_matrix,
    np_paired_distance,
    validate_metric,
)
from gofaiss_spark.operators.local_serve import _list_matrix, _probe_cells
from gofaiss_spark.operators.topk import search_index


def default_nlist(n: int) -> int:
    """nlist = √n clamped to [10, 65536] (ivf.go:32-45)."""
    return max(10, min(65536, int(math.sqrt(n))))


@dataclass
class IvfIndex:
    """An IVF index artifact: broadcast-size centroids + the big
    assignments DataFrame (id, vec, list_id)."""

    metric: str
    nlist: int
    dim: int
    centroids: np.ndarray  # (nlist, dim) float64
    assignments: DataFrame = field(repr=False)

    def to_local(self):
        """Driver-colocated serving copy (operators/local_serve.py
        LocalIvfIndex): collect the assignments once into a cell-major
        CSR layout, answer query batches in-process with nprobe
        pruning — the single-node serving tier; bounded by replica RAM
        by contract."""
        from gofaiss_spark.operators.local_serve import to_local_ivf

        return to_local_ivf(self)

    def list_sizes(self) -> DataFrame:
        """groupBy(list_id).count() (ivf.go:227-236)."""
        return self.assignments.groupBy("list_id").agg(
            F.count(F.lit(1)).alias("n_vectors")
        )

    def stats(self) -> dict:
        """Stats parity (ivf.go:199-224): totals + params +
        memory_mb = (n·dim·4 + nlist·dim·4)/MiB."""
        total = self.assignments.count()
        return {
            "index_type": "ivf",
            "total_vectors": total,
            "dimension": self.dim,
            "metric": self.metric,
            "nlist": self.nlist,
            "trained": True,
            "memory_mb": ((total + self.nlist) * self.dim * 4) / (1024 * 1024),
        }


# Training sets at or below this cell count (rows × dim) are
# collected and trained driver-side with the deterministic NumPy
# Lloyd kernel. k-means training is ALWAYS over a bounded sample
# (the reference trains on 5k of 100k,
# benchmark_comparison.go:258-263; at 100 TB you set train_fraction),
# so the collect is bounded by contract — 32M cells ≈ 256 MB f64 ≈
# 250k rows at dim=128. MLlib's k-means‖ launches ~2·initSteps +
# maxIter distributed jobs, a fixed multi-second floor that dwarfs
# the arithmetic at sample scale; one BLAS Lloyd loop is ~100× faster
# there, and bigger training sets still go distributed.
LOCAL_TRAIN_MAX_CELLS = 32_000_000


def collect_vector_matrix(df, vec_col: str = "vec", order_col: str | None = "id"):
    """Collect a (bounded) vector column to a float64 matrix with one
    Arrow collect, rows in ``order_col`` order: a stable driver-side
    argsort of the collected keys, the order a Spark ``orderBy`` gives
    unique keys, without its sort jobs. ``order_col`` None or absent
    keeps the collect's order. Rows of different lengths raise."""
    import pyarrow.compute as pc

    keyed = order_col is not None and order_col in df.columns
    tbl = df.select(vec_col, *([order_col] if keyed else [])).toArrow()
    lens = pc.list_value_length(tbl.column(0)).to_numpy(zero_copy_only=False)
    if lens.size and lens.min() != lens.max():
        raise ValueError("vectors differ in dimension")
    mat = _list_matrix(tbl.column(0), 0, np.float64)
    if keyed:
        mat = mat[np.argsort(tbl.column(1).to_numpy(), kind="stable")]
    return mat


def train_kmeans_centroids(
    vectors: DataFrame,
    k: int,
    seed: int = 42,
    max_iter: int = 10,
    vec_col: str = "vec",
    trainer: str = "mllib",
) -> np.ndarray:
    """k-means → (k, dim) centroids.

    Plays ivf.go:255-317's Lloyd loop. maxIter=10 keeps parity with
    the reference's iteration budget. Requires n ≥ k (ivf.go:75-77).

    ``trainer="mllib"`` (default): MLlib KMeans — distributed, init
    k-means‖. ``trainer="local"``: one aggregate job counts the
    training set's cells exactly; when they fit LOCAL_TRAIN_MAX_CELLS,
    collect it (``collect_vector_matrix``, rows in id order) and run
    the driver-side BLAS Lloyd with seeded k-means++ init — ~5-10×
    faster at sample scale, and its centroids converge tighter (lower
    distortion → near-uniform list sizes, no straggler partitions at
    scale). Tradeoff, measured at 100k uniform-random: balanced lists
    cover FEWER true neighbors per probed cell than MLlib's
    under-converged imbalanced ones, so recall at a fixed nprobe is
    lower (0.36 vs 0.51 at nprobe=10/316) even though cost per probe
    is proportionally lower too. Default stays "mllib" to keep the
    recorded recall/QPS operating points; pick "local" for
    build-speed or balanced-partition serving.
    """
    if trainer == "local":
        cells = vectors.agg(F.sum(F.size(vec_col))).first()[0] or 0
        if cells <= LOCAL_TRAIN_MAX_CELLS:
            from gofaiss_spark.functions.kmeans_np import lloyd_kmeans

            data = collect_vector_matrix(vectors, vec_col)
            cents, _ = lloyd_kmeans(data, k, max_iter=max_iter, init="++", seed=seed)
            return cents
        # falls through to MLlib when the sample exceeds the bound

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, maxIter=max_iter, seed=seed, featuresCol="features").fit(feats)
    return np.asarray(
        [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    )


def assign_to_centroids(
    vectors: DataFrame,
    centroids: np.ndarray,
    metric: str = "l2",
    vec_col: str = "vec",
    id_col: str = "id",
) -> DataFrame:
    """Argmin-join assignment (ivf.go:93-112, findNearestCentroid
    ivf.go:240-252): each vector → nearest centroid's list_id.

    Physical plan: the centroid matrix rides the UDF closure (a
    broadcast); per Arrow batch one BLAS distance matrix + argmin. No
    shuffle — the output keeps the input partitioning.
    """
    validate_metric(metric)
    cents = np.ascontiguousarray(centroids, dtype=np.float64)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = np.stack(pdf[vec_col].to_numpy())
            dmat = np_distance_matrix(base, cents, metric)  # (B, nlist)
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["list_id"] = np.argmin(dmat, axis=1).astype(np.int32)
            yield pdf

    out_schema = f"{id_col} long, {vec_col} array<float>, list_id int"
    return vectors.select(id_col, vec_col).mapInPandas(part, schema=out_schema)


def build_ivf(
    vectors: DataFrame,
    nlist: int | None = None,
    metric: str = "l2",
    seed: int = 42,
    train_fraction: float | None = None,
    vec_col: str = "vec",
    id_col: str = "id",
    trainer: str = "mllib",
) -> IvfIndex:
    """Train + Add in one pass (ivf.go:70-112).

    ``train_fraction`` subsamples the training set (the reference
    trains on 5k of 100k, benchmark_comparison.go:258-263); full
    assignment always covers every vector. ``trainer`` picks the
    coarse k-means backend (see train_kmeans_centroids).
    """
    validate_metric(metric)
    n = vectors.count()
    if nlist is None:
        nlist = default_nlist(n)
    if n < nlist:
        raise ValueError(f"need at least {nlist} training vectors, got {n}")
    train_df = vectors
    if train_fraction is not None and train_fraction < 1.0:
        train_df = vectors.sample(fraction=train_fraction, seed=seed)
    cents = train_kmeans_centroids(
        train_df, nlist, seed=seed, vec_col=vec_col, trainer=trainer
    )
    assignments = assign_to_centroids(vectors, cents, metric, vec_col, id_col)
    return IvfIndex(
        metric=metric, nlist=nlist, dim=cents.shape[1], centroids=cents,
        assignments=assignments,
    )


def probe_lists(
    centroids: np.ndarray,
    query_ids: np.ndarray,
    query_mat: np.ndarray,
    nprobe: int,
    metric: str,
) -> pd.DataFrame:
    """Stage 1 of search (ivf.go:131-141) as (query_id, list_id) rows:
    per query its nprobe nearest centroids, by the probe head every
    tier runs (local_serve._probe_cells). nprobe ≤ 0 or > nlist ⇒
    nlist (ivf.go:122-129)."""
    cells = _probe_cells(centroids, query_mat, metric, nprobe)
    return pd.DataFrame(
        {
            "query_id": np.repeat(query_ids, cells.shape[1]),
            "list_id": cells.ravel().astype(np.int32),
        }
    )


def search_ivf(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """nprobe-pruned ANN search (ivf.go:115-161) on the shared
    distributed kernel (topk.search_index): the driver probes once,
    and each Arrow batch of the probed lists' rows runs
    LocalIvfIndex.search_cells.

    Returns (query_id, id, distance, rank). With nprobe ≥ nlist this
    is EXACTLY flat search (every list scanned) — the property the
    correctness gate exploits.
    """
    return search_index(index, queries, k, nprobe, qvec_col, query_id_col)


def ivf_health(index: IvfIndex) -> DataFrame:
    """Index-health report: per inverted list, its population and the
    mean distance of members to their centroid (the local k-means
    distortion). The two signals an operator watches to schedule
    re-training — population skew (hot lists slow every probe that
    hits them) and distortion drift (data moved away from the
    trained centroids).

    Plan: the centroid matrix rides the Arrow kernel's closure (tiny
    by construction), distances compute batch-BLAS per partition with
    no join, and the only shuffle is the nlist-row aggregation.
    Returns (list_id, n_vectors, mean_dist) sorted nowhere — order
    belongs to the caller."""
    cents = np.ascontiguousarray(index.centroids, dtype=np.float64)
    # distortion is the cosine distance for cosine indexes, else L2
    dist_metric = "cosine" if index.metric == "cosine" else "l2"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            lids = pdf["list_id"].to_numpy(dtype=np.int64)
            d = np_paired_distance(vecs, cents[lids], dist_metric)
            yield pd.DataFrame({"list_id": lids, "dist": d})

    dists = index.assignments.select("list_id", "vec").mapInPandas(
        part, schema="list_id int, dist double"
    )
    return dists.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("dist"), 6).alias("mean_dist"),
    )
