"""Flat (exact brute-force) search = the ground-truth oracle.

Reference: pkg/index/flat/flat.go:74-114 (full scan → sort asc →
take k) and benchmark/benchmark_comparison.go:149-163 (flat search as
ground truth). BatchSearch (flat.go:61-71) is a sequential per-query
loop in the reference; in Spark the whole query batch is one plan —
strictly better (SURVEY.md §4 row 11).

Two physical strategies, identical results:

- ``method="expr"``: vectors ⋈ broadcast(queries) with a higher-order
  -function distance column, then per-query top-k. Pure JVM. The
  shuffle after scoring carries n×q rows — fine at test scale, and the
  plan DuckDB can replicate fold-for-fold (correctness oracle).

- ``method="local"`` (default): two-phase top-k (``search_index``,
  the distributed kernel of every index kind). Phase 1 is one
  mapInArrow: each Arrow batch becomes the same LocalFlatIndex the
  local and sharded tiers serve, and its search keeps the batch's k
  best per query — no shuffle, n×q scores reduced to (batches × q × k)
  candidate rows. Phase 2 is an exact window top-k over that small
  remainder. At 100 TB this is the only shape that works: the shuffle
  is O(batches·q·k), independent of n.

Ties break by (distance, id) — deterministic across runs and engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofaiss_spark.functions.distance import distance_col, validate_metric

RESULT_SCHEMA = "query_id long, id long, distance double"


def score_pairs(
    vectors: DataFrame,
    queries: DataFrame,
    metric: str = "l2",
    vec_col: str = "vec",
    qvec_col: str = "qvec",
    id_col: str = "id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Every (query, vector) pair scored: the broadcast nested-loop
    join the reference's full scan is equivalent to (flat.go:94-103).

    Returns (query_id, id, distance). The query side is broadcast —
    it is the small side by contract (a query batch, not a table).
    """
    validate_metric(metric)
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_vec"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(qvec_col).alias("_qvec")
    )
    scored = v.join(F.broadcast(q)).select(
        "query_id",
        "id",
        distance_col(metric, "_vec", "_qvec").alias("distance"),
    )
    return scored


def topk(
    scored: DataFrame,
    k: int,
    partition_cols: list[str] | None = None,
    distance_col_name: str = "distance",
    id_col: str = "id",
) -> DataFrame:
    """Exact per-group top-k with deterministic (distance, id) tie-break.

    Window + row_number over (partition_cols); Spark's rank-limit
    pushdown turns this into per-partition partial top-k before the
    shuffle (WindowGroupLimit), so the shuffle carries ≤ groups×k rows.
    """
    partition_cols = partition_cols if partition_cols is not None else ["query_id"]
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col(distance_col_name).asc(), F.col(id_col).asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if k > 0:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked


def collect_queries(queries: DataFrame, qvec_col: str = "qvec",
                    query_id_col: str = "query_id"
                    ) -> tuple[np.ndarray, np.ndarray]:
    """(query ids, f64 query matrix) of a (query_id, qvec) batch: one
    Arrow collect, bounded by contract (a query batch, not a table)."""
    from gofaiss_spark.operators.local_serve import _list_matrix

    tbl = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(qvec_col).alias("qvec")
    ).toArrow()
    return (tbl.column("query_id").to_numpy().astype(np.int64, copy=False),
            _list_matrix(tbl.column("qvec"), 1, np.float64))


def search_index(
    index,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
    refine: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """The distributed top-k of every index kind (REPOSE's shape: one
    local index per partition and one global merge).

    One mapInArrow over the index's rows builds, per Arrow batch, the
    same Local*Index the other tiers build (local_serve.local_arrays
    + local_index) and yields its top-k, at most nq × k (query_id, id,
    distance) rows with the padding dropped; the ``topk`` Window then
    merges them by (distance, id). Every distance is the local
    kernel's per-pair value, so the answer equals the local replica's
    by construction, and the shuffle carries O(batches·nq·k) rows,
    independent of n. The cell kinds probe once, on the driver
    (``_probe_cells``): the probed cells prune the list_id partitions
    and ride to every batch, which runs ``search_cells``.

    ``refine=r`` (quantized kinds) takes the top-(k·r) and re-ranks
    them exact against ``base`` (the original (id, vec) rows) with
    ``refine_exact``."""
    from gofaiss_spark.operators.local_serve import (
        _PAD_ID,
        _index_parts,
        _probe_cells,
        local_arrays,
        local_index,
    )

    if refine is not None:
        if refine < 1:
            raise ValueError(f"refine must be >= 1, got {refine}")
        if base is None:
            raise ValueError("refine requires base= (the original vectors)")
    kc = k * refine if refine is not None and k > 0 else k
    spec, side, rows = _index_parts(index)
    spark = rows.sparkSession
    query_ids, qmat = collect_queries(queries, qvec_col, query_id_col)
    if len(query_ids) == 0:
        return spark.createDataFrame([], RESULT_SCHEMA + ", rank int")
    cells = None
    if "centroids" in side:
        cells = _probe_cells(side["centroids"], qmat, spec["metric"], nprobe)
        probed = [int(c) for c in np.unique(cells)]
        rows = rows.filter(F.col("list_id").isin(probed))
        if not getattr(index, "colocated", True):
            # in-memory IVFPQ/IVFSQ builds hold a slice of every list
            # in every partition: group each list's rows so its
            # residual tables are built once. Loaded artifacts are
            # list-contiguous on disk and skip the shuffle.
            rows = rows.repartition(
                min(spark.sparkContext.defaultParallelism, len(probed)),
                "list_id")
    bc = spark.sparkContext.broadcast((query_ids, qmat, cells, side))

    def part(batches):
        import pyarrow as pa

        qids, q, cells, side = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            idx = local_index(spec["kind"], spec["metric"],
                              {**local_arrays(batch, spec), **side})
            ids, d = (idx.search(q, kc) if cells is None
                      else idx.search_cells(q, cells, kc))
            real = (ids != _PAD_ID).ravel()
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(qids, ids.shape[1])[real]),
                 pa.array(ids.ravel()[real]), pa.array(d.ravel()[real])],
                names=["query_id", "id", "distance"])

    cand = rows.mapInArrow(part, RESULT_SCHEMA)
    if refine is None:
        return topk(cand, k)
    return refine_exact(topk(cand, kc), base, queries, k,
                        metric=spec["metric"], qvec_col=qvec_col,
                        query_id_col=query_id_col)


def search_flat(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2",
    method: str = "local",
    vec_col: str = "vec",
    qvec_col: str = "qvec",
    id_col: str = "id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact k-NN for a batch of queries.

    Returns (query_id, id, distance, rank) with rank 1..k ascending by
    (distance, id). ``k <= 0`` means "all" (flat.go:82-84 normalizes
    k>n and k<=0 to n).
    """
    validate_metric(metric)
    if method == "expr":
        scored = score_pairs(
            vectors, queries, metric, vec_col, qvec_col, id_col, query_id_col
        )
        return topk(scored, k)
    if method != "local":
        raise ValueError(f"unknown method {method!r} (expected 'local' or 'expr')")
    if k <= 0:
        # "return everything" only makes sense via the full scored join
        scored = score_pairs(
            vectors, queries, metric, vec_col, qvec_col, id_col, query_id_col
        )
        return topk(scored, k)
    from gofaiss_spark.operators.flat import FlatIndex

    rows = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return search_index(FlatIndex(metric, 0, rows), queries, k,
                        qvec_col=qvec_col, query_id_col=query_id_col)


def refine_exact(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    vec_col: str = "vec",
    qvec_col: str = "qvec",
    id_col: str = "id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact re-ranking of an approximate candidate list (the FAISS
    IndexRefineFlat idea): take the top-(k·oversample) ids from a
    quantized search, fetch their original vectors, recompute the true
    metric, keep the exact top-k.

    Scale shape: ``candidates`` is queries × k_cand narrow (query_id,
    id) rows — the join back to ``vectors`` is an equi-join on id that
    touches only candidate rows (shuffle-hash on id at 100 TB, never a
    rescan), and the query batch rides as a broadcast. Quantization
    error then only affects which candidates are considered (recall),
    never the reported distances or their order.
    """
    validate_metric(metric)
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_vec"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(qvec_col).alias("_qvec")
    )
    from gofaiss_spark.functions.distance import paired_distance_udf

    scored = (
        candidates.select("query_id", "id")
        .join(v, "id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "id",
            # Arrow BLAS kernel, not the per-row zip_with expression:
            # candidates are queries × oversample·k pairs and the HOF
            # evaluation was the refine bottleneck at deep oversample
            paired_distance_udf(metric)("_vec", "_qvec").alias("distance"),
        )
    )
    return topk(scored, k)


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    threshold: float,
    metric: str = "l2",
    max_results: int | None = None,
    vec_col: str = "vec",
    qvec_col: str = "qvec",
    id_col: str = "id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """All neighbors within ``threshold``.

    The reference emulates this by oversampling top-(k·10) then
    filtering (pkg/search/search.go:165-189) — an approximation. Spark
    expresses it exactly as a filter on the scored join; documented as
    an intentional semantic improvement (SURVEY.md §4 row 12).
    """
    scored = score_pairs(
        vectors, queries, metric, vec_col, qvec_col, id_col, query_id_col
    )
    out = scored.filter(F.col("distance") <= F.lit(float(threshold)))
    if max_results is not None and max_results > 0:
        out = topk(out, max_results)
    else:
        out = topk(out, 0)
    return out
