"""Vector reconstruction and index merging — the FAISS
`Index.reconstruct` / `merge_from` surface the reference lacks
(gofaiss exposes raw vectors only on Flat, flat.go:118-120).

- ``reconstruct(index, ids)`` returns (id, vec) for any index type.
  Exact for storing indexes (flat/ivf/lsh/hnsw*); for quantized
  indexes it DECODES the stored codes (codebook lookup / inverse
  scale / centroid + residual), i.e. the lossy approximation the
  index actually searches — which is what makes it useful for
  debugging recall and for refine-style pipelines. Decoding is an
  Arrow kernel over the codes table with broadcast codebooks; an
  ``ids`` filter prunes the scan first (predicate pushdown on the
  persisted artifact).
- ``merge_index(a, b)`` unions two compatible indexes (same type and
  trained state: centroids/codebooks/quantization range must match).
  The union is a metadata operation on DataFrames — no data moves
  until the merged index is searched or saved, and no retraining
  happens (the FAISS merge_from contract). Id spaces must be
  disjoint — checked eagerly by a narrow-column count unless
  ``check_ids=False`` (HNSW sharded/routed blobs are never checked;
  ids live inside serialized graph payloads).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["reconstruct", "merge_index"]

_VEC_SCHEMA = "id long, vec array<float>"


def _filter_ids(df: DataFrame, ids: Sequence[int] | None, col: str = "id") -> DataFrame:
    if ids is None:
        return df
    return df.filter(F.col(col).isin([int(i) for i in ids]))


def _decode_sq(codes: DataFrame, vmin: np.ndarray, step: np.ndarray,
               centroids: np.ndarray | None) -> DataFrame:
    has_list = centroids is not None
    cols = ["id", "code"] + (["list_id"] if has_list else [])
    bc_vals = (vmin, step, centroids)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mn, st, cents = bc_vals
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.stack(pdf["code"].to_numpy()).astype(np.float64)
            x = mn + c * st
            if cents is not None:
                x = x + cents[pdf["list_id"].to_numpy(dtype=np.int64)]
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(dtype=np.int64),
                 "vec": list(x.astype(np.float32))}
            )

    return codes.select(*cols).mapInPandas(part, schema=_VEC_SCHEMA)


def _decode_pq(codes: DataFrame, codebooks: np.ndarray,
               centroids: np.ndarray | None) -> DataFrame:
    has_list = centroids is not None
    cols = ["id", "code"] + (["list_id"] if has_list else [])
    bc_vals = (codebooks, centroids)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb, cents = bc_vals  # cb: (M, ksub, dsub)
        m = cb.shape[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.stack(pdf["code"].to_numpy()).astype(np.int64)  # (b, M)
            # gather per-subspace codewords and concat: (b, M, dsub)
            x = np.concatenate(
                [cb[j, c[:, j]] for j in range(m)], axis=1
            )
            if cents is not None:
                x = x + cents[pdf["list_id"].to_numpy(dtype=np.int64)]
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(dtype=np.int64),
                 "vec": list(x.astype(np.float32))}
            )

    return codes.select(*cols).mapInPandas(part, schema=_VEC_SCHEMA)


def reconstruct(index, ids: Sequence[int] | None = None) -> DataFrame:
    """(id, vec) for every stored id (or the given subset). Decoded —
    not original — for quantized indexes; see module docstring."""
    from gofaiss_spark.operators.kinds import kind_of
    from gofaiss_spark.operators.lsh import LshIndex

    kd = kind_of(index)
    if kd is not None:
        rows = getattr(index, kd.table)
        if kd.row_col == "vec":
            return _filter_ids(rows.select("id", "vec"), ids)
        cents = index.centroids if kd.cell else None
        if "codebooks" in kd.quantizer:
            return _decode_pq(_filter_ids(rows, ids), index.codebooks, cents)
        return _decode_sq(_filter_ids(rows, ids), index.vmin, index.step,
                          cents)
    if isinstance(index, LshIndex):
        return _filter_ids(index.vectors.select("id", "vec"), ids)

    from gofaiss_spark.operators.hnsw import (
        HnswIndex,
        HnswRoutedIndex,
        HnswShardedIndex,
    )

    if isinstance(index, HnswIndex):
        g = index.graph
        rows = [
            (int(g.ids[i]), [float(x) for x in g.vecs[i]])
            for i in range(g.n())
            if g.levels[i] >= 0
        ]
        df = index.spark.createDataFrame(rows, _VEC_SCHEMA)
        return _filter_ids(df, ids)
    if isinstance(index, (HnswShardedIndex, HnswRoutedIndex)):
        import pickle

        want = None if ids is None else {int(i) for i in ids}

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for blob in pdf["blob"]:
                    g = pickle.loads(blob)
                    keep = [
                        i for i in range(g.n())
                        if g.levels[i] >= 0
                        and (want is None or int(g.ids[i]) in want)
                    ]
                    if not keep:
                        continue
                    yield pd.DataFrame(
                        {"id": g.ids[keep].astype(np.int64),
                         "vec": list(g.vecs[keep].astype(np.float32))}
                    )

        return index.blobs.mapInPandas(part, schema=_VEC_SCHEMA)
    raise TypeError(f"cannot reconstruct from {type(index).__name__}")


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise ValueError(f"merge_index: incompatible indexes ({what})")


def _check_disjoint_ids(a_df: DataFrame, b_df: DataFrame) -> None:
    """Raise if the two indexes share vector ids. One narrow-column
    aggregation: count(a) + count(b) must equal the distinct-id count
    of the union — overlapping ids would surface as duplicate rows in
    every subsequent search. Skippable via merge_index(check_ids=False)
    for huge artifacts where the caller guarantees disjointness."""
    ids_a = a_df.select("id")
    ids_b = b_df.select("id")
    n_parts = ids_a.count() + ids_b.count()
    n_distinct = ids_a.unionByName(ids_b).distinct().count()
    _check(
        n_parts == n_distinct,
        f"id spaces overlap ({n_parts - n_distinct} shared ids)",
    )


def merge_index(a, b, check_ids: bool = True):
    """Union two compatible same-type indexes without retraining
    (FAISS merge_from). Trained state must match exactly — merging
    indexes quantized against different codebooks would silently
    corrupt distances, so it raises instead. Id spaces must be
    disjoint; checked by count unless ``check_ids=False`` (HNSW
    sharded/routed blobs carry ids inside serialized graph payloads,
    so those two types are never id-checked — callers must guarantee
    disjointness there)."""
    import dataclasses

    from gofaiss_spark.operators.kinds import kind_of

    _check(type(a) is type(b), f"{type(a).__name__} vs {type(b).__name__}")

    kd = kind_of(a)
    if kd is not None:
        # the trained state is the meta params and quantizer matrices
        for name in ("dim", "metric") + kd.params + kd.matrices:
            x, y = getattr(a, name, None), getattr(b, name, None)
            _check(np.allclose(x, y) if isinstance(x, np.ndarray)
                   else x == y, f"{name} differs")
        rows_a, rows_b = getattr(a, kd.table), getattr(b, kd.table)
        if check_ids:
            _check_disjoint_ids(rows_a, rows_b)
        merged = {kd.table: rows_a.unionByName(rows_b)}
        if hasattr(a, "colocated"):
            merged["colocated"] = False  # each side's lists are separate
        return dataclasses.replace(a, **merged)

    from gofaiss_spark.operators.hnsw import HnswRoutedIndex, HnswShardedIndex

    if isinstance(a, HnswShardedIndex):
        # serve is exhaustive over blob ROWS, so a union of shard
        # tables is a valid merged index (b's shard ids are offset to
        # keep rows distinct — the true FAISS IndexShards merge)
        _check(a.metric == b.metric, "metric")
        off = F.lit(int(a.num_shards))
        b_blobs = b.blobs.withColumn(
            "shard_id", (F.col("shard_id") + off).cast("int")
        )
        return dataclasses.replace(
            a,
            blobs=a.blobs.unionByName(b_blobs),
            num_shards=a.num_shards + b.num_shards,
        )
    if isinstance(a, HnswRoutedIndex):
        # routed serve probes by cell id: with identical centroids,
        # both sides' per-cell graphs carry the same shard_id and the
        # probe visits BOTH blob rows for a probed cell — union is
        # exact, no re-keying needed
        _check(a.metric == b.metric and a.nlist == b.nlist, "metric/nlist")
        _check(np.allclose(a.centroids, b.centroids), "centroids differ")
        return dataclasses.replace(a, blobs=a.blobs.unionByName(b.blobs))
    raise TypeError(f"cannot merge index type {type(a).__name__}")
