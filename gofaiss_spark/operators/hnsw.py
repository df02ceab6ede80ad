"""HNSW — driver-side fidelity path with distributed batch search.

Reference: pkg/index/hnsw/hnsw.go (431 LoC). Graph construction is
inherently sequential pointer-chasing (hnsw.go:291-341) and does not
fit DataFrame execution, so per SURVEY.md §7 the DISTRIBUTED ANN
role is played by LSH (operators/lsh.py); this module is the
small-index fidelity path: build on the driver over collected
vectors (guarded to ``max_vectors``), then serve query BATCHES
distributed — the graph is broadcast once and each executor runs
greedy descent for its slice of the query DataFrame.

Parity map (all hnsw.go cites):
- defaults M=16, efConstruction=200, efSearch=200 (:46-87)
- level draw ``floor(-ln(U) * 1/ln(M))`` capped at 16 (:282-289)
- insert: greedy descent above node level, searchLayer(efC) +
  closest-M selection + bidirectional edges + prune, 2M cap at
  level 0 (:291-341, :317-320, :394-412, :414-431)
- search: greedy layers>0, searchLayer(efSearch) at 0, sort, k
  (:142-187)
- Remove: drop node, filter edge lists, re-pick entry (:203-242)
- Stats ExtraInfo{metric, M, efConstruction, efSearch, maxLevel}
  (:245-278)

At 100 TB the answer is NOT this module — it's IVF/IVFPQ partitioned
parquet or LSH. This exists because the reference's HNSW semantics
(ef/M tuning, graph edges) are part of its API surface; edges are
exportable as a ``(level, src, dst)`` DataFrame for persistence.
"""

from __future__ import annotations

import heapq
import pickle
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofaiss_spark.functions.distance import validate_metric
from gofaiss_spark.operators.topk import RESULT_SCHEMA, topk

DEFAULT_M = 16
DEFAULT_EF_CONSTRUCTION = 200
DEFAULT_EF_SEARCH = 200
MAX_LEVEL_CAP = 16  # hnsw.go:287
DEFAULT_MAX_VECTORS = 1_000_000
# Batch-size dispatch: below this, the per-query sequential kernel
# beats the lock-step batch kernel. Measured break-even is between
# batch 8 (seq 7.13 ms vs lock-step 7.23) and batch 12 (8.29 vs
# 11.14) — interleaved A/B, BENCH_AB.json hnsw_dispatch_ab_r9
# (supersedes the r8 estimate of 10-20 from hnsw_batch_ab_r8).
SEQ_DISPATCH_MAX = 10
# Visited-state layout switch for the lock-step kernel: bool rows up
# to this many nodes (chunk >= 256 under the 64 MB cap), bit-packed
# uint8 rows beyond (8x wider chunks on big single cells).
_BOOL_VISITED_MAX_N = 1 << 18


@dataclass
class HnswGraph:
    """Picklable graph payload broadcast to executors."""

    metric: str
    dim: int
    m: int
    ef_construction: int
    vecs: np.ndarray  # (n, dim) float32; L2-normalized when cosine
    ids: np.ndarray  # (n,) int64 external IDs
    levels: np.ndarray  # (n,) int32
    edges: list[dict[int, np.ndarray]]  # edges[level][node] -> int32 idxs
    entry_point: int = -1
    max_level: int = -1
    vn: np.ndarray | None = field(default=None, repr=False)  # ||v||² cache
    # level-0 CSR cache (indptr, indices) for the batch kernel; reset
    # by every edge-mutation site (_prune/insert/_graph_remove)
    csr0: tuple | None = field(default=None, repr=False)

    def n(self) -> int:
        return int(self.vecs.shape[0])


@dataclass
class HnswIndex:
    graph: HnswGraph
    ef_search: int = DEFAULT_EF_SEARCH
    seed: int = 42
    spark: SparkSession | None = field(default=None, repr=False)

    def set_ef_search(self, ef: int) -> None:
        """Runtime knob parity (hnsw.go:90-94)."""
        self.ef_search = int(ef)

    def stats(self) -> dict:
        g = self.graph
        return {
            "index_type": "hnsw",
            "total_vectors": g.n(),
            "dimension": g.dim,
            "memory_mb": round(
                (g.vecs.nbytes + sum(e.nbytes for lv in g.edges for e in lv.values()))
                / 1e6,
                3,
            ),
            "extra": {
                "metric": g.metric,
                "m": g.m,
                "ef_construction": g.ef_construction,
                "ef_search": self.ef_search,
                "max_level": g.max_level,
            },
        }

    def edges_df(self, spark: SparkSession | None = None) -> DataFrame:
        """The graph as a (level, src, dst) DataFrame — the persisted
        form (SURVEY.md §1.3 HNSW row)."""
        spark = spark or self.spark
        g = self.graph
        rows = [
            (lvl, int(g.ids[src]), int(g.ids[dst]))
            for lvl, layer in enumerate(g.edges)
            for src, nbrs in layer.items()
            for dst in nbrs.tolist()
        ]
        return spark.createDataFrame(rows, schema="level int, src long, dst long")


def _prep(vecs: np.ndarray, metric: str) -> np.ndarray:
    v = np.ascontiguousarray(vecs, dtype=np.float32)
    if metric == "cosine":
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        v = v / norms
    return v


def _vnorms(g: HnswGraph) -> np.ndarray:
    if g.vn is None:
        g.vn = np.einsum("ij,ij->i", g.vecs, g.vecs)
    return g.vn


def _score_to(g: HnswGraph, q: np.ndarray, idxs: np.ndarray, qn: float) -> np.ndarray:
    """Ordering score from one query to a batch of graph nodes — the
    NumPy stand-in for the reference's per-edge scalar calls
    (hnsw.go distance calls). For L2 this is the SQUARED distance
    (||v||² + ||q||² − 2⟨v,q⟩ from the precomputed norm cache): a
    monotone stand-in, so heap order and neighbor selection are
    unchanged while the hot loop does one gather + one gemv and no
    sqrt. Stays in float32 like the reference's []float32 math."""
    sub = g.vecs[idxs]
    ip = sub @ q
    if g.metric == "l2":
        return _vnorms(g)[idxs] + qn - 2.0 * ip
    # cosine (pre-normalized) and dot share the -ip / 1-ip shape
    return 1.0 - ip if g.metric == "cosine" else -ip


def _score_to_es(g: HnswGraph, q: np.ndarray, idxs: np.ndarray, qn: float) -> np.ndarray:
    """Einsum twin of `_score_to` for the small-batch sequential
    SEARCH kernel. `np.einsum("ij,j->i", ...)` is bit-identical to
    the lock-step kernel's `np.einsum("ij,ij->i", ...)` row
    reduction (verified: same per-row summation order), while BLAS
    gemv (`sub @ q`) differs at f32 summation-order ulps — so the
    batch-size dispatch in `_search_graph_batch` preserves
    bit-equality across tiers regardless of which kernel a batch
    lands on. Build keeps `_score_to` (gemv is ~1.5-1.9x faster at
    the per-pop m≈8-64 sizes the insert loop sees, and build needs
    only determinism, not cross-kernel parity)."""
    sub = g.vecs[idxs]
    ip = np.einsum("ij,j->i", sub, q)
    if g.metric == "l2":
        return _vnorms(g)[idxs] + qn - 2.0 * ip
    return 1.0 - ip if g.metric == "cosine" else -ip


def _score_to_dist(g: HnswGraph, s: np.ndarray) -> np.ndarray:
    """Score space → reported distance (sqrt for l2; cosine clamped
    to [0, 2] like the reference's sim∈[-1,1] clamp, distance.go:
    55-71 — f32 self-matches otherwise report -2e-7; identity for
    dot). Shared by every tier, so the clamp cannot break the
    cross-tier bit-equality gates."""
    if g.metric == "l2":
        return np.sqrt(np.maximum(s, 0.0))
    if g.metric == "cosine":
        return np.clip(s, 0.0, 2.0)
    return np.asarray(s)


def _qnorm(g: HnswGraph, q: np.ndarray) -> float:
    return float(q @ q) if g.metric == "l2" else 0.0


def _qnorm_es(g: HnswGraph, q: np.ndarray) -> float:
    """Einsum twin of `_qnorm` — the exact row reduction the
    lock-step kernel uses for its batched query norms (BLAS sdot in
    `_qnorm` differs at f32 ulps, which would leak into every l2
    score of the sequential dispatch arm)."""
    if g.metric != "l2":
        return 0.0
    return float(np.einsum("ij,ij->i", q[None], q[None])[0])


def _search_layer(
    g: HnswGraph,
    q: np.ndarray,
    entry: list[int],
    ef: int,
    level: int,
    seen: np.ndarray | None = None,
    gen: int = 0,
    score=_score_to,
    qnorm=_qnorm,
) -> list[tuple[float, int]]:
    """Bounded best-first expansion (hnsw.go:343-392). Returns up to
    ``ef`` (distance, node) pairs, unsorted heap order.

    ``seen``/``gen`` is an optional generation-marked visited array
    (one int32 per node, no per-call allocation or hashing) — the
    hot-loop replacement for a Python set when the caller runs many
    expansions over the same graph. Scores are in ``_score_to``
    space (squared L2) — callers needing reported distances apply
    ``_score_to_dist``."""
    qn = qnorm(g, q)
    entry_arr = np.asarray(entry, dtype=np.int64)
    dists = score(g, q, entry_arr, qn)
    if seen is None:
        visited = set(entry)
    else:
        seen[entry_arr] = gen
    candidates = [(float(d), n) for d, n in zip(dists, entry)]
    heapq.heapify(candidates)
    results = [(-d, n) for d, n in candidates]  # max-heap via negation
    heapq.heapify(results)
    while candidates:
        d_c, c = heapq.heappop(candidates)
        if results and d_c > -results[0][0] and len(results) >= ef:
            break
        nbrs = g.edges[level].get(c)
        if nbrs is None or nbrs.size == 0:
            continue
        if seen is None:
            fresh = [int(n) for n in nbrs if int(n) not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            fresh_arr = np.asarray(fresh, dtype=np.int64)
        else:
            fresh_arr = nbrs[seen[nbrs] != gen]
            if fresh_arr.size == 0:
                continue
            seen[fresh_arr] = gen
        nd = score(g, q, fresh_arr, qn)
        worst = -results[0][0] if results else np.inf
        if len(results) >= ef:
            # numpy pre-filter: once the result heap is full, only
            # neighbors beating the current worst can matter — skip
            # the Python heap ops for the (typical) majority that
            # don't
            keep = nd < worst
            if not keep.any():
                continue
            nd, fresh = nd[keep], fresh_arr[keep].tolist()
        else:
            fresh = fresh_arr.tolist()
        for d_n, n in zip(nd.tolist(), fresh):
            if len(results) < ef or d_n < worst:
                heapq.heappush(candidates, (d_n, n))
                heapq.heappush(results, (-d_n, n))
                if len(results) > ef:
                    heapq.heappop(results)
                worst = -results[0][0]
    return [(-nd, n) for nd, n in results]


def _greedy_descend(g: HnswGraph, q: np.ndarray, from_level: int,
                    to_level: int, score=_score_to,
                    qnorm=_qnorm) -> int:
    """ef=1 greedy walk through the upper layers (hnsw.go:158-168).
    Runs in score space — argmin is ordering-only."""
    qn = qnorm(g, q)
    ep = g.entry_point
    cur = float(score(g, q, np.asarray([ep], dtype=np.int64), qn)[0])
    for lvl in range(from_level, to_level, -1):
        improved = True
        while improved:
            improved = False
            nbrs = g.edges[lvl].get(ep)
            if nbrs is None or nbrs.size == 0:
                break
            nd = score(g, q, nbrs, qn)
            j = int(np.argmin(nd))
            if float(nd[j]) < cur:
                cur = float(nd[j])
                ep = int(nbrs[j])
                improved = True
    return ep


def _select_neighbors(cands: list[tuple[float, int]], m: int) -> list[int]:
    """Simple closest-M truncation — the reference deliberately does
    NOT use the FAISS diversity heuristic (hnsw.go:394-412)."""
    return [n for _, n in sorted(cands)[:m]]


def _prune(g: HnswGraph, node: int, level: int, max_conn: int) -> None:
    """Keep the ``max_conn`` closest edges of ``node`` (hnsw.go:414-431)."""
    nbrs = g.edges[level][node]
    if nbrs.size <= max_conn:
        return
    v = g.vecs[node]
    d = _score_to(g, v, nbrs, _qnorm(g, v))
    keep = nbrs[np.argsort(d, kind="stable")[:max_conn]]
    g.edges[level][node] = keep.astype(np.int32)
    g.csr0 = None


def build_hnsw(
    vectors: DataFrame,
    m: int = DEFAULT_M,
    ef_construction: int = DEFAULT_EF_CONSTRUCTION,
    metric: str = "l2",
    seed: int = 42,
    max_vectors: int = DEFAULT_MAX_VECTORS,
    vec_col: str = "vec",
    id_col: str = "id",
) -> HnswIndex:
    """Collect (guarded) and build the graph on the driver.

    Insert loop is hnsw.go:97-139/291-341 re-expressed with NumPy
    batch distances. Raises if the input exceeds ``max_vectors`` —
    the explicit small-index contract; use IVF/IVFPQ/LSH beyond it.
    """
    validate_metric(metric)
    df = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    n = df.count()
    if n == 0:
        raise ValueError("cannot build hnsw index from an empty DataFrame")
    if n > max_vectors:
        raise ValueError(
            f"hnsw is the driver-side small-index path: {n} rows > max_vectors="
            f"{max_vectors}; use ivf/ivfpq/lsh for distributed ANN"
        )
    rows = df.toPandas()
    ids = rows["id"].to_numpy(dtype=np.int64)
    vecs = _prep(np.stack(rows["vec"].to_numpy()), metric)
    g = _build_graph(ids, vecs, m, ef_construction, metric, seed)
    return HnswIndex(graph=g, spark=vectors.sparkSession)


def _build_graph(
    ids: np.ndarray,
    vecs: np.ndarray,
    m: int,
    ef_construction: int,
    metric: str,
    seed: int,
) -> HnswGraph:
    """The sequential insert loop (hnsw.go:97-139/291-341) over an
    already-prepped (n, dim) matrix. Shared by the driver-side build
    and the per-shard executor build (`build_hnsw_sharded`)."""
    n, dim = vecs.shape
    rng = np.random.default_rng(seed)
    mult = 1.0 / np.log(m)
    # geometric level draw, capped (hnsw.go:282-289)
    levels = np.minimum(
        np.floor(-np.log(rng.uniform(1e-12, 1.0, size=n)) * mult).astype(np.int32),
        MAX_LEVEL_CAP,
    )

    g = HnswGraph(
        metric=metric,
        dim=dim,
        m=m,
        ef_construction=ef_construction,
        vecs=vecs,
        ids=ids,
        levels=levels,
        edges=[dict() for _ in range(MAX_LEVEL_CAP + 1)],
    )

    seen = np.zeros(n, dtype=np.int32)  # generation-marked visited
    gen = 0
    for i in range(n):
        lvl = int(levels[i])
        q = vecs[i]
        for L in range(lvl + 1):
            g.edges[L][i] = np.empty(0, dtype=np.int32)
        if g.entry_point < 0:
            g.entry_point, g.max_level = i, lvl
            continue
        ep = (
            _greedy_descend(g, q, g.max_level, lvl)
            if g.max_level > lvl
            else g.entry_point
        )
        eps = [ep]
        for L in range(min(lvl, g.max_level), -1, -1):
            gen += 1
            w = _search_layer(g, q, eps, ef_construction, L, seen, gen)
            nbrs = _select_neighbors(w, m)
            g.edges[L][i] = np.asarray(nbrs, dtype=np.int32)
            max_conn = 2 * m if L == 0 else m  # hnsw.go:317-320
            for nb in nbrs:
                g.edges[L][nb] = np.append(g.edges[L][nb], np.int32(i))
                _prune(g, nb, L, max_conn)
            eps = [nb for _, nb in sorted(w)] or eps
        if lvl > g.max_level:
            g.entry_point, g.max_level = i, lvl
    return g


def _search_graph_batch_seq(
    g: HnswGraph, qmat: np.ndarray, qids: np.ndarray, k: int, ef: int
) -> pd.DataFrame:
    """Per-query kernel — the small-batch arm of the dispatch in
    `_search_graph_batch` (round 9; the r8 A/B showed the lock-step
    kernel 1.34x SLOWER at batch=6 — its vectorized rounds are pure
    numpy-dispatch overhead when few queries share them). Scores via
    `_score_to_es` so results are bit-identical to the lock-step
    kernel (same einsum row reduction; exact score ties excepted),
    which the cross-tier bit-equality driver gates rely on."""
    out_q, out_i, out_d = [], [], []
    seen = np.zeros(g.n(), dtype=np.int32)
    for row in range(qmat.shape[0]):
        q = qmat[row]
        ep = (_greedy_descend(g, q, g.max_level, 0,
                              score=_score_to_es, qnorm=_qnorm_es)
              if g.max_level > 0 else g.entry_point)
        res = sorted(_search_layer(g, q, [ep], max(ef, k), 0, seen,
                                   row + 1, score=_score_to_es,
                                   qnorm=_qnorm_es))[
            : k if k > 0 else None
        ]
        dists = _score_to_dist(g, np.asarray([s for s, _ in res]))
        for d, (_, node) in zip(dists, res):
            out_q.append(qids[row])
            out_i.append(g.ids[node])
            out_d.append(float(d))
    return pd.DataFrame(
        {
            "query_id": np.asarray(out_q, dtype=np.int64),
            "id": np.asarray(out_i, dtype=np.int64),
            "distance": np.asarray(out_d, dtype=np.float64),
        }
    )


def _csr_level(g: HnswGraph, lvl: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-level adjacency as CSR (indptr int64 (n+1,), indices int32,
    neighbor order preserved) — the gather layout the lock-step batch
    kernels need (a dict lookup per (query, pop) was ~30% of the
    serial hot loop). Cached per level on the graph; every
    edge-mutation site resets ``csr0`` (remove/prune/insert), and
    ``getattr`` tolerates graphs unpickled from blobs written before
    the field existed."""
    cache = getattr(g, "csr0", None)
    if cache is None:
        cache = g.csr0 = {}
    got = cache.get(lvl)
    if got is not None:
        return got
    n = g.n()
    layer = g.edges[lvl] if lvl < len(g.edges) else {}
    counts = np.zeros(n, dtype=np.int64)
    for node, nbrs in layer.items():
        counts[node] = nbrs.size
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=indptr[1:])
    indices = np.empty(int(indptr[-1]), dtype=np.int32)
    for node, nbrs in layer.items():
        s = int(indptr[node])
        indices[s:s + nbrs.size] = nbrs
    cache[lvl] = (indptr, indices)
    return cache[lvl]


def _flat_gather(indptr: np.ndarray, indices: np.ndarray,
                 nodes: np.ndarray, rows: np.ndarray,
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ragged CSR gather for a batch of (row, node) pairs → flat
    neighbor ids, their row of origin, and per-pair counts (order
    preserved: pairs in input order, neighbors in adjacency order)."""
    st = indptr[nodes]
    cnt = indptr[nodes + 1] - st
    nz = cnt > 0
    if not nz.all():
        rows, st, cnt = rows[nz], st[nz], cnt[nz]
    total = int(cnt.sum())
    if total == 0:
        return (np.empty(0, dtype=np.int64),
                np.empty(0, dtype=rows.dtype), cnt)
    csum = np.cumsum(cnt)
    flat = indices[
        np.arange(total) + np.repeat(st - (csum - cnt), cnt)
    ].astype(np.int64)
    return flat, np.repeat(rows, cnt), cnt


def _first_per_sorted(arr: np.ndarray) -> np.ndarray:
    """First-occurrence offsets of each run in a nondecreasing array
    (the `np.unique(..., return_index=True)` fast path)."""
    mask = np.empty(len(arr), dtype=bool)
    mask[0] = True
    np.not_equal(arr[1:], arr[:-1], out=mask[1:])
    return np.flatnonzero(mask)


def _batch_greedy_descend(g: HnswGraph, Q: np.ndarray,
                          qn: np.ndarray | None) -> np.ndarray:
    """Lock-step upper-layer greedy walk for the whole batch — the
    vectorized `_greedy_descend` (hnsw.go:158-168 per query: at each
    level, hop to the closest neighbor while it improves; first-index
    tie-break matches np.argmin). Returns each query's level-0 entry
    point."""
    nq = Q.shape[0]
    ep = np.full(nq, g.entry_point, dtype=np.int64)
    cur = _batch_scores(g, Q, np.arange(nq), ep, qn)
    for lvl in range(g.max_level, 0, -1):
        indptr, indices = _csr_level(g, lvl)
        active = np.ones(nq, dtype=bool)
        while True:
            rows = np.flatnonzero(active)
            if rows.size == 0:
                break
            st = indptr[ep[rows]]
            cnt = indptr[ep[rows] + 1] - st
            nz = cnt > 0
            if not nz.all():
                active[rows[~nz]] = False
                rows, st, cnt = rows[nz], st[nz], cnt[nz]
                if rows.size == 0:
                    break
            total = int(cnt.sum())
            csum = np.cumsum(cnt)
            flat = indices[
                np.arange(total) + np.repeat(st - (csum - cnt), cnt)
            ].astype(np.int64)
            frows = np.repeat(rows, cnt)
            sc = _batch_scores(g, Q, frows, flat, qn)
            starts = csum - cnt
            mv = np.minimum.reduceat(sc, starts)
            # first index achieving the segment min (argmin tie-break)
            ismin = sc == mv[np.repeat(np.arange(rows.size), cnt)]
            fi = np.minimum.reduceat(
                np.where(ismin, np.arange(total), total), starts)
            improved = mv < cur[rows]
            upd = rows[improved]
            cur[upd] = mv[improved]
            ep[upd] = flat[fi[improved]]
            active[rows[~improved]] = False
    return ep


def _batch_scores(g: HnswGraph, Q: np.ndarray, qrows: np.ndarray,
                  nodes: np.ndarray, qn: np.ndarray | None) -> np.ndarray:
    """f32 ordering scores for (query-row, node) pairs in one
    vectorized pass — the batched twin of `_score_to` (same formula,
    same f32 arithmetic; the reduction is a row-wise einsum, each
    row's sum independent of batch composition, which the
    cross-tier bit-equality gate relies on)."""
    sub = g.vecs[nodes]
    ip = np.einsum("ij,ij->i", sub, Q[qrows])
    if g.metric == "l2":
        return _vnorms(g)[nodes] + qn[qrows] - 2.0 * ip
    return 1.0 - ip if g.metric == "cosine" else -ip


def _batch_layer0_chunk(
    g: HnswGraph, Q: np.ndarray, eps: np.ndarray, ef: int,
    qn: np.ndarray | None, indptr: np.ndarray, indices: np.ndarray,
    res_d: np.ndarray, res_n: np.ndarray,
) -> None:
    """Lock-step ef-bounded best-first over one query chunk: every
    round, each still-active query pops its best frontier candidate,
    then neighbor gather, visited filter, scoring and top-ef
    maintenance run as single vectorized ops across the whole chunk
    (hnsw.go:343-392 semantics per query; the per-query pop order,
    stop rule and result set match the sequential kernel modulo f32
    summation-order ties). Fills ``res_d``/``res_n`` views in place.

    Visited state is a plain bool matrix up to `_BOOL_VISITED_MAX_N`
    nodes (fastest fancy-index ops; chunk width stays >= 256 under
    the 64 MB cap), and a bit-packed uint8 bitmap beyond that (n/8
    bytes per query), so chunk width no longer collapses toward the
    slow small-batch regime on big single cells (round-8 verdict
    "what's wrong" #2: bool rows at 10M nodes forced chunk=6).
    The packed set-bits pass is one unbuffered `np.bitwise_or.at`
    (duplicate-safe) — measured 2-5× faster than the previous 8-way
    per-bit-group fancy `|=` loop at the kernel's per-round mark
    shapes (r9 verdict "what's wrong" #3 A/B; BENCH_AB.json
    hnsw_mark_ab_r10, bit-equal)."""
    cq, n = Q.shape[0], g.n()
    packed = n > _BOOL_VISITED_MAX_N
    if packed:
        seen = np.zeros((cq, (n + 7) >> 3), dtype=np.uint8)

        def _fresh(rows: np.ndarray, nodes: np.ndarray) -> np.ndarray:
            return (
                (seen[rows, nodes >> 3]
                 >> (nodes & 7).astype(np.uint8)) & 1
            ) == 0

        def _mark(rows: np.ndarray, nodes: np.ndarray) -> None:
            np.bitwise_or.at(
                seen, (rows, nodes >> 3),
                np.uint8(1) << (nodes & 7).astype(np.uint8))
    else:
        seen = np.zeros((cq, n), dtype=bool)

        def _fresh(rows: np.ndarray, nodes: np.ndarray) -> np.ndarray:
            return ~seen[rows, nodes]

        def _mark(rows: np.ndarray, nodes: np.ndarray) -> None:
            seen[rows, nodes] = True

    rows_all = np.arange(cq)
    cap = max(2 * ef, 64)
    cand_d = np.full((cq, cap), np.inf, dtype=np.float32)
    cand_n = np.zeros((cq, cap), dtype=np.int64)
    cand_len = np.ones(cq, dtype=np.int64)

    d0 = _batch_scores(g, Q, rows_all, eps, qn)
    cand_d[:, 0] = d0
    cand_n[:, 0] = eps
    res_d[:, 0] = d0
    res_n[:, 0] = eps
    res_cnt = np.ones(cq, dtype=np.int64)
    worst = np.full(cq, np.inf, dtype=np.float32)
    worst[res_cnt >= ef] = res_d[res_cnt >= ef, 0]  # ef == 1 edge case
    _mark(rows_all, eps)
    active = np.ones(cq, dtype=bool)

    while True:
        rows = np.flatnonzero(active)
        if rows.size == 0:
            break
        sub_cd = cand_d[rows]
        j = np.argmin(sub_cd, axis=1)
        dmin = sub_cd[np.arange(rows.size), j]
        # the sequential break: pool empty, or best frontier candidate
        # can no longer beat the full result set's worst
        stop = (dmin == np.inf) | ((res_cnt[rows] >= ef)
                                   & (dmin > worst[rows]))
        if stop.any():
            active[rows[stop]] = False
            keep = ~stop
            rows, j = rows[keep], j[keep]
            if rows.size == 0:
                continue
        cnodes = cand_n[rows, j]
        cand_d[rows, j] = np.inf  # popped
        flat, frows, _cnt = _flat_gather(indptr, indices, cnodes, rows)
        if flat.size == 0:
            continue
        fresh = _fresh(frows, flat)
        if not fresh.any():
            continue
        frows, flat = frows[fresh], flat[fresh]
        _mark(frows, flat)
        sc = _batch_scores(g, Q, frows, flat, qn)
        # group the fresh neighbors by query row (frows nondecreasing)
        first = _first_per_sorted(frows)
        aff = frows[first]
        gcnt = np.diff(np.append(first, len(frows)))
        colpos = np.arange(len(frows)) - np.repeat(first, gcnt)
        width = int(colpos.max()) + 1
        rowmap = np.repeat(np.arange(len(aff)), gcnt)
        newd = np.full((len(aff), width), np.inf, dtype=np.float32)
        newn = np.full((len(aff), width), -1, dtype=np.int64)
        newd[rowmap, colpos] = sc
        newn[rowmap, colpos] = flat
        # top-ef of (current results ∪ fresh) per row — the batched
        # equivalent of the sequential insert-then-evict loop (same
        # surviving set: an element beats the final boundary iff it
        # would have been accepted at any insertion order)
        md = np.concatenate([res_d[aff], newd], axis=1)
        mn = np.concatenate([res_n[aff], newn], axis=1)
        part = np.argpartition(md, ef - 1, axis=1)[:, :ef]
        ar2 = np.arange(len(aff))[:, None]
        res_d[aff] = md[ar2, part]
        res_n[aff] = mn[ar2, part]
        res_cnt[aff] = np.minimum(ef, res_cnt[aff] + gcnt)
        worst[aff] = np.where(
            res_cnt[aff] >= ef, res_d[aff].max(axis=1),
            np.float32(np.inf),
        )
        # frontier pushes: exactly the fresh scores that entered the
        # new top-ef (<= keeps boundary ties explorable)
        push = sc <= worst[frows]
        if not push.any():
            continue
        prow, pd_, pn = frows[push], sc[push], flat[push]
        pfirst = _first_per_sorted(prow)
        pu = prow[pfirst]
        pcnt = np.diff(np.append(pfirst, len(prow)))
        pcol = np.arange(len(prow)) - np.repeat(pfirst, pcnt)
        slots = cand_len[prow] + pcol
        need = int(slots.max()) + 1
        if need > cand_d.shape[1]:
            grow = max(need, 2 * cand_d.shape[1])
            cand_d = np.concatenate(
                [cand_d, np.full((cq, grow - cand_d.shape[1]), np.inf,
                                 dtype=np.float32)], axis=1)
            cand_n = np.concatenate(
                [cand_n, np.zeros((cq, grow - cand_n.shape[1]),
                                  dtype=np.int64)], axis=1)
        cand_d[prow, slots] = pd_
        cand_n[prow, slots] = pn
        cand_len[pu] += pcnt


def _search_graph_batch(
    g: HnswGraph, qmat: np.ndarray, qids: np.ndarray, k: int, ef: int
) -> pd.DataFrame:
    """Batched graph search, lock-step across the query batch (round
    8; was a per-query Python loop — `_search_graph_batch_seq`). Upper
    layers run the per-query greedy descent (few hops on tiny
    layers); level 0 — the ef-bounded expansion that dominates — runs
    vectorized rounds over the whole batch (interleaved A/B at
    100k-clustered/10k queries: see BENCH_AB.json hnsw_batch_ab_r8).
    Per-query results are independent of batch composition (row-wise
    state and row-wise reductions only), so the distributed plan,
    the sharded tier and the local replica stay bit-identical — the
    `hnsw_local_topk` driver gate's contract. Queries are chunked so
    the visited state stays ≤ ~64 MB (bool rows up to
    `_BOOL_VISITED_MAX_N` nodes, bit-packed beyond — 8x wider chunks
    on big cells).

    Round 9: batches below `SEQ_DISPATCH_MAX` dispatch to the
    per-query sequential kernel (its own r8 A/B showed lock-step
    1.34x slower at batch=6). Both kernels score via the same einsum
    row reduction, so the dispatch is invisible to the cross-tier
    bit-equality gates (exact f32 score ties excepted — the boundary
    push rule differs on exact equality)."""
    nq = int(qmat.shape[0])
    kk = k if k > 0 else max(ef, k)
    if nq == 0 or g.n() == 0:
        return pd.DataFrame({
            "query_id": np.empty(0, dtype=np.int64),
            "id": np.empty(0, dtype=np.int64),
            "distance": np.empty(0, dtype=np.float64),
        })
    if nq < SEQ_DISPATCH_MAX:
        return _search_graph_batch_seq(g, qmat, qids, k, ef)
    ef_eff = max(ef, k)
    qn = (np.einsum("ij,ij->i", qmat, qmat)
          if g.metric == "l2" else None)
    if g.max_level > 0:
        eps = _batch_greedy_descend(g, qmat, qn)
    else:
        eps = np.full(nq, g.entry_point, dtype=np.int64)
    indptr, indices = _csr_level(g, 0)
    out_d = np.full((nq, ef_eff), np.inf, dtype=np.float32)
    out_n = np.full((nq, ef_eff), -1, dtype=np.int64)
    row_bytes = (g.n() if g.n() <= _BOOL_VISITED_MAX_N
                 else (g.n() + 7) >> 3)
    chunk = max(1, min(nq, (64 << 20) // max(1, row_bytes)))
    if chunk < SEQ_DISPATCH_MAX:
        # so-big-a-graph that the visited cap collapses chunk width
        # into the regime where lock-step loses — run sequential
        # (cannot happen under DEFAULT_MAX_VECTORS; defensive)
        return _search_graph_batch_seq(g, qmat, qids, k, ef)
    for cs in range(0, nq, chunk):
        ce = min(nq, cs + chunk)
        _batch_layer0_chunk(
            g, qmat[cs:ce], eps[cs:ce], ef_eff,
            None if qn is None else qn[cs:ce],
            indptr, indices, out_d[cs:ce], out_n[cs:ce],
        )
    # per-row (score, node) order then truncate to k — the batched
    # `sorted(...)[:k]` (ties break on the internal node index,
    # matching the sequential kernel)
    rowk = np.repeat(np.arange(nq), ef_eff)
    order = np.lexsort((out_n.ravel(), out_d.ravel(), rowk))
    d_sorted = out_d.ravel()[order].reshape(nq, ef_eff)[:, :kk]
    n_sorted = out_n.ravel()[order].reshape(nq, ef_eff)[:, :kk]
    valid = np.isfinite(d_sorted).ravel()
    nodes = n_sorted.ravel()[valid]
    # sequential parity: scores leave the heap as python floats, so
    # the l2 sqrt runs in f64 on the exact f32 score values
    dvals = _score_to_dist(
        g, d_sorted.ravel()[valid].astype(np.float64))
    return pd.DataFrame({
        "query_id": np.repeat(
            np.asarray(qids, dtype=np.int64), kk)[valid],
        "id": g.ids[nodes].astype(np.int64),
        "distance": np.asarray(dvals, dtype=np.float64),
    })


def search_hnsw(
    index: HnswIndex,
    queries: DataFrame,
    k: int = 10,
    ef_search: int | None = None,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Distributed batch search: broadcast the graph once, run greedy
    descent per query inside mapInPandas (hnsw.go:142-187 semantics,
    Spark-batched). Returns (query_id, id, distance, rank)."""
    ef = int(ef_search if ef_search is not None else index.ef_search)
    spark = index.spark or queries.sparkSession
    qdf = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(qvec_col).alias("qvec")
    )
    g = index.graph
    bc = spark.sparkContext.broadcast(g)
    metric = g.metric

    def part(batches):
        gg = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qmat = _prep(np.stack(pdf["qvec"].to_numpy()), metric)
            yield _search_graph_batch(
                gg, qmat, pdf["query_id"].to_numpy(dtype=np.int64), k, ef
            )

    res = qdf.mapInPandas(part, schema=RESULT_SCHEMA)
    return topk(res, k)


def remove_hnsw(index: HnswIndex, vector_id: int) -> None:
    """Remove parity (hnsw.go:203-242): delete the node, filter every
    edge list, re-pick the entry point from the remaining top level."""
    if not _graph_remove(index.graph, vector_id):
        raise KeyError(f"vector id {vector_id} not found")


def _graph_remove(g: HnswGraph, vector_id: int) -> bool:
    """Delete one node from a graph in place; False if absent. Shared
    by the driver-side remove and the per-shard executor remove."""
    pos = np.nonzero(g.ids == vector_id)[0]
    if pos.size == 0 or g.levels[int(pos[0])] < 0:
        return False
    node = int(pos[0])
    g.csr0 = None
    for lvl, layer in enumerate(g.edges):
        layer.pop(node, None)
        for src in list(layer):
            nbrs = layer[src]
            if (nbrs == node).any():
                layer[src] = nbrs[nbrs != node]
    g.levels[node] = -1
    if g.entry_point == node:
        g.entry_point, g.max_level = -1, -1
        for lvl in range(MAX_LEVEL_CAP, -1, -1):
            if g.edges[lvl]:
                g.entry_point = next(iter(g.edges[lvl]))
                g.max_level = lvl
                break
    return True


# ---------------------------------------------------------------------------
# Sharded HNSW — the distributed build/serve path
# ---------------------------------------------------------------------------
#
# The reference's HNSW (hnsw.go:291-341) is a single sequential graph;
# the driver-side `build_hnsw` above preserves those semantics but is
# bounded by `max_vectors` and builds serially. The sharded variant is
# the scale answer (the FAISS `IndexShards` pattern): hash-partition the
# corpus into S independent shards, build one small HNSW graph PER SHARD
# inside `applyInPandas` (S builds run in parallel on executors, the
# driver never sees a vector), and serve a query batch by searching
# every shard with the same ef-bounded descent and taking a global
# top-k window over the S×q×k candidate rows.
#
# Why this scales where the single graph cannot:
# - build is embarrassingly parallel: wall-clock ≈ serial_time / S, and
#   insert cost per shard is O((n/S) log(n/S)) — the total work DROPS.
# - each shard blob is bounded (`rows_per_shard` knob), so executor
#   memory is bounded regardless of corpus size.
# - search fan-out is S independent tasks over a broadcast query batch;
#   only S×q×k 24-byte rows enter the final shuffle.
# Recall is ≥ the single graph at equal ef: every shard's subgraph is
# searched, so a true neighbor can only be missed by its own shard's
# descent, never by inter-shard edges that were never built.

SHARD_BLOB_SCHEMA = "shard_id int, n_vectors long, dim int, blob binary"


@dataclass
class HnswShardedIndex:
    """S independent per-shard graphs held as a DataFrame of pickled
    blobs — (shard_id, n_vectors, dim, blob). Blobs live in executor
    memory / parquet; the driver only ever aggregates their sizes."""

    blobs: DataFrame
    metric: str
    m: int
    ef_construction: int
    num_shards: int
    ef_search: int = DEFAULT_EF_SEARCH
    spark: SparkSession | None = field(default=None, repr=False)

    def set_ef_search(self, ef: int) -> None:
        self.ef_search = int(ef)

    def stats(self) -> dict:
        row = self.blobs.agg(
            F.sum("n_vectors").alias("n"),
            F.max("dim").alias("dim"),
            F.sum(F.length("blob")).alias("bytes"),
            F.count("*").alias("shards"),
        ).collect()[0]
        return {
            "index_type": "hnsw_sharded",
            "total_vectors": int(row["n"] or 0),
            "dimension": int(row["dim"] or 0),
            "memory_mb": round((row["bytes"] or 0) / 1e6, 3),
            "extra": {
                "metric": self.metric,
                "m": self.m,
                "ef_construction": self.ef_construction,
                "ef_search": self.ef_search,
                "num_shards": int(row["shards"]),
            },
        }


def build_hnsw_sharded(
    vectors: DataFrame,
    num_shards: int | None = None,
    m: int = DEFAULT_M,
    ef_construction: int = DEFAULT_EF_CONSTRUCTION,
    metric: str = "l2",
    seed: int = 42,
    vec_col: str = "vec",
    id_col: str = "id",
) -> HnswShardedIndex:
    """Distributed build: one independent graph per hash shard, built
    in parallel inside ``applyInPandas``. ``num_shards`` defaults to
    the session's shuffle parallelism; size it so n/num_shards rows of
    float32[dim] fit one task's memory (the 100 TB knob)."""
    validate_metric(metric)
    spark = vectors.sparkSession
    if num_shards is None:
        num_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    s = int(num_shards)
    df = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)).cast("int").alias("shard_id"),
    )

    cfg = (m, ef_construction, metric, seed)

    def build_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        mm, efc, met, sd = cfg
        ids = pdf["id"].to_numpy(dtype=np.int64)
        vecs = _prep(np.stack(pdf["vec"].to_numpy()), met)
        g = _build_graph(ids, vecs, mm, efc, met, sd + shard)
        return pd.DataFrame(
            {
                "shard_id": [shard],
                "n_vectors": [len(ids)],
                "dim": [int(vecs.shape[1])],
                "blob": [pickle.dumps(g, protocol=5)],
            }
        )

    # range-partition ahead of the groupBy: hash partitioning maps the
    # s small shard keys into s buckets with birthday collisions (3
    # shards measured stacking on one task at s=32 — wall-clock 3× the
    # per-shard build), while rangepartitioning gives ~one key per
    # task and satisfies the groupBy's clustering (one Exchange total)
    blobs = (
        df.repartitionByRange(s, "shard_id")
        .groupBy("shard_id").applyInPandas(build_shard, SHARD_BLOB_SCHEMA).cache()
    )
    blobs.count()  # materialize the build
    return HnswShardedIndex(
        blobs=blobs,
        metric=metric,
        m=m,
        ef_construction=ef_construction,
        num_shards=s,
        spark=spark,
    )


def search_hnsw_sharded(
    index: HnswShardedIndex,
    queries: DataFrame,
    k: int = 10,
    ef_search: int | None = None,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Fan-out serve: broadcast the query batch (bounded by the batch
    contract, same as the IVF/PQ probe kernels), run the ef-bounded
    layer-0 descent of every shard's graph against all queries in one
    task per shard, then global top-k over S×q×k narrow rows."""
    ef = int(ef_search if ef_search is not None else index.ef_search)
    spark = index.spark or queries.sparkSession
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(qvec_col).alias("qvec")
    ).collect()
    if not qrows:
        return spark.createDataFrame([], RESULT_SCHEMA + ", rank int")
    qids = np.asarray([r["query_id"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["qvec"], dtype=np.float32) for r in qrows])
    bc = spark.sparkContext.broadcast((qids, qmat))
    metric = index.metric

    def part(batches):
        b_qids, b_qmat = bc.value
        pq = _prep(b_qmat, metric)
        for pdf in batches:
            for blob in pdf["blob"]:
                g: HnswGraph = pickle.loads(blob)
                yield _search_graph_batch(g, pq, b_qids, k, ef)

    res = index.blobs.mapInPandas(part, schema=RESULT_SCHEMA)
    return topk(res, k)


def remove_hnsw_sharded(
    index: HnswShardedIndex, ids: list[int]
) -> HnswShardedIndex:
    """Distributed remove: each shard deletes its own members of
    ``ids`` executor-side (same node-delete as hnsw.go:203-242, run
    inside mapInPandas) and re-pickles. Shards that contain none of
    the ids rewrite their blob unchanged — one narrow pass over S
    blobs, no driver materialization."""
    id_list = [int(i) for i in ids]

    def part(batches):
        for pdf in batches:
            out_rows = []
            for shard, blob in zip(pdf["shard_id"], pdf["blob"]):
                g: HnswGraph = pickle.loads(blob)
                for vid in id_list:
                    _graph_remove(g, vid)
                out_rows.append(
                    {
                        "shard_id": int(shard),
                        "n_vectors": int((g.levels >= 0).sum()),
                        "dim": int(g.dim),
                        "blob": pickle.dumps(g, protocol=5),
                    }
                )
            yield pd.DataFrame(out_rows)

    blobs = index.blobs.mapInPandas(part, schema=SHARD_BLOB_SCHEMA).cache()
    blobs.count()
    index.blobs.unpersist()
    index.blobs = blobs
    return index


@dataclass
class HnswRoutedIndex:
    """Cluster-routed sharded HNSW (IVF coarse quantizer over HNSW
    shards — the FAISS IVF+HNSW composition): shards are k-means
    cells, so a query probes only its ``nprobe`` nearest cells
    instead of every shard. Cuts serve work by ~nlist/nprobe vs the
    exhaustive hash-sharded fan-out while keeping the same per-shard
    graph algorithm; the routing table (centroids) is tiny and rides
    the driver/broadcast like IVF's."""

    blobs: DataFrame  # (shard_id, n_vectors, dim, blob)
    centroids: np.ndarray  # (nlist, dim) float64
    metric: str
    m: int
    ef_construction: int
    nlist: int
    ef_search: int = DEFAULT_EF_SEARCH
    default_nprobe: int = 10
    spark: SparkSession | None = field(default=None, repr=False)

    def set_ef_search(self, ef: int) -> None:
        self.ef_search = int(ef)

    def stats(self) -> dict:
        row = self.blobs.agg(
            F.sum("n_vectors").alias("n"),
            F.max("dim").alias("dim"),
            F.sum(F.length("blob")).alias("bytes"),
            F.count("*").alias("shards"),
        ).collect()[0]
        cent_mb = self.centroids.size * 8 / 1e6
        return {
            "index_type": "hnsw_routed",
            "total_vectors": int(row["n"] or 0),
            "dimension": int(row["dim"] or 0),
            "memory_mb": round((row["bytes"] or 0) / 1e6 + cent_mb, 3),
            "extra": {
                "metric": self.metric,
                "m": self.m,
                "ef_construction": self.ef_construction,
                "ef_search": self.ef_search,
                "nlist": self.nlist,
                "built_shards": int(row["shards"]),
            },
        }


def default_routed_nlist(n: int) -> int:
    """Cells of ~1.5k vectors: big enough that per-shard graphs beat
    brute force, small enough that nprobe pruning bites. Clamped like
    ivf.go:32-45."""
    return max(8, min(4096, int(round(n / 1500)) or 8))


def build_hnsw_routed(
    vectors: DataFrame,
    nlist: int | None = None,
    nprobe_default: int = 10,
    m: int = DEFAULT_M,
    ef_construction: int = DEFAULT_EF_CONSTRUCTION,
    metric: str = "l2",
    seed: int = 42,
    train_fraction: float | None = None,
    vec_col: str = "vec",
    id_col: str = "id",
    trainer: str = "mllib",
) -> HnswRoutedIndex:
    """Coarse k-means → assign (argmin Arrow kernel, no shuffle) →
    one independent HNSW graph per cell, built in parallel inside
    ``applyInPandas`` (one shuffle keyed on the cell id). Total
    insert work is O(Σ nᵢ log nᵢ) ≤ O(n log(n/nlist)) — strictly
    less than one global graph — and cells build concurrently.
    k-means skew shows up as uneven task sizes; AQE's skew handling
    and the nlist knob bound it (SCALE.md §5)."""
    from gofaiss_spark.operators.ivf import (
        assign_to_centroids,
        train_kmeans_centroids,
    )

    validate_metric(metric)
    spark = vectors.sparkSession
    n = vectors.count()
    if nlist is None:
        nlist = default_routed_nlist(n)
    nlist = int(min(nlist, max(1, n)))
    train_df = vectors
    if train_fraction is not None and train_fraction < 1.0:
        train_df = vectors.sample(fraction=train_fraction, seed=seed)
    cents = train_kmeans_centroids(
        train_df, nlist, seed=seed, vec_col=vec_col, trainer=trainer
    )
    assigned = assign_to_centroids(vectors, cents, metric, vec_col, id_col)
    df = assigned.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col("list_id").alias("shard_id"),
    )

    cfg = (m, ef_construction, metric, seed)

    def build_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        mm, efc, met, sd = cfg
        ids = pdf["id"].to_numpy(dtype=np.int64)
        vecs = _prep(np.stack(pdf["vec"].to_numpy()), met)
        g = _build_graph(ids, vecs, mm, efc, met, sd + shard)
        return pd.DataFrame(
            {
                "shard_id": [shard],
                "n_vectors": [len(ids)],
                "dim": [int(vecs.shape[1])],
                "blob": [pickle.dumps(g, protocol=5)],
            }
        )

    # same fix as build_hnsw_sharded: range-partition so each cell's
    # graph builds in its own task (hash bucketing stacks small key
    # sets onto shared tasks)
    blobs = (
        df.repartitionByRange(int(nlist), "shard_id")
        .groupBy("shard_id").applyInPandas(build_shard, SHARD_BLOB_SCHEMA).cache()
    )
    blobs.count()
    return HnswRoutedIndex(
        blobs=blobs,
        centroids=cents,
        metric=metric,
        m=m,
        ef_construction=ef_construction,
        nlist=nlist,
        default_nprobe=int(nprobe_default),
        spark=spark,
    )


def search_hnsw_routed(
    index: HnswRoutedIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    ef_search: int | None = None,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Routed serve: the driver ranks cells per query on the tiny
    centroid table (same stage as ivf.probe_lists), the broadcast
    carries (queries, per-shard probe lists), and each shard's task
    searches ONLY the queries routed to it. Result rows entering the
    global top-k: ≤ nprobe × q × k — nlist-independent."""
    from gofaiss_spark.operators.local_serve import _probe_cells

    ef = int(ef_search if ef_search is not None else index.ef_search)
    spark = index.spark or queries.sparkSession
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(qvec_col).alias("qvec")
    ).collect()
    if not qrows:
        return spark.createDataFrame([], RESULT_SCHEMA + ", rank int")
    qids = np.asarray([r["query_id"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["qvec"], dtype=np.float32) for r in qrows])
    nlist = index.centroids.shape[0]
    np_ = int(nprobe if nprobe is not None else index.default_nprobe)
    sel = _probe_cells(index.centroids, qmat, index.metric, np_).T  # (nprobe, q)
    probe_map: dict[int, np.ndarray] = {}
    qcols = np.broadcast_to(
        np.arange(qmat.shape[0])[None, :], sel.shape
    ).ravel()
    order = np.argsort(sel.ravel(), kind="stable")
    flat_shards = sel.ravel()[order]
    flat_qidx = qcols[order]
    bounds = np.searchsorted(
        flat_shards, np.arange(nlist + 1), side="left"
    )
    for s in np.unique(flat_shards):
        probe_map[int(s)] = flat_qidx[bounds[s] : bounds[s + 1]]
    bc = spark.sparkContext.broadcast((qids, qmat, probe_map))
    metric = index.metric

    def part(batches):
        b_qids, b_qmat, b_probe = bc.value
        pq = _prep(b_qmat, metric)
        for pdf in batches:
            for shard, blob in zip(pdf["shard_id"], pdf["blob"]):
                idx = b_probe.get(int(shard))
                if idx is None or len(idx) == 0:
                    continue
                g: HnswGraph = pickle.loads(blob)
                yield _search_graph_batch(g, pq[idx], b_qids[idx], k, ef)

    res = index.blobs.mapInPandas(part, schema=RESULT_SCHEMA)
    return topk(res, k)
