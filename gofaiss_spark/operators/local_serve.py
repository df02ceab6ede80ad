"""Driver-colocated serving: the single-node in-memory operating
point.

The reference is a single-process in-memory server — its published
QPS (BASELINE.md: HNSW 24,086, flat 35.85 @100k) is measured with
the index resident in RAM and zero scheduling overhead. Our
distributed plans pay a per-job floor that dominates at small corpus
sizes; when an index FITS one node (the only regime the reference
supports at all), the honest comparison is to serve it the same way:
collect once, answer query batches with blocked BLAS GEMMs
in-process.

``to_local(flat_index)`` materializes a ``LocalFlatIndex``;
``search(qmat, k)`` answers a query matrix with exact top-k. This is
the serving-tier pattern for production ANN too: the 100 TB corpus
lives in partitioned Parquet (the distributed paths build and refresh
it), while hot serving replicas hold a shard in memory.

Every local kernel has the reference's search shape — score the
candidates, sort them, take k (flat.go:106-113, ivf.go:153-160) — on
one of two shared skeletons:

- the scan family (``LocalFlatIndex``, ``LocalPqIndex``,
  ``LocalSqIndex``) runs ``_scan_topk``: base tiles of 8,192 rows ×
  query blocks of 128, each query keeping a pool of its best
  candidates;
- the cell family (``LocalIvfIndex``, ``LocalIvfPqIndex``,
  ``LocalIvfSqIndex``) runs ``_probe_cells``, the f64 probe head
  every tier shares, then ``_rank_by_cell``: one score call per
  probed cell over the queries that probe it.

Both end in ``_pool_topk``: an exact f64 distance per surviving pair
and one (distance, id) sort. The kernels start no threads;
parallelism comes from client threads, ``LocalServerPool`` processes
and shard tasks.

Every tier builds these indexes with one builder (``local_arrays`` +
``local_index``): ``to_local*`` over a collected index, the sharded
tier over a shard, and the distributed searches over each Arrow batch
of candidate rows, whose per-batch top-k the ``topk`` Window merges.
So every tier reports the same distances by construction.

Scale posture: bounded by driver/replica RAM by construction (the
same bound the reference lives under — 16 GB in its published runs);
everything larger goes through the distributed search paths.
"""

from __future__ import annotations

import os as _os
import threading as _threading
from dataclasses import dataclass, fields
from multiprocessing.connection import wait as _mp_wait

import numpy as np

from gofaiss_spark.functions.distance import (
    f32_select_margin,
    np_distance_matrix,
    validate_metric,
)

__all__ = [
    "LocalFlatIndex",
    "LocalHnswRoutedIndex",
    "LocalIvfIndex",
    "LocalIvfPqIndex",
    "LocalPqIndex",
    "LocalServerPool",
    "LocalSqIndex",
    "hnsw_routed_to_local",
    "hnsw_to_local",
    "to_local",
    "to_local_ivf",
    "to_local_ivfpq",
    "to_local_pq",
    "to_local_sq",
]

# observability: queries that took the exact-f64 fallback because the
# f32 selection margin could not prove the cut exact — read by tests
# to assert the guard actually fires on adversarial data.
GUARD_FALLBACKS = 0
# batches api served in process because their LocalServerPool failed
POOL_FALLBACKS = 0
# Counters are incremented under a lock: searches run from several
# client threads at once, and += on a module global is a
# read-modify-write that would otherwise drop counts.
_COUNTER_LOCK = _threading.Lock()

# The fewest queries a LocalServerPool task carries: a request is
# split into nq // POOL_TASK_QUERIES tasks, at least one and at most
# workers × 2, so a request below 2 × POOL_TASK_QUERIES runs as ONE
# task, sent whole to one worker and returned as that worker's
# answer. Measured on a 50k × 128 IVF replica (nlist 128, nprobe 4,
# 4 CPUs, 4 workers, closed-loop clients, stdlib-executor transport):
# split at 16 queries a task, one client's 32- to 511-query requests
# reached 1.5-3× the qps they reach as one task (a lone task leaves
# three workers idle). With 4 clients a split gained nothing at
# 16-128 queries and cost 30-55% at 256-511 (every worker is already
# busy; each extra task adds a round trip), still 1.2-1.6× the
# in-process replica. A split request takes only the workers idle
# when it starts.
POOL_TASK_QUERIES = 16

# result padding: a query with fewer than k candidates gets id
# int64.max and distance inf (candidate pools pad with row −1)
_PAD_ID = np.iinfo(np.int64).max
# scan-family blocking: one 128 × 8,192 score block is 4 MB in f32
_QBLOCK, _TILE = 128, 8192


def _count_fallback(counter: str = "GUARD_FALLBACKS") -> None:
    with _COUNTER_LOCK:
        globals()[counter] += 1


def _cosine_from_ip(ip: np.ndarray, bnorm: np.ndarray,
                    qnorm) -> np.ndarray:
    """1 − clip(ip / (bnorm·qnorm)) with the zero-vector→1.0 semantics
    of np_distance_matrix (distance.go:55-71) — the single cosine
    formula every exact-f64 path in this module uses, so the re-score,
    the guard fallback, and a true f64 scan of the stored rows agree
    bit-for-bit."""
    denom = bnorm * qnorm
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = ip / denom
    d = 1.0 - np.clip(sim, -1.0, 1.0)
    d[np.broadcast_to(denom == 0.0, d.shape)] = 1.0
    return d


def _inv_norms_f32(norms_sq: np.ndarray) -> np.ndarray:
    """f32 reciprocal norms from squared norms, zero rows → 0 (their
    cosine ranking score becomes exactly 0 ⇒ distance 1.0, matching
    np_distance_matrix's zero-vector semantics)."""
    with np.errstate(divide="ignore"):
        inv = 1.0 / np.sqrt(norms_sq.astype(np.float32))
    inv[~np.isfinite(inv)] = 0.0
    return np.ascontiguousarray(inv)


def _l2(x: np.ndarray, q64: np.ndarray) -> np.ndarray:
    """Exact f64 L2 between each row of ``x`` and the matching row of
    ``q64``. One value per pair, so it never depends on how the pairs
    were batched or sharded."""
    diff = x.astype(np.float64, copy=False) - q64
    return np.sqrt(np.einsum("kd,kd->k", diff, diff))


def _widths(k: int, n: int, refine: int | None = None) -> tuple[int, int]:
    """(k, kc) for an index of n rows: k ≤ 0 or k > n means all n
    rows, and kc is the candidate pool width — k (k·refine for a
    refined search) plus 16 to absorb the f32 / ADC ranking error."""
    k = min(k, n) if k > 0 else n
    return k, (k * refine if refine else k) + 16


def _pool_topk(ids: np.ndarray, rows: np.ndarray, k: int, dist
               ) -> tuple[np.ndarray, np.ndarray]:
    """Shared tail of every kernel: the (ids (nq, k), dists (nq, k))
    top-k of each query's candidate pool, ascending (distance, id).

    ``rows`` (nq, w) holds row positions, −1 for padding;
    ``dist(qi, si, r)`` returns the reported f64 distance of each real
    pair (query qi, pool column si, row r). Pairs are scored about 16k
    at a time, which bounds the gathered f64 rows. A query with fewer
    than k candidates is padded with (int64.max, inf)."""
    nq, w = rows.shape
    out_ids = np.full((nq, k), _PAD_ID, dtype=np.int64)
    out_d = np.full((nq, k), np.inf, dtype=np.float64)
    kout = min(k, w)
    blk = max(1, 16384 // max(1, w))
    for s in range(0, nq, blk):
        rb = rows[s:s + blk]
        d = np.full(rb.shape, np.inf)
        pid = np.full(rb.shape, _PAD_ID)
        bi, si = np.nonzero(rb >= 0)
        r = rb[bi, si]
        d[bi, si] = dist(s + bi, si, r)
        pid[bi, si] = ids[r]
        o = np.lexsort((pid, d), axis=1)[:, :kout]
        out_ids[s:s + blk, :kout] = np.take_along_axis(pid, o, axis=1)
        out_d[s:s + blk, :kout] = np.take_along_axis(d, o, axis=1)
    return out_ids, out_d


def _scan_topk(n: int, nq: int, kc: int, tile, dtype
               ) -> tuple[np.ndarray, np.ndarray]:
    """The scan family's candidate pools: each query's kc (kc ≤ n)
    best rows of all n by a ranking score, lower is better. Returns
    rows (nq, kc) and their scores in ``dtype``.

    ``tile(t0, t1)`` sets up base rows t0:t1 and returns a function
    mapping a query slice to its (queries, t1 − t0) score block.
    Tiles of 8,192 rows meet query blocks of 128, so a score block
    stays cache-sized. A column enters a block's merge only if it
    scores at most some query's pool maximum, which is inf until the
    pool is full; a rejected column scores above every pool maximum,
    so the pools hold the exact top-kc by score."""
    pool_s = np.full((nq, kc), np.inf, dtype=dtype)
    pool_i = np.full((nq, kc), -1, dtype=np.int64)
    for t0 in range(0, n, _TILE):
        t1 = min(t0 + _TILE, n)
        score = tile(t0, t1)
        cols = np.arange(t0, t1)
        for q0 in range(0, nq, _QBLOCK):
            qs = slice(q0, q0 + _QBLOCK)
            sc = score(qs)
            keep = (sc <= pool_s[qs].max(axis=1)[:, None]).any(axis=0)
            if not keep.any():
                continue
            sc, c = sc[:, keep], cols[keep]
            cs = np.concatenate([pool_s[qs], sc], axis=1)
            ci = np.concatenate([pool_i[qs], np.broadcast_to(c, sc.shape)],
                                axis=1)
            p = np.argpartition(cs, kc - 1, axis=1)[:, :kc]
            pool_s[qs] = np.take_along_axis(cs, p, axis=1)
            pool_i[qs] = np.take_along_axis(ci, p, axis=1)
    return pool_i, pool_s


def _probe_cells(centroids: np.ndarray, q64: np.ndarray, metric: str,
                 nprobe: int) -> np.ndarray:
    """The cell family's probe head (ivf.go:131-141): each query's
    probed cells (nq, nprobe), its nprobe nearest centroids in f64.
    Every tier probes with this one function (the distributed search
    once per request, on the driver), and so does the routed-HNSW
    kind on every tier, with its raw f32 queries. nprobe ≤ 0 or
    > nlist probes every cell (ivf.go:122-129)."""
    nlist = centroids.shape[0]
    if 0 < nprobe < nlist:
        dm = np_distance_matrix(centroids, q64, metric)
        return np.argpartition(dm, nprobe - 1, axis=0)[:nprobe].T
    return np.broadcast_to(np.arange(nlist), (len(q64), nlist))


def _rank_by_cell(offsets: np.ndarray, cells: np.ndarray, w: int,
                  score, dtype) -> tuple[np.ndarray, np.ndarray]:
    """The cell family's batch kernel: each query's top ``w`` rows of
    its probed cells by a ranking score, lower is better. Returns rows
    (nq, w), −1 for padding, and their scores in ``dtype``, inf for
    padding.

    ``score(c, qi, s0, s1)`` returns the (len(qi), s1 − s0) scores of
    cell c's rows s0:s1 for the queries qi that probe it. Each cell's
    top min(w, largest cell) go into a per-query pool of (present
    cell, slot) blocks, so a list-sharded replica holding nlist/W cells
    keeps a narrow pool; one argpartition per query then cuts it to
    w."""
    sizes = np.diff(offsets)
    pc = sizes[cells] > 0
    slot = np.cumsum(pc, axis=1) - 1  # rank among present cells
    ks = int(min(w, sizes.max(initial=0)))
    pw = int(pc.sum(axis=1).max(initial=0)) * ks
    pool_s = np.full((len(cells), pw), np.inf, dtype=dtype)
    pool_i = np.full((len(cells), pw), -1, dtype=np.int64)
    qq, jj = np.nonzero(pc)
    cc = cells[qq, jj]
    order = np.argsort(cc, kind="stable")
    qq, cc, base = qq[order], cc[order], slot[qq, jj][order] * ks
    bnds = np.searchsorted(cc, np.arange(len(offsets)))
    for c in np.flatnonzero(bnds[1:] > bnds[:-1]):
        s0, s1 = offsets[c], offsets[c + 1]
        g = slice(bnds[c], bnds[c + 1])
        sc = score(c, qq[g], s0, s1)
        kk = min(ks, s1 - s0)
        if kk < s1 - s0:
            p = np.argpartition(sc, kk - 1, axis=1)[:, :kk]
            sc = np.take_along_axis(sc, p, axis=1)
        else:
            p = np.arange(kk)[None, :]
        cols = base[g, None] + np.arange(kk)
        pool_s[qq[g, None], cols] = sc
        pool_i[qq[g, None], cols] = p + s0
    if pw > w:
        p = np.argpartition(pool_s, w - 1, axis=1)[:, :w]
        pool_s = np.take_along_axis(pool_s, p, axis=1)
        pool_i = np.take_along_axis(pool_i, p, axis=1)
    return pool_i, pool_s


class _RawRows:
    """What LocalFlatIndex and LocalIvfIndex share: both keep RAW f32
    rows ``vecs`` with their squared norms ``norms_sq`` (required for
    every metric: the l2 surrogate score reads them, cosine derives
    its ranking inv-norms from them and dot's margin guard its max
    norm). They rank candidates by an f32 score, guard the f32 cut
    with f32_select_margin and report exact f64 distances on the raw
    rows, one value per (query, row) pair on every tier (the
    distributed search runs these indexes over its Arrow batches). A
    pre-normalized cosine copy would be perturbed ~1e-7 by the f32
    division, which flips 6dp-rounded values (round-7 cosine driver
    rows)."""

    def _queries(self, qmat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(raw f64 queries for every exact path, f32 ranking copy).
        Cosine normalizes only the ranking copy, and in f64: an
        f32-normalized query leaking into the exact re-score perturbs
        it by ~1e-7, which flips near-tie rankings (the r5 verdict's
        exactness bug)."""
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        if self.metric != "cosine":
            return q64, q64.astype(np.float32)
        qn = np.linalg.norm(q64, axis=1, keepdims=True)
        qn[qn == 0] = 1.0
        return q64, (q64 / qn).astype(np.float32)

    def _bmax(self) -> float:
        """Max base-row norm (margin-guard input). The cosine margin
        is norm-independent (ranking scores are normalized)."""
        if getattr(self, "_bmax_cache", None) is None:
            if self.metric == "cosine" or len(self.ids) == 0:
                self._bmax_cache = 1.0
            else:
                self._bmax_cache = float(np.sqrt(self.norms_sq.max()))
        return self._bmax_cache

    def _inv_n(self) -> np.ndarray:
        """f32 reciprocal row norms for the cosine ranking score."""
        if getattr(self, "_inv_n_cache", None) is None:
            self._inv_n_cache = _inv_norms_f32(self.norms_sq)
        return self._inv_n_cache

    def _f32_scores(self, sc: np.ndarray, sel) -> np.ndarray:
        """Turn the f32 inner products ``sc`` of queries with the
        stored rows ``sel`` (a slice or a position array) into ranking
        scores in place, lower is better."""
        if self.metric == "l2":
            sc *= -2.0
            sc += self.norms_sq[sel]
        elif self.metric == "cosine":
            # raw rows: divide by row norms here (zero rows → 0 →
            # distance exactly 1.0, the zero-vector contract)
            sc *= self._inv_n()[sel]
            np.subtract(1.0, sc, out=sc)
        else:
            np.negative(sc, out=sc)
        return sc

    def _exact(self, q64: np.ndarray, r: np.ndarray) -> np.ndarray:
        """Exact f64 distance of each stored row ``r`` to the matching
        raw query row of ``q64`` — np_distance_matrix's formulas on
        the raw rows, with f64 row norms for cosine."""
        cand = self.vecs[r].astype(np.float64)
        if self.metric == "l2":
            return _l2(cand, q64)
        ip = np.einsum("kd,kd->k", cand, q64)
        if self.metric == "cosine":
            return _cosine_from_ip(
                ip, np.sqrt(np.einsum("kd,kd->k", cand, cand)),
                np.linalg.norm(q64, axis=1))
        return -ip

    def _guard(self, rows: np.ndarray, rs: np.ndarray, full: np.ndarray,
               k: int, q64: np.ndarray, row_sel) -> None:
        """The margin guard, which makes the f32 cut exact. Each
        query in ``full`` had more candidates than its pool holds, so
        every rejected row scores at least the pool's maximum P. If P
        minus the k-th best exceeds 2× the f32 error bound, no rejected
        row can enter the exact top-k; otherwise the query's pool is
        replaced by an exact f64 ranking of ``row_sel(i)`` (None:
        every row) and counted in GUARD_FALLBACKS."""
        if not full.size:
            return
        sf = rs[full].astype(np.float64)
        pmax = sf.max(axis=1)
        tk = np.partition(sf, k - 1, axis=1)[:, k - 1]
        err = f32_select_margin(self.metric, q64.shape[1], self._bmax(),
                                np.linalg.norm(q64[full], axis=1))
        for i in full[pmax - tk <= 2.0 * err]:
            rows[i] = self._exact_topk(q64[i], rows.shape[1], row_sel(i))

    def _exact_topk(self, q: np.ndarray, kk: int, row_sel) -> np.ndarray:
        """The guard's fallback: the top-``kk`` row positions of
        ``row_sel`` (None: every row) for the raw f64 query ``q``,
        ranked by the exact ``_exact`` distance and ascending
        (distance, id). Rows are scored 65,536 at a time, which bounds
        the f64 copy."""
        _count_fallback()
        sel = np.arange(len(self.ids)) if row_sel is None else row_sel
        best_d = np.empty(0)
        best = np.empty(0, dtype=np.int64)
        for t0 in range(0, len(sel), 65536):
            pos = sel[t0:t0 + 65536]
            d = self._exact(np.broadcast_to(q, (len(pos), len(q))), pos)
            d, pos = np.concatenate([best_d, d]), np.concatenate([best, pos])
            o = np.lexsort((self.ids[pos], d))[:kk]
            best_d, best = d[o], pos[o]
        return best


@dataclass
class LocalFlatIndex(_RawRows):
    ids: np.ndarray        # (n,) int64
    vecs: np.ndarray       # (n, dim) f32, RAW for every metric
    metric: str
    norms_sq: np.ndarray   # (n,) f32

    def search(self, qmat: np.ndarray, k: int = 10
               ) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k for a query matrix: (ids (q, k), dists (q, k)),
        ascending by (distance, id) — identical ordering contract to
        search_flat. k ≤ 0 or k > n returns every row.

        The FAISS knn blocked brute-force on the scan skeleton
        (``_scan_topk``): an f32 GEMM per (base tile, query block)
        picks each query's top-(k+16), the margin guard proves that
        cut exact (or re-ranks the query in f64) and an exact f64
        re-score per pair reports the same distances for any split of
        the rows: the distributed search_flat runs this kernel over
        each Arrow batch and merges by (distance, id). The kernel
        starts no threads."""
        q64, q = self._queries(qmat)
        n = len(self.ids)
        k, kc = _widths(k, n)
        kc = min(kc, n)
        vt = self._vt()
        rows, rs = _scan_topk(
            n, len(q), kc,
            lambda t0, t1: lambda qs: self._f32_scores(q[qs] @ vt[:, t0:t1],
                                                       slice(t0, t1)),
            np.float32)
        if n > kc:
            self._guard(rows, rs, np.arange(len(q)), k, q64, lambda i: None)
        return _pool_topk(self.ids, rows, k,
                          lambda qi, si, r: self._exact(q64[qi], r))

    def _vt(self) -> np.ndarray:
        """(dim, n) copy of vecs: a small query block multiplies a
        tile of it ~2× faster than the row-major rows' transpose."""
        if getattr(self, "_vt_cache", None) is None:
            self._vt_cache = np.ascontiguousarray(self.vecs.T)
        return self._vt_cache


def to_local(index_or_vectors, vec_col: str = "vec",
             id_col: str = "id", metric: str | None = None) -> LocalFlatIndex:
    """Collect a FlatIndex (or a (id, vec) DataFrame) into a
    driver-resident server. One Arrow collect; bounded by driver RAM
    by contract."""
    from pyspark.sql import functions as F

    from gofaiss_spark.operators.flat import FlatIndex

    if isinstance(index_or_vectors, FlatIndex):
        metric = metric or index_or_vectors.metric
        df = index_or_vectors.vectors
    else:
        metric = metric or "l2"
        df = index_or_vectors
    validate_metric(metric)
    return _to_local(FlatIndex(metric, 0, df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))))


@dataclass
class LocalIvfIndex(_RawRows):
    """Driver-colocated IVF serving (the in-process analogue of
    search_ivf, pkg/index/ivf/ivf.go:115-161 semantics).

    CSR cell layout: rows sorted by (list_id, id) so every inverted
    list is one contiguous slice. ``search`` is the shared probe head
    ``_probe_cells`` plus ``search_cells``; the distributed
    ``search_ivf`` probes once on the driver and runs ``search_cells``
    over each Arrow batch of the probed rows, so both tiers scan the
    same cells with the same kernel. Candidates are ranked by an f32
    score and the top-(k+16) of each query are re-scored exactly in
    f64, one value per (query, row) pair whatever the batch.

    Two ranking kernels share that head and tail; ``search`` picks one
    per call from the shape of its input:

    - per-query, when ``nq·nprobe`` is at most the number of cells
      present in this index, i.e. when queries rarely share a cell:
      each query scores every probed cell with one f32 GEMV over the
      cell's contiguous row slice (no gather) and keeps an
      argpartition of k+16. On a 50k×128 replica at nprobe 4 an
      8-query call took ~1.9 ms this way against ~2.6 ms with a
      gather of the probed rows (4-CPU box, one BLAS thread).
    - cell-grouped, for batches: the shared ``_rank_by_cell`` pool
      with one f32 GEMM per probed cell over the queries that probe
      it.

    The tail is the f32_select_margin guard (a query whose f32 cut
    cannot be proven exact is re-ranked in f64 over its probed cells
    and counted in GUARD_FALLBACKS), the exact f64 re-score and the
    ascending (distance, id) sort. The kernel starts no threads.

    Scale posture: a serving REPLICA for an index that fits one node;
    the 100 TB corpus stays in partitionBy("list_id") Parquet and is
    served by the distributed search_ivf. nprobe/nlist is the same
    work-pruning knob in both tiers.
    """

    ids: np.ndarray        # (n,) int64, cell-major
    vecs: np.ndarray       # (n, dim) f32, cell-major, RAW for every metric
    metric: str
    centroids: np.ndarray  # (nlist, dim) f64, as trained (not re-normalized)
    offsets: np.ndarray    # (nlist + 1,) int64 CSR cell boundaries
    norms_sq: np.ndarray   # (n,) f32

    @property
    def nlist(self) -> int:
        return self.centroids.shape[0]

    def search(self, qmat: np.ndarray, k: int = 10,
               nprobe: int = 10) -> tuple[np.ndarray, np.ndarray]:
        """nprobe-pruned top-k for a query matrix → (ids (q, k),
        dists (q, k)), ascending (distance, id). A query whose probed
        cells hold fewer than k rows is padded with id int64.max and
        distance inf. k ≤ 0 or k > n returns every candidate in the
        probed cells (width n). nprobe ≥ nlist ⇒ exact flat search
        (every cell scanned), the correctness-gate property shared
        with search_ivf."""
        return self.search_cells(qmat, _probe_cells(
            self.centroids, qmat, self.metric, nprobe), k)

    def search_cells(self, qmat: np.ndarray, cells: np.ndarray,
                     k: int = 10) -> tuple[np.ndarray, np.ndarray]:
        """``search`` after the probe: the top-k of each query's
        ``cells`` (nq, nprobe) row."""
        q64, q = self._queries(qmat)
        sizes, present, _ = self._cells()
        ncand = sizes[cells].sum(axis=1)
        k, kc = _widths(k, len(self.ids))
        w = int(min(kc, ncand.max(initial=0)))
        if cells.size <= present:
            rows, rs = self._rank_per_query(q, cells, w)
        else:
            rows, rs = _rank_by_cell(
                self.offsets, cells, w,
                lambda c, qi, s0, s1: self._f32_scores(
                    q[qi] @ self.vecs[s0:s1].T, slice(s0, s1)),
                np.float32)
        self._guard(rows, rs, np.flatnonzero(ncand > kc), k, q64,
                    lambda i: np.concatenate([
                        np.arange(self.offsets[c], self.offsets[c + 1])
                        for c in cells[i]]))
        return _pool_topk(self.ids, rows, k,
                          lambda qi, si, r: self._exact(q64[qi], r))

    def _cells(self) -> tuple[np.ndarray, int, list]:
        """(rows per cell, number of non-empty cells, the CSR offsets
        as Python ints), computed once per index."""
        if getattr(self, "_cells_cache", None) is None:
            sizes = np.diff(self.offsets)
            self._cells_cache = (sizes, int(np.count_nonzero(sizes)),
                                 self.offsets.tolist())
        return self._cells_cache

    def _rank_per_query(self, q, cells, w: int):
        """Small requests: per query, one f32 GEMV over each probed
        cell's contiguous row slice (no gather of the rows) and an
        argpartition of ``w`` over the query's candidates."""
        rows = np.full((len(q), w), -1, dtype=np.int64)
        rs = np.full((len(q), w), np.inf, dtype=np.float32)
        off = self._cells()[2]
        for i, probed in enumerate(cells.tolist()):
            spans = [(off[c], off[c + 1]) for c in probed
                     if off[c + 1] > off[c]]
            if not spans:
                continue
            sc = np.concatenate([
                self._f32_scores(self.vecs[s0:s1] @ q[i], slice(s0, s1))
                for s0, s1 in spans])
            r = np.concatenate([np.arange(s0, s1) for s0, s1 in spans])
            if len(r) > w:
                p = np.argpartition(sc, w - 1)[:w]
                r, sc = r[p], sc[p]
            rows[i, :len(r)] = r
            rs[i, :len(r)] = sc
        return rows, rs


def to_local_ivf(ivf_index) -> LocalIvfIndex:
    """Collect an IvfIndex's assignments into a driver-resident cell-
    major server. One Arrow collect, bounded by replica RAM by
    contract (same bound the reference's in-process server has). Raw
    rows and as-trained centroids for every metric, as on every
    tier."""
    validate_metric(ivf_index.metric)
    return _to_local(ivf_index)


# ---------------------------------------------------------------------
# Quantized serving kernels — the in-memory operating point for the
# compressed index families (PQ/IVFPQ/SQ/IVFSQ), mirroring the reference's
# biggest-index regime (ivfpq.go:57-76) the way LocalFlatIndex mirrors
# flat.go. Contract: a reported distance is one f64 value per (query,
# row) pair (the ADC table sum and sqrt, or the decoded row's exact
# L2), so the sharded tier and the distributed searches, which run
# these kernels over their shards and Arrow batches, merge to the
# local answer exactly. ``refine`` re-ranks the top-(k·refine) against
# the index's own stored rows in exact f64 L2 (requires vecs; the
# FAISS RefineFlat pattern), so quantization costs recall only, never
# distance accuracy.
# ---------------------------------------------------------------------


def _refiner(index, q64: np.ndarray, refine: int | None):
    """The quantized kinds' ``refine`` check. Returns None without
    refine, else the ``_pool_topk`` distance that re-scores a pair in
    exact f64 L2 against the stored row."""
    if refine is None:
        return None
    if index.vecs is None:
        raise ValueError("refine requires stored vectors "
                         "(save/serve with vectors=)")
    if index.metric != "l2":
        raise ValueError(
            "refine re-ranks in exact L2; build the index with "
            f"metric='l2' (got {index.metric!r})")
    return lambda qi, si, r: _l2(index.vecs[r], q64[qi])


@dataclass
class LocalPqIndex:
    """In-memory ADC serving for a PQ index (pq.go:127-179 semantics;
    distance = sqrt(Σ subspace table entries)), on the scan
    skeleton."""

    ids: np.ndarray        # (n,) int64
    codes: np.ndarray      # (n, M) uint16
    codebooks: np.ndarray  # (M, ksub, dsub) f64
    vecs: np.ndarray | None = None      # (n, dim) f32 — refine only
    metric: str = "l2"

    def search(self, qmat: np.ndarray, k: int = 10,
               refine: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        from gofaiss_spark.operators.pq import adc_accumulate, adc_tables

        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        refined = _refiner(self, q64, refine)
        n = len(self.ids)
        k, kc = _widths(k, n, refine)
        tables = adc_tables(self.codebooks, q64)  # (q, M, ksub)
        rows, d2 = _scan_topk(
            n, len(q64), min(kc, n),
            lambda t0, t1: lambda qs: adc_accumulate(tables[qs],
                                                     self.codes[t0:t1]),
            np.float64)
        return _pool_topk(self.ids, rows, k, refined or (
            lambda qi, si, r: np.sqrt(d2[qi, si])))


@dataclass
class LocalIvfPqIndex:
    """In-memory nprobe-pruned residual-ADC serving (ivfpq.go:222-284
    semantics; fixes the reference façade bug the distributed
    search_ivfpq fixes — tables are per-(query, list) residuals). Each
    probed cell builds its residual tables once for the queries that
    probe it, on the shared ``_rank_by_cell`` pool."""

    ids: np.ndarray        # (n,) int64, cell-major
    codes: np.ndarray      # (n, M) uint16, cell-major
    codebooks: np.ndarray  # (M, ksub, dsub) f64 — residual-trained
    centroids: np.ndarray  # (nlist, dim) f64
    offsets: np.ndarray    # (nlist + 1,) int64 CSR
    vecs: np.ndarray | None = None      # (n, dim) f32 — refine only
    metric: str = "l2"

    @property
    def nlist(self) -> int:
        return self.centroids.shape[0]

    def search(self, qmat: np.ndarray, k: int = 10, nprobe: int = 10,
               refine: int | None = None
               ) -> tuple[np.ndarray, np.ndarray]:
        return self.search_cells(qmat, _probe_cells(
            self.centroids, qmat, self.metric, nprobe), k, refine)

    def search_cells(self, qmat: np.ndarray, cells: np.ndarray,
                     k: int = 10, refine: int | None = None
                     ) -> tuple[np.ndarray, np.ndarray]:
        """``search`` after the probe (see LocalIvfIndex)."""
        from gofaiss_spark.operators.pq import adc_accumulate, adc_tables

        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        refined = _refiner(self, q64, refine)
        ncand = np.diff(self.offsets)[cells].sum(axis=1)
        k, kc = _widths(k, len(self.ids), refine)

        def score(c, qi, s0, s1):
            tabs = adc_tables(self.codebooks, q64[qi] - self.centroids[c])
            return adc_accumulate(tabs, self.codes[s0:s1])

        rows, d2 = _rank_by_cell(self.offsets, cells,
                                 int(min(kc, ncand.max(initial=0))),
                                 score, np.float64)
        return _pool_topk(self.ids, rows, k, refined or (
            lambda qi, si, r: np.sqrt(d2[qi, si])))


@dataclass
class LocalSqIndex:
    """In-memory scalar-quantizer serving: decode (vmin + code·step);
    an f64 norms-identity GEMM selects each query's candidates and
    the reported distance is the exact f64 L2 to the decoded point,
    re-scored per pair."""

    ids: np.ndarray    # (n,) int64
    codes: np.ndarray  # (n, dim) uint8
    vmin: np.ndarray   # (dim,) f64
    step: np.ndarray   # (dim,) f64
    vecs: np.ndarray | None = None  # (n, dim) f32 — refine only
    metric: str = "l2"

    def search(self, qmat: np.ndarray, k: int = 10,
               refine: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        refined = _refiner(self, q64, refine)
        n = len(self.ids)
        k, kc = _widths(k, n, refine)
        qsq = np.einsum("ij,ij->i", q64, q64)

        def tile(t0, t1):
            x = self.vmin + self.codes[t0:t1].astype(np.float64) * self.step
            xsq = np.einsum("ij,ij->i", x, x)

            def score(qs):
                d2 = xsq[None, :] + qsq[qs, None] - 2.0 * (q64[qs] @ x.T)
                return np.maximum(d2, 0.0, out=d2)
            return score

        rows, _ = _scan_topk(n, len(q64), min(kc, n), tile, np.float64)
        # the GEMM above only SELECTS: its accumulation order depends
        # on the block shape (±1e-13), so reported distances come from
        # a per-pair re-score that is identical across any sharding of
        # the same rows
        return _pool_topk(self.ids, rows, k, refined or (
            lambda qi, si, r: _l2(
                self.vmin + self.codes[r].astype(np.float64) * self.step,
                q64[qi])))


@dataclass
class LocalIvfSqIndex:
    """In-memory nprobe-pruned scalar-quantized serving (IVFSQ:
    residual SQ8 under an IVF coarse quantizer; the distributed
    search_ivfsq runs it over each Arrow batch).

    Why this kind exists next to LocalIvfPqIndex: the per-row scan
    cost of SQ decode is a dense f32 GEMM (BLAS) instead of PQ's
    table GATHER — measured ~4-6× more rows/s at 10M scale — while
    still compressing 4× (dim bytes vs dim·4). It is the mid-Pareto
    quantized serving arm: near-exact in-cell ordering (8 bits per
    DIMENSION vs PQ's 8 bits per 8-dim subspace) at GEMM speed.

    Distance contract: the f32 residual decode-GEMM of each probed
    cell is only the SELECTOR; the kc survivors are re-scored per pair
    in exact f64 over the decoded residuals, so reported distances are
    identical across any sharding of the same rows — the LocalSqIndex
    / LocalFlatIndex re-score contract."""

    ids: np.ndarray        # (n,) int64, cell-major
    codes: np.ndarray      # (n, dim) uint8, cell-major
    vmin: np.ndarray       # (dim,) f64 — residual-space
    step: np.ndarray       # (dim,) f64 — residual-space
    centroids: np.ndarray  # (nlist, dim) f64
    offsets: np.ndarray    # (nlist + 1,) int64 CSR
    vecs: np.ndarray | None = None      # (n, dim) f32 — refine only
    metric: str = "l2"

    @property
    def nlist(self) -> int:
        return self.centroids.shape[0]

    def search(self, qmat: np.ndarray, k: int = 10, nprobe: int = 10,
               refine: int | None = None
               ) -> tuple[np.ndarray, np.ndarray]:
        return self.search_cells(qmat, _probe_cells(
            self.centroids, qmat, self.metric, nprobe), k, refine)

    def search_cells(self, qmat: np.ndarray, cells: np.ndarray,
                     k: int = 10, refine: int | None = None
                     ) -> tuple[np.ndarray, np.ndarray]:
        """``search`` after the probe (see LocalIvfIndex)."""
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        refined = _refiner(self, q64, refine)
        ncand = np.diff(self.offsets)[cells].sum(axis=1)
        k, kc = _widths(k, len(self.ids), refine)
        vmin32 = self.vmin.astype(np.float32)
        step32 = self.step.astype(np.float32)

        def score(c, qi, s0, s1):
            rq = (q64[qi] - self.centroids[c]).astype(np.float32)
            x = vmin32 + self.codes[s0:s1].astype(np.float32) * step32
            sc = rq @ x.T
            sc *= -2.0
            sc += np.einsum("ij,ij->i", x, x)[None, :]
            sc += np.einsum("ij,ij->i", rq, rq)[:, None]
            return np.maximum(sc, 0.0, out=sc)

        def dist(qi, si, r):
            # d(q, c + decode(code)) = ||decode(code) − (q − c)||
            cell = np.searchsorted(self.offsets, r, side="right") - 1
            x = self.vmin + self.codes[r].astype(np.float64) * self.step
            return _l2(x, q64[qi] - self.centroids[cell])

        rows, _ = _rank_by_cell(self.offsets, cells,
                                int(min(kc, ncand.max(initial=0))),
                                score, np.float32)
        return _pool_topk(self.ids, rows, k, refined or dist)


def to_local_pq(pq_index, vectors=None) -> LocalPqIndex:
    """Collect a PqIndex's codes into a driver-resident ADC server.
    ``vectors``: optional (id, vec) DataFrame enabling refine."""
    return _to_local(pq_index, vectors)


def to_local_ivfpq(ivfpq_index, vectors=None) -> LocalIvfPqIndex:
    """Collect an IvfPqIndex into a cell-major driver-resident ADC
    server (CSR layout, same as to_local_ivf)."""
    return _to_local(ivfpq_index, vectors)


def to_local_sq(sq_index, vectors=None) -> LocalSqIndex:
    return _to_local(sq_index, vectors)


def to_local_ivfsq(ivfsq_index, vectors=None) -> LocalIvfSqIndex:
    """Collect an IvfSqIndex into a cell-major driver-resident
    decode-GEMM server (CSR layout, same as to_local_ivfpq)."""
    return _to_local(ivfsq_index, vectors)


def _aligned_vecs(vectors, ids: np.ndarray) -> np.ndarray | None:
    """Collect an (id, vec) DataFrame and align rows to ``ids``'s
    order (refine needs vecs[pos] to be the row for ids[pos])."""
    if vectors is None:
        return None
    pdf = vectors.select("id", "vec").toPandas().set_index("id")
    pdf = pdf.loc[ids]
    return np.ascontiguousarray(
        np.stack(pdf["vec"].to_numpy()).astype(np.float32))


# ---------------------------------------------------------------------
# Rows → local index: the one builder of every tier. The distributed
# searches build a Local*Index over each Arrow batch of candidate rows,
# to_local* over a collected index and the sharded tier over a shard's
# parquet slice, so every tier scores with the same kernels.
# ---------------------------------------------------------------------

def _list_matrix(col, width: int, dtype) -> np.ndarray:
    """(n, width) matrix of an Arrow list column (an Array or a
    ChunkedArray): one offsets-aware flatten per chunk over its
    contiguous values buffer, no Python object per row. ``width``
    only shapes an empty column."""
    parts = [ch.flatten().to_numpy(zero_copy_only=False)
             for ch in getattr(col, "chunks", [col])]
    flat = parts[0] if len(parts) == 1 else np.concatenate(
        parts or [np.empty(0, dtype=dtype)])
    n = len(col)
    return (flat.reshape(n, -1) if n else flat.reshape(0, width)
            ).astype(dtype, copy=False)


def local_arrays(tbl, spec: dict) -> dict:
    """Arrow rows (a Table or RecordBatch of id, vec or code, list_id
    for the cell kinds, and vec beside code when refine rows ride
    along) → the arrays of a ``spec["kind"]`` local index. Rows are
    sorted by id, or by (list_id, id) with CSR offsets over
    ``spec["nlist"]`` cells; ids are unique, so the order is total.
    ``spec`` is a shard meta dict or ``_index_parts``'s: kind, dim,
    m (PQ kinds) and nlist (cell kinds); the kind's record in
    ``kinds.KINDS`` says whether it has cells and its code width and
    dtype."""
    from gofaiss_spark.operators.kinds import KINDS

    kd, names = KINDS[spec["kind"]], tbl.schema.names
    ids = tbl.column("id").to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False)
    out = {}
    if kd.cell:
        lids = tbl.column("list_id").to_numpy(zero_copy_only=False)
        order = np.lexsort((ids, lids))
        out["offsets"] = np.searchsorted(
            lids[order], np.arange(spec["nlist"] + 1)).astype(np.int64)
    else:
        order = np.argsort(ids, kind="stable")
    out["ids"] = np.ascontiguousarray(ids[order])
    dim = spec.get("dim") or 0
    if "code" in names:
        codes = _list_matrix(tbl.column("code"), spec.get(kd.width) or 0,
                             kd.dtype)
        out["codes"] = np.ascontiguousarray(codes[order])
    if "vec" in names:
        # RAW f32 rows for every metric (the _RawRows contract)
        vecs = _list_matrix(tbl.column("vec"), dim, np.float32)
        out["vecs"] = np.ascontiguousarray(vecs[order])
        if "code" not in names:
            out["norms_sq"] = np.einsum("ij,ij->i", out["vecs"],
                                        out["vecs"])
    return out


def local_index(kind: str, metric: str, arrays: dict):
    """The Local*Index of ``kind`` over ``arrays`` (views, not
    copies): rows from ``local_arrays`` plus the quantizer arrays
    (centroids, codebooks, vmin, step). Entries the kind has no field
    for are ignored."""
    from gofaiss_spark.operators.kinds import KINDS, fill

    return fill(KINDS[kind].local, {**arrays, "metric": metric})


def _index_parts(index) -> tuple[dict, dict, object]:
    """A distributed index as the builder's inputs, read from its
    record in ``kinds.KINDS``: its spec (kind, metric, dim, m, nlist),
    its quantizer arrays in f64 and its rows DataFrame (id, vec or
    code, and list_id for the cell kinds)."""
    from gofaiss_spark.operators.kinds import kind_of

    kd = kind_of(index)
    if kd is None:
        raise TypeError(f"not a tabular index: {type(index).__name__}")
    spec = {"kind": kd.name, "metric": getattr(index, "metric", "l2"),
            "dim": index.dim, "m": getattr(index, "m", None)}
    side = {key: np.asarray(getattr(index, key), dtype=np.float64)
            for key in kd.quantizer}
    cols = ["id", kd.row_col]
    if kd.cell:
        spec["nlist"] = len(side["centroids"])
        cols.append("list_id")
    return spec, side, getattr(index, kd.table).select(*cols)


def _to_local(index, vectors=None):
    """Collect a distributed index into its driver-resident
    Local*Index: one Arrow collect through the shared builder.
    ``vectors``: optional (id, vec) DataFrame of the rows refine
    re-scores."""
    spec, side, rows = _index_parts(index)
    arrays = local_arrays(rows.toArrow(), spec)
    if vectors is not None:
        arrays["vecs"] = _aligned_vecs(vectors, arrays["ids"])
    return local_index(spec["kind"], spec["metric"], {**arrays, **side})


# ---------------------------------------------------------------------
# Process-parallel serving pool — the GIL-free scaling tier.
#
# The in-process kernels above start no threads, and threads would
# not scale them far: only the BLAS GEMMs drop the GIL, and the
# selection/scatter numpy work serializes (measured: 1 thread 4.3s,
# best threaded ~2.0s on the 100k/nprobe=50/10k-query workload — a
# 2.1× ceiling on 32 cores). LocalServerPool shards a query batch
# across OS processes instead: the index arrays are published ONCE
# into POSIX shared memory, W spawned workers attach zero-copy views,
# and each worker runs the identical kernel on a contiguous query
# slice with a private BLAS thread budget of ``worker_threads`` (W × T
# sized to the core count). Per-query results are independent of
# batch composition, so the concatenated output is bit-identical to a
# single-process search (gated in tests/test_local_serve.py).
#
# This is the standard single-node serving architecture (one memory
# copy of the index, N serving processes) — the same shape a
# production replica would run, and the honest way to use a whole
# node against the reference's single-process QPS numbers.
# ---------------------------------------------------------------------

_WORKER_INDEX = None
_WORKER_SHM: list = []


# ---------------------------------------------------------------- HNSW tier
#
# The reference's headline serving number is HNSW (hnsw.go:142-187,
# BASELINE.md 24,086 QPS @100k) measured in-process. The driver-
# colocated tier below serves the SAME graphs the distributed builds
# produce (hnsw.py `_build_graph` / cluster-routed cells) with zero
# per-batch scheduling: route on the centroid table, run the shared
# `_search_graph_batch` kernel per probed cell, merge by
# (distance, id) — bit-identical to `search_hnsw_routed`'s plan.

_METRIC_CODES = {"l2": 0, "cosine": 1, "dot": 2}
_METRIC_NAMES = {v: k for k, v in _METRIC_CODES.items()}


@dataclass
class LocalHnswRoutedIndex:
    """Driver/replica-RAM HNSW serving: one graph per routing cell
    (a plain ``HnswIndex`` is the 1-cell case). ``graphs[i]`` may be
    None for a validly-empty k-means cell — the centroid row is kept
    so probe selection matches the distributed searcher exactly.
    """

    graphs: list  # list[HnswGraph | None], index-aligned to centroids
    centroids: np.ndarray  # (G, dim)
    metric: str
    ef_search: int = 200
    default_nprobe: int = 10

    def __post_init__(self) -> None:
        validate_metric(self.metric)
        if len(self.graphs) != int(self.centroids.shape[0]):
            raise ValueError(
                f"graphs/centroids length mismatch: "
                f"{len(self.graphs)} vs {self.centroids.shape[0]}"
            )
        self.n_total = int(
            sum(g.n() for g in self.graphs if g is not None)
        )

    def set_ef_search(self, ef: int) -> None:
        self.ef_search = int(ef)

    def search(
        self,
        qmat: np.ndarray,
        k: int = 10,
        nprobe: int | None = None,
        ef_search: int | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batch search → (ids (nq,k'), distances (nq,k')) with
        k' = min(k, n_total); rows are (distance, id)-ordered exactly
        like `topk` ranks the distributed results."""
        import pandas as pd

        from gofaiss_spark.operators.hnsw import (
            _prep,
            _search_graph_batch,
        )

        if k <= 0:
            raise ValueError(f"k must be positive, got {k}")
        q = np.ascontiguousarray(qmat, dtype=np.float32)
        nq = int(q.shape[0])
        k_eff = min(int(k), self.n_total)
        if nq == 0 or k_eff == 0:
            return (
                np.empty((nq, k_eff), dtype=np.int64),
                np.empty((nq, k_eff), dtype=np.float64),
            )
        ef = int(ef_search if ef_search is not None else self.ef_search)
        G = len(self.graphs)
        np_ = int(nprobe) if nprobe is not None else int(self.default_nprobe)
        # routing: raw f32 queries against the f64 centroid table —
        # the same inputs search_hnsw_routed probes with, so the
        # probed SET is identical
        sel = _probe_cells(self.centroids, q, self.metric, np_).T
        qp = _prep(q, self.metric)
        # scan-once probe map (same shape as the distributed searcher)
        qcols = np.broadcast_to(np.arange(nq)[None, :], sel.shape).ravel()
        order = np.argsort(sel.ravel(), kind="stable")
        flat_cells = sel.ravel()[order]
        flat_qidx = qcols[order].astype(np.int64)
        bounds = np.searchsorted(flat_cells, np.arange(G + 1), side="left")
        frames = []
        for cell in np.unique(flat_cells):
            g = self.graphs[int(cell)]
            if g is None:
                continue
            idx = flat_qidx[bounds[cell]:bounds[cell + 1]]
            frames.append(_search_graph_batch(g, qp[idx], idx, k_eff, ef))
        ids = np.full((nq, k_eff), -1, dtype=np.int64)
        dists = np.full((nq, k_eff), np.inf, dtype=np.float64)
        if not frames:
            # every probed cell was a validly-empty (None) graph —
            # return the padding rows, mirroring what the distributed
            # search_hnsw_routed yields for such queries
            return ids, dists
        allf = pd.concat(frames, ignore_index=True)
        allf = allf.sort_values(
            ["query_id", "distance", "id"], kind="mergesort"
        )
        top = allf.groupby("query_id", sort=True).head(k_eff)
        qarr = top["query_id"].to_numpy(dtype=np.int64)
        pos = np.arange(len(qarr)) - np.searchsorted(qarr, qarr)
        ids[qarr, pos] = top["id"].to_numpy(dtype=np.int64)
        dists[qarr, pos] = top["distance"].to_numpy(dtype=np.float64)
        return ids, dists

    def stats(self) -> dict:
        built = [g for g in self.graphs if g is not None]
        return {
            "index_type": "hnsw_routed_local",
            "total_vectors": self.n_total,
            "dimension": int(self.centroids.shape[1]),
            "memory_mb": round(
                sum(
                    g.vecs.nbytes
                    + sum(e.nbytes for lv in g.edges for e in lv.values())
                    for g in built
                )
                / 1e6
                + self.centroids.nbytes / 1e6,
                3,
            ),
            "extra": {
                "metric": self.metric,
                "ef_search": self.ef_search,
                "default_nprobe": self.default_nprobe,
                "cells": len(self.graphs),
                "built_cells": len(built),
            },
        }


def hnsw_to_local(index, ef_search: int | None = None) -> LocalHnswRoutedIndex:
    """Wrap a driver-built ``HnswIndex`` as the 1-cell routed case."""
    g = index.graph
    return LocalHnswRoutedIndex(
        graphs=[g],
        centroids=np.zeros((1, g.dim)),
        metric=g.metric,
        ef_search=int(ef_search if ef_search is not None else index.ef_search),
        default_nprobe=1,
    )


def hnsw_routed_to_local(
    index,
    ef_search: int | None = None,
    default_nprobe: int | None = None,
) -> LocalHnswRoutedIndex:
    """Collect a Spark-built ``HnswRoutedIndex``'s cell graphs into a
    serving replica. Bounded by construction: nlist pickled graph
    blobs ≈ the full index size — the same RAM bound the reference's
    single process lives under; larger corpora stay on the
    distributed `search_hnsw_routed` / sharded paths."""
    import pickle

    graphs: list = [None] * int(index.nlist)
    for row in index.blobs.select("shard_id", "blob").collect():
        graphs[int(row["shard_id"])] = pickle.loads(bytes(row["blob"]))
    return LocalHnswRoutedIndex(
        graphs=graphs,
        centroids=np.ascontiguousarray(index.centroids),
        metric=index.metric,
        ef_search=int(
            ef_search if ef_search is not None else index.ef_search
        ),
        default_nprobe=int(
            default_nprobe
            if default_nprobe is not None
            else index.default_nprobe
        ),
    )


def _pack_graphs(graphs: list, centroids: np.ndarray) -> dict:
    """Flatten routed-cell HNSW graphs into contiguous numpy arrays
    (shm-exportable for `LocalServerPool` workers). Layout: one
    consolidated row store (ids/vecs/levels + per-graph offsets) and
    one CSR edge store (per-adjacency (level,node,count) rows +
    concatenated neighbor ids)."""
    G = len(graphs)
    built = [g for g in graphs if g is not None]
    if not built:
        raise ValueError("_pack_graphs: no built graphs")
    dim = built[0].dim
    meta = np.zeros((G, 8), dtype=np.int64)
    voff = np.zeros(G + 1, dtype=np.int64)
    eoff = np.zeros(G + 1, dtype=np.int64)
    ids_parts, vec_parts, lvl_parts = [], [], []
    emeta_rows, nbr_parts = [], []
    for gi, g in enumerate(graphs):
        if g is None:
            voff[gi + 1] = voff[gi]
            eoff[gi + 1] = eoff[gi]
            continue
        meta[gi] = (
            1, g.n(), g.m, g.ef_construction,
            g.entry_point, g.max_level, len(g.edges),
            _METRIC_CODES[g.metric],
        )
        voff[gi + 1] = voff[gi] + g.n()
        ids_parts.append(np.ascontiguousarray(g.ids, dtype=np.int64))
        vec_parts.append(np.ascontiguousarray(g.vecs, dtype=np.float32))
        lvl_parts.append(np.ascontiguousarray(g.levels, dtype=np.int32))
        nlists = 0
        for lvl, layer in enumerate(g.edges):
            for node in layer:
                nbrs = layer[node]
                emeta_rows.append((lvl, node, len(nbrs)))
                nbr_parts.append(np.ascontiguousarray(nbrs, dtype=np.int32))
                nlists += 1
        eoff[gi + 1] = eoff[gi] + nlists
    emeta = np.asarray(emeta_rows, dtype=np.int64).reshape(-1, 3)
    enoff = np.zeros(emeta.shape[0] + 1, dtype=np.int64)
    if emeta.shape[0]:
        np.cumsum(emeta[:, 2], out=enoff[1:])
    return {
        "hmeta": meta,
        "hvoff": voff,
        "heoff": eoff,
        "hids": np.concatenate(ids_parts) if ids_parts
        else np.empty(0, dtype=np.int64),
        "hvecs": np.concatenate(vec_parts) if vec_parts
        else np.empty((0, dim), dtype=np.float32),
        "hlevels": np.concatenate(lvl_parts) if lvl_parts
        else np.empty(0, dtype=np.int32),
        "hemeta": emeta,
        "henoff": enoff,
        "henbrs": np.concatenate(nbr_parts) if nbr_parts
        else np.empty(0, dtype=np.int32),
        "hcents": np.ascontiguousarray(centroids),
    }


def _unpack_graphs(arrays: dict) -> tuple[list, np.ndarray]:
    """Inverse of `_pack_graphs`; vector/edge payloads stay views onto
    the consolidated arrays (zero-copy when those live in shm)."""
    from gofaiss_spark.operators.hnsw import HnswGraph

    meta = arrays["hmeta"]
    voff, eoff = arrays["hvoff"], arrays["heoff"]
    emeta, enoff, enbrs = (
        arrays["hemeta"], arrays["henoff"], arrays["henbrs"],
    )
    graphs: list = []
    for gi in range(meta.shape[0]):
        present, n, m, efc, ep, ml, nlev, mcode = (
            int(x) for x in meta[gi]
        )
        if not present:
            graphs.append(None)
            continue
        s, e = int(voff[gi]), int(voff[gi + 1])
        edges: list[dict] = [dict() for _ in range(nlev)]
        for li in range(int(eoff[gi]), int(eoff[gi + 1])):
            lvl, node, _cnt = (int(x) for x in emeta[li])
            edges[lvl][node] = enbrs[int(enoff[li]):int(enoff[li + 1])]
        graphs.append(
            HnswGraph(
                metric=_METRIC_NAMES[mcode],
                dim=int(arrays["hvecs"].shape[1]),
                m=m,
                ef_construction=efc,
                vecs=arrays["hvecs"][s:e],
                ids=arrays["hids"][s:e],
                levels=arrays["hlevels"][s:e],
                edges=edges,
                entry_point=ep,
                max_level=ml,
            )
        )
    return graphs, arrays["hcents"]


def _shm_export(arr: np.ndarray):
    from multiprocessing import shared_memory

    arr = np.ascontiguousarray(arr)
    # SharedMemory(size=0) is invalid — allocate 1 byte for empty
    # arrays (e.g. an empty index, or an HNSW pack with no edge rows)
    # so they round-trip; _shm_attach reconstructs shape (0,...) views.
    shm = shared_memory.SharedMemory(create=True, size=max(1, arr.nbytes))
    view = np.ndarray(arr.shape, dtype=arr.dtype, buffer=shm.buf)
    view[:] = arr
    return shm, {"name": shm.name, "shape": list(arr.shape),
                 "dtype": str(arr.dtype)}


def _shm_attach(meta):
    from multiprocessing import shared_memory

    shm = shared_memory.SharedMemory(name=meta["name"])
    arr = np.ndarray(tuple(meta["shape"]), dtype=np.dtype(meta["dtype"]),
                     buffer=shm.buf)
    return shm, arr


def _mp_worker_init(spec: dict) -> None:
    """Runs once in every spawned worker: attach the shared-memory
    index arrays (zero-copy). The worker's BLAS thread cap is the
    environment it was spawned with (``LocalServerPool.__init__``)."""
    global _WORKER_INDEX

    arrays = {}
    for key, meta in spec["arrays"].items():
        shm, arr = _shm_attach(meta)
        _WORKER_SHM.append(shm)  # keep alive for the process lifetime
        arrays[key] = arr
    kind, metric = spec["kind"], spec["metric"]
    if kind == "hnsw_routed":
        graphs, cents = _unpack_graphs(arrays)
        _WORKER_INDEX = LocalHnswRoutedIndex(
            graphs=graphs, centroids=cents, metric=metric,
            ef_search=spec["hnsw_opts"]["ef_search"],
            default_nprobe=spec["hnsw_opts"]["default_nprobe"],
        )
    else:
        _WORKER_INDEX = local_index(kind, metric, arrays)


def _mp_worker(conn, spec: dict) -> None:
    """A pool worker's whole life: attach the index and say ready,
    then run each ``(fn, args)`` message from its own connection and
    reply ``(ok, result or exception)``, until EOF."""
    try:
        _mp_worker_init(spec)
        out = (True, None)
    except Exception as exc:
        out = (False, exc)
    while True:
        try:
            conn.send(out)
            fn, args = conn.recv()
        except (EOFError, OSError):
            return  # the pool is gone
        try:
            out = (True, fn(*args))
        except Exception as exc:
            out = (False, exc)


def _mp_search(q: np.ndarray, k: int, args: dict):
    """A tabular pool task; ``args`` are the search keywords the
    kind takes (``Kind.args``)."""
    return _WORKER_INDEX.search(q, k=k, **args)


def _mp_search_hnsw_cells(qmeta: dict, items: list, k: int, ef: int):
    """CELL-MAJOR pool task for the routed-HNSW kind: search the given
    cells' graphs for their routed query subsets (query matrix
    attached from per-call shm; ``items`` carries only (cell_id,
    query-row indices)). Returns concatenated (query_row, id,
    distance) arrays — the parent merges across cells/tasks. The
    lock-step graph kernel is batch-composition independent, so any
    (cell, query) grouping yields bit-identical per-pair results."""
    from gofaiss_spark.operators.hnsw import _prep, _search_graph_batch

    shm, qmat = _shm_attach(qmeta)
    try:
        idx = _WORKER_INDEX
        qp = _prep(qmat, idx.metric)
        out_q, out_i, out_d = [], [], []
        for cell, qidx in items:
            g = idx.graphs[int(cell)]
            if g is None:
                continue
            df = _search_graph_batch(g, qp[qidx], qidx, k, ef)
            out_q.append(df["query_id"].to_numpy(dtype=np.int64))
            out_i.append(df["id"].to_numpy(dtype=np.int64))
            out_d.append(df["distance"].to_numpy(dtype=np.float64))
        if not out_q:
            return (np.empty(0, dtype=np.int64),
                    np.empty(0, dtype=np.int64),
                    np.empty(0, dtype=np.float64))
        return (np.concatenate(out_q), np.concatenate(out_i),
                np.concatenate(out_d))
    finally:
        shm.close()


class LocalServerPool:
    """Serve any local index — Flat, IVF, PQ, IVFPQ, SQ, IVFSQ or
    routed HNSW — from W worker processes sharing one in-memory copy
    of the index.

    ``workers × worker_threads`` should be sized to the core count
    (default: W = cores / worker_threads, capped at 32). The spawn
    context is used (fork-safety with loaded BLAS); workers inherit
    ``OPENBLAS/OMP/MKL_NUM_THREADS = worker_threads`` so per-process
    BLAS pools don't oversubscribe. Every worker is running and has
    attached the index when the constructor returns.

    Transport: one duplex pipe per worker, and no broker thread. A
    call waits for one idle worker, then takes whichever others are
    idle already, up to its task count, without waiting for more (a
    call that holds workers never waits for another, so concurrent
    calls cannot deadlock). It runs its tasks on the workers it
    holds as each one frees, on the caller's own thread, and gives
    them back; a one-task call is one send and one receive.

    ``search`` splits a request into contiguous slices of at least
    ``POOL_TASK_QUERIES`` queries (at most 2 per worker, for
    balance); a request below 2 × ``POOL_TASK_QUERIES`` is one task,
    so concurrent small requests from several client threads each
    take a worker. Output is bit-identical to ``index.search`` on the
    whole batch.

    Failure: an exception a task raises is re-raised to its caller
    and the pool stays usable. A lost worker (EOF or a broken pipe)
    breaks the pool: that call and every later one raise at once.
    ``close()`` stops every worker (an idle one by closing its pipe,
    as a worker exits on EOF; one mid-request by SIGTERM, and that
    request raises), joins them and unlinks the shared memory; it
    waits on no timeout and may be called again. Use the pool as a
    context manager or call ``close()``.
    """

    def __init__(self, index, workers: int | None = None,
                 worker_threads: int = 1):
        import multiprocessing as mp

        from gofaiss_spark.operators.kinds import KINDS

        # measured @100k/nprobe=50/10k-queries: 32 workers × 1 thread
        # beats 16×2 (25.7k vs 20.9k QPS) and 8×4 (12.5k) — processes
        # sidestep the GIL entirely, so give every core its own
        cpu = _os.cpu_count() or 8
        self.workers = workers or max(1, min(32, cpu // max(1, worker_threads)))
        self._shms = []
        self._procs, self._conns = [], []  # index-aligned, one a worker
        self._idle = []  # connections of the workers no call holds
        self._cv = _threading.Condition()
        self._broken = None  # why every call now raises, once it does
        kind = next((kd.name for kd in KINDS.values()
                     if type(index) is kd.local), None)
        if kind is not None:
            # every array field, and the refine rows when present
            named = {f.name: getattr(index, f.name) for f in fields(index)
                     if isinstance(getattr(index, f.name), np.ndarray)}
        elif isinstance(index, LocalHnswRoutedIndex):
            kind = "hnsw_routed"
            named = _pack_graphs(index.graphs, index.centroids)
            # parent-side routing state: the pool dispatches this kind
            # CELL-MAJOR (route in the parent, one task per cell
            # group) so each worker runs the lock-step graph kernel
            # over its cells' FULL routed query subsets — query-chunk
            # scatter fragmented those to ~batch-size/cells queries
            # per cell, below the batch kernel's break-even
            self._hnsw_route = {
                "centroids": np.ascontiguousarray(index.centroids),
                "metric": index.metric,
                "ef": int(index.ef_search),
                "nprobe": int(index.default_nprobe),
                "present": np.array(
                    [g is not None for g in index.graphs], dtype=bool),
                "n_total": int(index.n_total),
            }
        else:
            raise TypeError(
                f"LocalServerPool serves LocalFlatIndex/LocalIvfIndex/"
                f"LocalPqIndex/LocalIvfPqIndex/LocalSqIndex/"
                f"LocalIvfSqIndex/LocalHnswRoutedIndex, "
                f"got {type(index).__name__}"
            )
        self.kind = kind
        spec_arrays = {}
        for key, arr in named.items():
            shm, meta = _shm_export(arr)
            self._shms.append(shm)
            spec_arrays[key] = meta
        spec = {"kind": kind, "metric": index.metric, "arrays": spec_arrays}
        if kind == "hnsw_routed":
            spec["hnsw_opts"] = {
                "ef_search": int(index.ef_search),
                "default_nprobe": int(index.default_nprobe),
            }
        # children read BLAS thread env at numpy import — set it for
        # the spawn window only, restore the parent's env after
        env_keys = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                    "MKL_NUM_THREADS")
        saved = {kk: _os.environ.get(kk) for kk in env_keys}
        for kk in env_keys:
            _os.environ[kk] = str(worker_threads)
        try:
            # spawn every worker INSIDE the env window above (the one
            # BLAS cap) and wait until each has attached the index:
            # first-search latency belongs to construction. A dead
            # worker is never replaced; it breaks the pool, which
            # api._drop_pool handles.
            ctx = mp.get_context("spawn")
            for _ in range(self.workers):
                conn, child = ctx.Pipe()
                p = ctx.Process(target=_mp_worker, args=(child, spec),
                                daemon=True)
                p.start()
                child.close()
                self._procs.append(p)
                self._conns.append(conn)
            self._idle = list(self._conns)
            for conn in self._conns:
                try:
                    ok, exc = conn.recv()
                except EOFError as eof:  # the worker died starting up
                    ok, exc = False, eof
                if not ok:
                    raise RuntimeError(
                        "LocalServerPool: a worker failed to start or to "
                        "attach the shared-memory index") from exc
        except BaseException:
            self.close()
            raise
        finally:
            for kk, vv in saved.items():
                if vv is None:
                    _os.environ.pop(kk, None)
                else:
                    _os.environ[kk] = vv

    def search(self, qmat: np.ndarray, k: int = 10,
               nprobe: int | None = 10,
               refine: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        q = np.ascontiguousarray(qmat)
        nq = q.shape[0]
        if nq == 0:
            return (np.empty((0, k), dtype=np.int64),
                    np.empty((0, k), dtype=np.float64))
        if self.kind == "hnsw_routed":
            return self._search_hnsw_cells(q, k, nprobe)
        from gofaiss_spark.operators.kinds import KINDS

        args = KINDS[self.kind].args(nprobe=nprobe, refine=refine)
        ntasks = self._ntasks(nq)
        if ntasks == 1:
            return self._run([(_mp_search, (q, k, args))])[0]
        edges = np.linspace(0, nq, ntasks + 1, dtype=np.int64)
        parts = self._run([(_mp_search, (q[s:e], k, args))
                           for s, e in zip(edges[:-1], edges[1:]) if e > s])
        return (np.vstack([p[0] for p in parts]),
                np.vstack([p[1] for p in parts]))

    def _ntasks(self, nq: int) -> int:
        return max(1, min(self.workers * 2, nq // POOL_TASK_QUERIES))

    def _run(self, tasks: list) -> list:
        """The pool's one dispatch: run ``(fn, args)`` tasks on the
        workers this call checks out → their results, in task order."""
        with self._cv:
            while not self._idle and self._broken is None:
                self._cv.wait()
            if self._broken is not None:
                raise RuntimeError(f"LocalServerPool is {self._broken}")
            held = self._idle[-len(tasks):]
            del self._idle[-len(tasks):]
        out, err, busy, nxt = [None] * len(tasks), None, {}, 0
        try:
            while nxt < len(tasks) or busy:
                while held and nxt < len(tasks):
                    c = held.pop()
                    busy[c], nxt = nxt, nxt + 1
                    c.send(tasks[busy[c]])
                ready = list(busy) if len(busy) == 1 else _mp_wait(list(busy))
                for c in ready:
                    ok, res = c.recv()
                    i = busy.pop(c)
                    held.append(c)
                    if ok:
                        out[i] = res
                    elif err is None:
                        err, nxt = res, len(tasks)  # drain, send no more
        except BaseException as exc:
            # a connection in an unknown state is never reused: a lost
            # worker (or an interrupted call) breaks the pool
            with self._cv:
                self._broken = self._broken or (
                    f"broken: {type(exc).__name__} on a worker connection")
                self._cv.notify_all()
            for c in [*held, *busy]:
                c.close()
            if isinstance(exc, (EOFError, OSError)):
                raise RuntimeError(
                    f"LocalServerPool is {self._broken}") from exc
            raise
        with self._cv:
            if self._broken is None:
                self._idle.extend(held)
                self._cv.notify_all()
                held = []
        for c in held:  # the pool closed under this call
            c.close()
        if err is not None:
            raise err
        return out

    def _search_hnsw_cells(
        self, q: np.ndarray, k: int, nprobe,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Cell-major scatter for the routed-HNSW kind: route every
        query in the parent (one centroid pass — the same inputs and
        formula as ``LocalHnswRoutedIndex.search``), group the
        (cell, query) pairs by cell, balance cell groups across
        at most ``_ntasks`` tasks by routed-query load, and merge the
        per-cell top-k exactly like the in-process searcher (sort by
        (query, distance, id), head k). Queries ride to workers via
        one per-call shm segment; tasks carry only cell ids + query
        row indices. Output is bit-identical to ``index.search`` on
        the whole batch — the graph kernel is batch-composition
        independent and the merge is the same total order."""
        if k <= 0:
            raise ValueError(f"k must be positive, got {k}")
        hr = self._hnsw_route
        q = np.ascontiguousarray(q, dtype=np.float32)
        nq = q.shape[0]
        k_eff = min(int(k), hr["n_total"])
        ids = np.full((nq, k_eff), -1, dtype=np.int64)
        dists = np.full((nq, k_eff), np.inf, dtype=np.float64)
        if nq == 0 or k_eff == 0:
            return ids, dists
        G = int(hr["centroids"].shape[0])
        np_ = int(nprobe) if nprobe is not None else hr["nprobe"]
        sel = _probe_cells(hr["centroids"], q, hr["metric"], np_).T
        qcols = np.broadcast_to(
            np.arange(nq)[None, :], sel.shape).ravel()
        order = np.argsort(sel.ravel(), kind="stable")
        flat_cells = sel.ravel()[order]
        flat_qidx = qcols[order].astype(np.int64)
        bounds = np.searchsorted(
            flat_cells, np.arange(G + 1), side="left")
        items = []
        for cell in np.unique(flat_cells):
            if not hr["present"][cell]:
                continue
            items.append(
                (int(cell), flat_qidx[bounds[cell]:bounds[cell + 1]]))
        if not items:
            return ids, dists
        # split outsized cell groups so few-cell indexes (the plain
        # 1-graph hnsw_to_local case routes EVERY query to one cell)
        # still fan out across the pool — bit-identical either way,
        # the kernel is batch-composition independent
        total_pairs = sum(len(t[1]) for t in items)
        target = max(1, total_pairs // (self.workers * 2))
        split = []
        for cell, qidx in items:
            if len(qidx) > 2 * target:
                for s in range(0, len(qidx), target):
                    split.append((cell, qidx[s:s + target]))
            else:
                split.append((cell, qidx))
        items = split
        ntasks = min(self._ntasks(nq), len(items))
        items.sort(key=lambda t: -len(t[1]))  # big cells first
        buckets: list[list] = [[] for _ in range(ntasks)]
        loads = [0] * ntasks
        for it in items:  # greedy least-loaded balance
            b = loads.index(min(loads))
            buckets[b].append(it)
            loads[b] += len(it[1])
        shm, qmeta = _shm_export(q)
        try:
            parts = self._run([(_mp_search_hnsw_cells,
                                (qmeta, b, k_eff, hr["ef"]))
                               for b in buckets if b])
        finally:
            shm.close()
            shm.unlink()
        qarr = np.concatenate([p[0] for p in parts])
        if qarr.size == 0:
            return ids, dists
        iarr = np.concatenate([p[1] for p in parts])
        darr = np.concatenate([p[2] for p in parts])
        o = np.lexsort((iarr, darr, qarr))
        qs, is_, ds = qarr[o], iarr[o], darr[o]
        pos = np.arange(len(qs)) - np.searchsorted(qs, qs)
        take = pos < k_eff
        ids[qs[take], pos[take]] = is_[take]
        dists[qs[take], pos[take]] = ds[take]
        return ids, dists

    def close(self) -> None:
        with self._cv:
            idle, self._idle = self._idle, []
            self._broken = "closed"
            self._cv.notify_all()
        for c in idle:
            c.close()  # EOF: an idle worker exits
        for p, c in zip(self._procs, self._conns):
            if c not in idle:
                p.terminate()  # mid-request; its caller's recv sees EOF
        for p in self._procs:
            p.join()
        self._procs, self._conns = [], []
        for shm in self._shms:
            try:
                shm.close()
                shm.unlink()
            except FileNotFoundError:
                pass
        self._shms = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False
