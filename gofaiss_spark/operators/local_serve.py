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

Scale posture: bounded by driver/replica RAM by construction (the
same bound the reference lives under — 16 GB in its published runs);
everything larger goes through the distributed search paths.
"""

from __future__ import annotations

import threading as _threading
from dataclasses import dataclass

import numpy as np

from gofaiss_spark.functions.distance import (
    f32_select_margin,
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

_POOL = None
# When set (inside a LocalServerPool worker process or a shard task),
# caps the serving thread-pool size so W processes × T threads stays
# at the machine's core count.
_MAX_CHUNKS: int | None = None


def _pool():
    """Shared serving thread pool (LocalFlatIndex's query blocks). A
    per-call ThreadPoolExecutor spawns OS threads on every search, so
    serving reuses one process-wide pool (workers are idle-cheap)."""
    global _POOL
    if _POOL is None:
        import os as _os
        from concurrent.futures import ThreadPoolExecutor

        cap = _MAX_CHUNKS if _MAX_CHUNKS is not None else 32
        # Inside a pool worker (_MAX_CHUNKS set) honor worker_threads
        # exactly — worker_threads=1 must mean ONE serving thread so the
        # default 32x1 topology stays at the machine's core count.
        floor = 1 if _MAX_CHUNKS is not None else 2
        _POOL = ThreadPoolExecutor(
            max_workers=max(floor, min(cap, _os.cpu_count() or 8)),
            thread_name_prefix="gofaiss-serve",
        )
    return _POOL


# observability: queries that took the exact-f64 fallback because the
# f32 selection margin could not prove the cut exact — read by tests
# to assert the guard actually fires on adversarial data.
GUARD_FALLBACKS = 0
# batches api served in process because their LocalServerPool failed
POOL_FALLBACKS = 0
# Counters are incremented under a lock: searches run from serving
# threads and client threads at once, and += on a module global is a
# read-modify-write that would otherwise drop counts.
_COUNTER_LOCK = _threading.Lock()


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


def _exact_scan_topk(vecs: np.ndarray, ids: np.ndarray, metric: str,
                     q64: np.ndarray, kk: int,
                     row_sel: np.ndarray | None = None,
                     tile: int = 262144) -> np.ndarray:
    """Exact f64 top-``kk`` ROW POSITIONS for one query, ascending
    (distance, id) — the margin-guard fallback path shared by
    LocalFlatIndex / LocalIvfIndex. Tiled so the f64 cast never
    materializes more than ``tile`` rows; ``q64`` must be the RAW f64
    query — do NOT pre-normalize for cosine: the raw-row contract
    computes ``_cosine_from_ip`` on raw stored rows and the raw query
    (identical inputs to np_distance_matrix and the SQL oracle), and
    a normalized query would perturb values ~1e-16, diverging from
    the exact re-score at 6dp-rounding boundaries."""
    _count_fallback()
    n = vecs.shape[0] if row_sel is None else len(row_sel)
    best_d = np.empty(0, dtype=np.float64)
    best_id = np.empty(0, dtype=np.int64)
    best_pos = np.empty(0, dtype=np.int64)
    for t0 in range(0, n, tile):
        te = min(t0 + tile, n)
        pos = (np.arange(t0, te, dtype=np.int64) if row_sel is None
               else np.asarray(row_sel[t0:te], dtype=np.int64))
        vb = vecs[pos].astype(np.float64)
        if metric == "l2":
            diff = vb - q64
            d = np.sqrt(np.einsum("ij,ij->i", diff, diff))
        elif metric == "cosine":
            bn = np.sqrt(np.einsum("ij,ij->i", vb, vb))
            d = _cosine_from_ip(vb @ q64, bn, np.linalg.norm(q64))
        else:
            d = -(vb @ q64)
        cd = np.concatenate([best_d, d])
        cid = np.concatenate([best_id, ids[pos]])
        cpos = np.concatenate([best_pos, pos])
        o = np.lexsort((cid, cd))[:kk]
        best_d, best_id, best_pos = cd[o], cid[o], cpos[o]
    return best_pos


@dataclass
class LocalFlatIndex:
    ids: np.ndarray  # (n,) int64
    # (n, dim) float32 — RAW rows for every metric. Cosine divides by
    # the row norms inside the ranking pass instead of pre-normalizing
    # the stored rows: the exact f64 re-score then runs on the same
    # raw values np_distance_matrix (and a SQL oracle over the parquet
    # rows) sees, so all three tiers report identical distances — a
    # pre-normalized copy is perturbed ~1e-7 by the f32 division,
    # which flips 6dp-rounded values (round-7 cosine driver rows).
    vecs: np.ndarray
    metric: str
    # (n,) float32 — required for EVERY metric: the l2 surrogate score
    # reads it, cosine derives the ranking inv-norms from it, and
    # _bmax() feeds it to the margin guard for dot
    norms_sq: np.ndarray

    def search(self, qmat: np.ndarray, k: int = 10,
               block: int | None = None,
               tile: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k for a query matrix: (ids (q, k), dists (q, k)),
        ascending by (distance, id) — identical ordering contract to
        search_flat.

        Kernel shape (the FAISS knn blocked brute-force): queries in
        blocks of ``block``, base in tiles of ``tile``, so every score
        tile (block × tile f32 ≈ 4 MB) stays cache-resident with a
        running top-k merge per block — a full (q × n) score matrix
        would stream hundreds of MB through DRAM per pass and leave
        the kernel bandwidth-bound. Blocks run on a thread pool (the
        non-GEMM numpy ops release the GIL). f32 generates the
        top-(k+16) candidates; an exact f64 re-score makes reported
        distances and orderings identical to the distributed kernel
        (the refine_exact pattern). The f32 cut is margin-guarded
        (f32_select_margin): queries whose selection gap cannot be
        proven larger than the f32 error bound fall back to an exact
        f64 ranking, so the identity holds by construction."""
        # keep the RAW f64 query for every exact path: the re-score and
        # guard fallbacks then compute on exactly the inputs
        # np_distance_matrix sees (the distributed kernel's contract).
        # Cosine normalizes the query in f64 ONLY for the f32 ranking
        # copy (score magnitudes ~1); an f32-normalized query leaking
        # into the "exact f64" re-score perturbs it by ~1e-7, which
        # flips near-tie rankings (the r5 verdict's exactness bug).
        q64full = np.ascontiguousarray(qmat, dtype=np.float64)
        if self.metric == "cosine":
            qn = np.linalg.norm(q64full, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            q = (q64full / qn).astype(np.float32)
        else:
            q = q64full.astype(np.float32)
        nq = q.shape[0]
        if block is None:
            # measured @100k: small blocks win small batches (more
            # thread parallelism), bigger blocks win sustained load
            # (less per-block overhead)
            block = 128 if nq <= 2048 else 256
        if tile is None:
            tile = 64 * block
        n = len(self.ids)
        k = min(k, n) if k > 0 else n
        k2 = min(n, k + 16)
        out_ids = np.empty((nq, k), dtype=np.int64)
        out_d = np.empty((nq, k), dtype=np.float64)
        vt = self._vt()

        def do_block(s: int) -> None:
            qb = q[s:s + block]
            b = qb.shape[0]
            best_s = best_i = None
            bound = None  # per-query k2-th best so far (f32 + margin)
            sc_buf = np.empty((b, tile), dtype=np.float32)
            for t0 in range(0, n, tile):
                te = min(t0 + tile, n)
                w = te - t0
                sc = sc_buf[:, :w]
                np.matmul(qb, vt[:, t0:te], out=sc)
                if self.metric == "l2":
                    sc *= -2.0
                    sc += self.norms_sq[None, t0:te]
                elif self.metric == "cosine":
                    # raw rows: divide by the row norms here (zero
                    # rows get inv 0 → sc 0 → distance exactly 1.0,
                    # the zero-vector contract)
                    sc *= self._inv_n()[None, t0:te]
                    np.subtract(1.0, sc, out=sc)
                else:
                    np.negative(sc, out=sc)
                kk = min(k2, w)
                if best_s is None:
                    # first tile: full top-k2 selection seeds the bound
                    p = np.argpartition(sc, kk - 1, axis=1)[:, :kk]
                    best_s = np.take_along_axis(sc, p, axis=1).copy()
                    best_i = p.astype(np.int64) + t0
                    if kk == k2:
                        bmax = best_s.max(axis=1)
                        bound = bmax + np.abs(bmax) * 1e-3 + 1e-3
                    continue
                # later tiles: admit only candidates beating the
                # running per-query bound (SIMD compare; introselect
                # over every tile was the serial hot spot). On
                # uniform data almost no row improves per tile, so the
                # row loop below touches a handful of queries; if many
                # rows improve (clustered/sorted insert order) the
                # vectorized argpartition path is cheaper — pick per
                # tile by survivor count.
                improved = None
                if bound is not None:
                    m = sc <= bound[:, None]
                    improved = np.flatnonzero(m.any(axis=1))
                    if improved.size == 0:
                        continue
                if improved is not None and improved.size <= max(32, b // 4):
                    for r in improved:
                        cols = np.flatnonzero(m[r])
                        if cols.size > k2:
                            top = np.argpartition(sc[r, cols], k2 - 1)[:k2]
                            cols = cols[top]
                        cs = np.concatenate([best_s[r], sc[r, cols]])
                        ci = np.concatenate(
                            [best_i[r], cols.astype(np.int64) + t0]
                        )
                        sel = np.argpartition(cs, k2 - 1)[:k2]
                        best_s[r] = cs[sel]
                        best_i[r] = ci[sel]
                        bm = best_s[r].max()
                        bound[r] = bm + abs(bm) * 1e-3 + 1e-3
                    continue
                p = np.argpartition(sc, kk - 1, axis=1)[:, :kk]
                psc = np.take_along_axis(sc, p, axis=1)
                pid = p.astype(np.int64) + t0
                cs = np.concatenate([best_s, psc], axis=1)
                ci = np.concatenate([best_i, pid], axis=1)
                sel = np.argpartition(cs, k2 - 1, axis=1)[:, :k2]
                best_s = np.take_along_axis(cs, sel, axis=1)
                best_i = np.take_along_axis(ci, sel, axis=1)
                if best_s.shape[1] == k2:
                    bmax = best_s.max(axis=1)
                    bound = bmax + np.abs(bmax) * 1e-3 + 1e-3
            # margin guard: survivors are the global top-k2 by f32
            # score (pool invariant), so every rejected score >= the
            # k2-th best survivor (P). If P minus the k-th best (T)
            # exceeds 2x the f32 error bound, no rejected candidate
            # can belong to the exact top-k; otherwise rank the
            # affected query exactly in f64 — the cut is proven, not
            # assumed (same contract as _local_topk_candidates).
            qb64 = q64full[s:s + block]
            if n > k2 and best_s.shape[1] == k2:
                pmax = best_s.max(axis=1).astype(np.float64)
                tk = (np.partition(best_s, k - 1, axis=1)[:, k - 1]
                      .astype(np.float64) if k < k2 else pmax)
                qn64 = np.linalg.norm(qb64, axis=1)
                err = f32_select_margin(
                    self.metric, qb.shape[1], self._bmax(), qn64)
                # inf - inf = nan when a row is underfull; the mask
                # already excludes those rows, so suppress the
                # RuntimeWarning the throwaway subtraction would emit
                with np.errstate(invalid="ignore"):
                    unsafe = np.isfinite(pmax) & (pmax - tk <= 2.0 * err)
                for r in np.flatnonzero(unsafe):
                    pos = _exact_scan_topk(
                        self.vecs, self.ids, self.metric,
                        qb64[r], k2)
                    best_i[r] = pos
            # exact f64 re-score of the surviving candidates
            cand = self.vecs[best_i].astype(np.float64)  # (b, k2, dim)
            if self.metric == "l2":
                diff = cand - qb64[:, None, :]
                d = np.sqrt(np.einsum("bkd,bkd->bk", diff, diff))
            elif self.metric == "cosine":
                # raw candidate rows, raw f64 query, f64 row norms —
                # exactly np_distance_matrix's formula on the same
                # inputs the distributed kernel (and a SQL oracle
                # over the parquet rows) scores
                bn = np.sqrt(np.einsum("bkd,bkd->bk", cand, cand))
                d = _cosine_from_ip(
                    np.einsum("bkd,bd->bk", cand, qb64), bn,
                    np.linalg.norm(qb64, axis=1)[:, None])
            else:
                d = -np.einsum("bkd,bd->bk", cand, qb64)
            pid = self.ids[best_i]
            order = np.lexsort((pid, d), axis=1)[:, :k]  # asc (dist, id)
            out_ids[s:s + block] = np.take_along_axis(pid, order, axis=1)
            out_d[s:s + block] = np.take_along_axis(d, order, axis=1)

        starts = list(range(0, nq, block))
        if len(starts) > 1:
            list(_pool().map(do_block, starts))
        else:
            for s in starts:
                do_block(s)
        return out_ids, out_d

    def _vt(self) -> np.ndarray:
        if getattr(self, "_vt_cache", None) is None:
            self._vt_cache = np.ascontiguousarray(self.vecs.T)
        return self._vt_cache

    def _inv_n(self) -> np.ndarray:
        """f32 reciprocal row norms for the cosine ranking pass
        (zero-norm rows → 0, so their score is exactly 1.0 — the
        zero-vector contract of np_distance_matrix)."""
        if getattr(self, "_inv_n_cache", None) is None:
            self._inv_n_cache = _inv_norms_f32(self.norms_sq)
        return self._inv_n_cache

    def _bmax(self) -> float:
        """Max base-row norm (margin-guard input). The cosine margin
        is norm-independent (ranking scores are normalized); norms_sq
        is computed for every metric at build (to_local /
        _read_shard_arrays)."""
        if getattr(self, "_bmax_cache", None) is None:
            if self.metric == "cosine" or len(self.ids) == 0:
                self._bmax_cache = 1.0
            else:
                self._bmax_cache = float(np.sqrt(self.norms_sq.max()))
        return self._bmax_cache


def to_local(index_or_vectors, vec_col: str = "vec",
             id_col: str = "id", metric: str | None = None) -> LocalFlatIndex:
    """Collect a FlatIndex (or a (id, vec) DataFrame) into a
    driver-resident server. One Arrow collect; bounded by driver RAM
    by contract."""
    from gofaiss_spark.operators.flat import FlatIndex

    if isinstance(index_or_vectors, FlatIndex):
        df = index_or_vectors.vectors
        metric = metric or index_or_vectors.metric
    else:
        df = index_or_vectors
        metric = metric or "l2"
    validate_metric(metric)
    pdf = df.select(id_col, vec_col).orderBy(id_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    # RAW rows for every metric — cosine divides by row norms inside
    # the ranking kernel (LocalFlatIndex.vecs contract)
    vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
    norms_sq = np.einsum("ij,ij->i", vecs, vecs)
    return LocalFlatIndex(ids=ids, vecs=np.ascontiguousarray(vecs),
                          metric=metric, norms_sq=norms_sq)


@dataclass
class LocalIvfIndex:
    """Driver-colocated IVF serving (the in-process analogue of
    search_ivf, pkg/index/ivf/ivf.go:115-161 semantics).

    CSR cell layout: rows sorted by (list_id, id) so every inverted
    list is one contiguous slice. Probe selection runs in f64 with the
    same distance formula as the distributed ``probe_lists``, so this
    server scans the same cells the cluster path would. Candidates are
    ranked by an f32 score and the top-(k+16) of each query are
    re-scored exactly in f64 (the LocalFlatIndex contract: reported
    distances are bit-identical to the distributed kernel's).

    Two ranking kernels share that head and tail; ``search`` picks one
    per call from the shape of its input:

    - per-query, when ``nq·nprobe`` is at most the number of cells
      present in this index, i.e. when queries rarely share a cell:
      each query gathers its probed cells' rows, scores them with one
      f32 GEMV and keeps an argpartition of k+16. It costs a dozen
      numpy calls per query, so small requests from concurrent
      callers do not queue behind per-cell work on the GIL.
    - cell-grouped, for batches: one f32 GEMM per probed cell over the
      queries that probe it, an argpartition of k+16 per (query,
      cell), then one per query over that pool. The pool is as wide
      as the most probed cells PRESENT here for any query, so a
      list-sharded replica holding nlist/W cells keeps a narrow pool.

    The shared tail is the f32_select_margin guard (a query whose f32
    cut cannot be proven exact is re-ranked in f64 over its probed
    cells and counted in GUARD_FALLBACKS), the exact f64 re-score and
    the ascending (distance, id) sort. The kernel starts no threads:
    parallelism comes from client threads, LocalServerPool processes
    and shard tasks.

    Scale posture: a serving REPLICA for an index that fits one node;
    the 100 TB corpus stays in partitionBy("list_id") Parquet and is
    served by the distributed search_ivf. nprobe/nlist is the same
    work-pruning knob in both tiers.
    """

    ids: np.ndarray        # (n,) int64, cell-major
    vecs: np.ndarray       # (n, dim) f32, cell-major, RAW for every
    # metric (cosine divides by row norms in the ranking pass — the
    # LocalFlatIndex.vecs contract: exact paths see the same raw
    # values the distributed kernel and a SQL oracle score)
    metric: str
    centroids: np.ndarray  # (nlist, dim) f64, as trained (not re-normalized)
    offsets: np.ndarray    # (nlist + 1,) int64 CSR cell boundaries
    # (n,) f32 — required for EVERY metric (l2 surrogate, cosine
    # ranking inv-norms, _bmax's margin-guard input for dot)
    norms_sq: np.ndarray

    @property
    def nlist(self) -> int:
        return self.centroids.shape[0]

    def _bmax(self) -> float:
        """Max base-row norm (margin-guard input)."""
        if getattr(self, "_bmax_cache", None) is None:
            if self.metric == "cosine" or len(self.ids) == 0:
                self._bmax_cache = 1.0
            else:
                self._bmax_cache = float(np.sqrt(self.norms_sq.max()))
        return self._bmax_cache

    def _inv_n(self) -> np.ndarray:
        """f32 reciprocal row norms for the cosine ranking pass (see
        LocalFlatIndex._inv_n)."""
        if getattr(self, "_inv_n_cache", None) is None:
            self._inv_n_cache = _inv_norms_f32(self.norms_sq)
        return self._inv_n_cache

    def _f32_scores(self, q: np.ndarray, sel) -> np.ndarray:
        """f32 ranking scores of the stored rows ``sel`` (a slice or a
        position array) for the f32 queries ``q``, lower is better."""
        sc = q @ self.vecs[sel].T
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

    def search(self, qmat: np.ndarray, k: int = 10,
               nprobe: int = 10) -> tuple[np.ndarray, np.ndarray]:
        """nprobe-pruned top-k for a query matrix → (ids (q, k),
        dists (q, k)), ascending (distance, id). A query whose probed
        cells hold fewer than k rows is padded with id int64.max and
        distance inf. k ≤ 0 or k > n returns every candidate in the
        probed cells (width n). nprobe ≥ nlist ⇒ exact flat search
        (every cell scanned), the correctness-gate property shared
        with search_ivf."""
        from gofaiss_spark.functions.distance import np_distance_matrix

        # RAW f64 queries for every exact path (probe selection, the
        # guard fallbacks, the final re-score) — cosine normalizes
        # only the f32 ranking copy, mirroring LocalFlatIndex.search
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        if self.metric == "cosine":
            qn = np.linalg.norm(q64, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            q = (q64 / qn).astype(np.float32)
        else:
            q = q64.astype(np.float32)
        nq, nlist, n = q.shape[0], self.nlist, len(self.ids)
        if nprobe <= 0 or nprobe > nlist:
            nprobe = nlist
        k = min(k, n) if k > 0 else n
        k2 = k + 16

        # head — probe selection, f64, same formula as probe_lists
        dm = np_distance_matrix(self.centroids, q64, self.metric)
        if nprobe < nlist:
            cells = np.argpartition(dm, nprobe - 1, axis=0)[:nprobe].T
        else:
            cells = np.broadcast_to(np.arange(nlist), (nq, nlist))
        sizes = np.diff(self.offsets)
        ncand = sizes[cells].sum(axis=1)  # rows in each query's cells
        # rows (nq, w): each query's top-min(k2, ncand) row positions
        # by f32 score, rs their scores; row −1 / score inf pad the
        # queries with fewer candidates
        w = int(min(k2, ncand.max(initial=0)))
        if nq * nprobe <= np.count_nonzero(sizes):
            rows, rs = self._rank_per_query(q, cells, sizes, w)
        else:
            rows, rs = self._rank_by_cell(q, cells, sizes, w)

        # tail — margin guard (same contract as LocalFlatIndex /
        # _local_topk_candidates): a query with more than k2 candidate
        # rows rejected some, each with an f32 score ≥ its k2-th best
        # (P). If P minus the k-th best exceeds 2× the f32 error bound
        # no rejected row can enter the exact top-k; otherwise re-rank
        # the query's probed cells exactly in f64.
        full = np.flatnonzero(ncand > k2)
        if full.size:
            sf = rs[full].astype(np.float64)
            pmax = sf.max(axis=1)
            tk = np.partition(sf, k - 1, axis=1)[:, k - 1]
            err = f32_select_margin(self.metric, q64.shape[1], self._bmax(),
                                    np.linalg.norm(q64[full], axis=1))
            for i in full[pmax - tk <= 2.0 * err]:
                row_sel = np.concatenate([
                    np.arange(self.offsets[c], self.offsets[c + 1])
                    for c in cells[i]])
                rows[i] = _exact_scan_topk(self.vecs, self.ids, self.metric,
                                           q64[i], k2, row_sel=row_sel)

        # exact f64 re-score of the real (non-pad) candidates, in
        # query blocks that keep the f64 candidate rows near 16 MB
        out_ids = np.full((nq, k), np.iinfo(np.int64).max, dtype=np.int64)
        out_d = np.full((nq, k), np.inf, dtype=np.float64)
        kout = min(k, w)
        blk = max(1, 16384 // max(1, w))
        for s in range(0, nq, blk):
            d = np.full(rows[s:s + blk].shape, np.inf)
            pid = np.full(d.shape, np.iinfo(np.int64).max)
            bi, si = np.nonzero(rows[s:s + blk] >= 0)
            r = rows[s + bi, si]
            cand = self.vecs[r].astype(np.float64)
            qb = q64[s + bi]
            if self.metric == "l2":
                diff = cand - qb
                d[bi, si] = np.sqrt(np.einsum("kd,kd->k", diff, diff))
            elif self.metric == "cosine":
                # f64 row norms of the stored rows, same contract as
                # LocalFlatIndex's re-score
                bn = np.sqrt(np.einsum("kd,kd->k", cand, cand))
                d[bi, si] = _cosine_from_ip(np.einsum("kd,kd->k", cand, qb),
                                            bn, np.linalg.norm(qb, axis=1))
            else:
                d[bi, si] = -np.einsum("kd,kd->k", cand, qb)
            pid[bi, si] = self.ids[r]
            o = np.lexsort((pid, d), axis=1)[:, :kout]
            out_ids[s:s + blk, :kout] = np.take_along_axis(pid, o, axis=1)
            out_d[s:s + blk, :kout] = np.take_along_axis(d, o, axis=1)
        return out_ids, out_d

    def _rank_per_query(self, q, cells, sizes, w: int):
        """Small requests: per query, one gather of its probed cells'
        rows, one f32 GEMV and an argpartition of ``w``."""
        rows = np.full((len(q), w), -1, dtype=np.int64)
        rs = np.full((len(q), w), np.inf, dtype=np.float32)
        ln = sizes[cells].ravel()
        cum = np.concatenate([[0], np.cumsum(ln)])
        # every query's candidate row positions, query after query;
        # query i owns pos[bounds[i]:bounds[i + 1]]
        pos = (np.repeat(self.offsets[cells].ravel() - cum[:-1], ln)
               + np.arange(cum[-1]))
        bounds = cum[::cells.shape[1]]
        for i in range(len(q)):
            r = pos[bounds[i]:bounds[i + 1]]
            sc = self._f32_scores(q[i], r)
            if len(r) > w:
                p = np.argpartition(sc, w - 1)[:w]
                r, sc = r[p], sc[p]
            rows[i, :len(r)] = r
            rs[i, :len(r)] = sc
        return rows, rs

    def _rank_by_cell(self, q, cells, sizes, w: int):
        """Batches: one f32 GEMM per probed cell over the queries that
        probe it into a per-query pool of (present cell, slot) blocks,
        then the per-query top ``w`` of that pool."""
        pc = sizes[cells] > 0
        slot = np.cumsum(pc, axis=1) - 1  # rank among present cells
        ks = int(min(w, sizes.max(initial=0)))
        pw = int(pc.sum(axis=1).max(initial=0)) * ks
        pool_s = np.full((len(q), pw), np.inf, dtype=np.float32)
        pool_i = np.full((len(q), pw), -1, dtype=np.int64)
        qq, jj = np.nonzero(pc)
        cc = cells[qq, jj]
        order = np.argsort(cc, kind="stable")
        qq, cc, base = qq[order], cc[order], slot[qq, jj][order] * ks
        bnds = np.searchsorted(cc, np.arange(self.nlist + 1))
        for c in np.flatnonzero(bnds[1:] > bnds[:-1]):
            s0, s1 = self.offsets[c], self.offsets[c + 1]
            g = slice(bnds[c], bnds[c + 1])
            sc = self._f32_scores(q[qq[g]], slice(s0, s1))
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


def to_local_ivf(ivf_index) -> LocalIvfIndex:
    """Collect an IvfIndex's assignments into a driver-resident cell-
    major server. One Arrow collect, bounded by replica RAM by
    contract (same bound the reference's in-process server has)."""
    import pandas as pd  # noqa: F401  (toPandas dependency, explicit)

    metric = ivf_index.metric
    validate_metric(metric)
    pdf = (
        ivf_index.assignments.select("id", "vec", "list_id")
        .orderBy("list_id", "id")
        .toPandas()
    )
    ids = pdf["id"].to_numpy(dtype=np.int64)
    # RAW rows and as-trained centroids for every metric: cosine probe
    # selection is normalization-invariant (np_distance_matrix
    # normalizes in f64 internally), and the ranking kernel divides by
    # row norms itself — so the probed set and reported distances are
    # bit-identical to the distributed search_ivf on the same index
    vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float32)
    lids = pdf["list_id"].to_numpy(dtype=np.int64)
    nlist = ivf_index.centroids.shape[0]
    offsets = np.searchsorted(lids, np.arange(nlist + 1)).astype(np.int64)
    cents = np.asarray(ivf_index.centroids, dtype=np.float64)
    return LocalIvfIndex(
        ids=ids, vecs=np.ascontiguousarray(vecs), metric=metric,
        centroids=cents, offsets=offsets,
        norms_sq=np.einsum("ij,ij->i", vecs, vecs),
    )


# ---------------------------------------------------------------------
# Quantized serving kernels — the in-memory operating point for the
# compressed index families (PQ/IVFPQ/SQ/IVFSQ), mirroring the reference's
# biggest-index regime (ivfpq.go:57-76) the way LocalFlatIndex mirrors
# flat.go. Contract: reported ADC distances are the SAME f64 values
# the DataFrame paths (search_pq/search_ivfpq/search_sq) produce —
# identical table formula (pq.adc_tables), identical gather-sum,
# identical sqrt — so a sharded deployment of these kernels merges
# exactly. ``refine`` re-ranks the ADC top-(k·refine) against the
# index's own stored rows with the exact-f64 formula LocalFlatIndex
# uses (requires vecs; the FAISS RefineFlat pattern).
# ---------------------------------------------------------------------


def _adc_pool_topk(ids: np.ndarray, d: np.ndarray, k: int,
                   vecs: np.ndarray | None, rows: np.ndarray,
                   q64: np.ndarray, refine: int | None
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Shared tail of the quantized kernels: given per-query candidate
    ROW POSITIONS ``rows`` (nq, c) and their ADC distances ``d``
    (nq, c), return exact (ids, dists) top-k ascending (distance, id).
    With ``refine``, re-score every candidate in exact f64 L2 against
    the stored rows first (so quantization costs recall only, never
    distance accuracy — refine_exact semantics)."""
    if refine is not None:
        cand = vecs[rows].astype(np.float64)  # (nq, c, dim)
        diff = cand - q64[:, None, :]
        d = np.sqrt(np.einsum("bkd,bkd->bk", diff, diff))
    pid = ids[rows]
    order = np.lexsort((pid, d), axis=1)[:, :k]
    return (np.take_along_axis(pid, order, axis=1),
            np.take_along_axis(d, order, axis=1))


@dataclass
class LocalPqIndex:
    """In-memory ADC serving for a PQ index (pq.go:127-179 semantics;
    distance = sqrt(Σ subspace table entries), bit-equal to
    search_pq's)."""

    ids: np.ndarray        # (n,) int64
    codes: np.ndarray      # (n, M) uint16
    codebooks: np.ndarray  # (M, ksub, dsub) f64
    vecs: np.ndarray | None = None      # (n, dim) f32 — refine only
    metric: str = "l2"

    def search(self, qmat: np.ndarray, k: int = 10,
               refine: int | None = None,
               tile: int = 262144) -> tuple[np.ndarray, np.ndarray]:
        from gofaiss_spark.operators.pq import adc_accumulate, adc_tables

        if refine is not None:
            if self.vecs is None:
                raise ValueError("refine requires stored vectors "
                                 "(save/serve with vectors=)")
            if self.metric != "l2":
                raise ValueError(
                    "refine re-ranks in exact L2; build the index with "
                    f"metric='l2' (got {self.metric!r})")
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        nq, n = q64.shape[0], len(self.ids)
        k = min(k, n) if k > 0 else n
        kc = min(n, (k * refine if refine else k) + 16)
        tables = adc_tables(self.codebooks, q64)  # (q, M, ksub)
        best_d = None
        best_pos = None
        for t0 in range(0, n, tile):
            te = min(t0 + tile, n)
            d2 = adc_accumulate(tables, self.codes[t0:te])
            pos = np.broadcast_to(np.arange(t0, te), d2.shape)
            if best_d is not None:
                d2 = np.concatenate([best_d, d2], axis=1)
                pos = np.concatenate([best_pos, pos], axis=1)
            kk = min(kc, d2.shape[1])
            sel = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            best_d = np.take_along_axis(d2, sel, axis=1)
            best_pos = np.take_along_axis(pos, sel, axis=1)
        return _adc_pool_topk(self.ids, np.sqrt(best_d), k, self.vecs,
                              best_pos, q64, refine)


@dataclass
class LocalIvfPqIndex:
    """In-memory nprobe-pruned residual-ADC serving (ivfpq.go:222-284
    semantics; fixes the reference façade bug the distributed
    search_ivfpq fixes — tables are per-(query, list) residuals)."""

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
        from gofaiss_spark.functions.distance import np_distance_matrix
        from gofaiss_spark.operators.pq import adc_accumulate, adc_tables

        if refine is not None:
            if self.vecs is None:
                raise ValueError("refine requires stored vectors "
                                 "(save/serve with vectors=)")
            if self.metric != "l2":
                raise ValueError(
                    "refine re-ranks in exact L2; build the index with "
                    f"metric='l2' (got {self.metric!r})")
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        nq, nlist = q64.shape[0], self.nlist
        if nprobe <= 0 or nprobe > nlist:
            nprobe = nlist
        n = len(self.ids)
        k = min(k, n) if k > 0 else n
        kc = (k * refine if refine else k) + 16
        # probe selection: same f64 formula as probe_lists
        dm = np_distance_matrix(self.centroids, q64, self.metric)
        if nprobe < nlist:
            cells = np.argpartition(dm, nprobe - 1, axis=0)[:nprobe, :].T
        else:
            cells = np.broadcast_to(np.arange(nlist), (nq, nlist))
        # scan-once probe map: group queries by probed cell so each
        # cell's residual tables are built exactly once (the
        # search_ivfpq kernel shape)
        qq = np.repeat(np.arange(nq), cells.shape[1])
        cc = cells.ravel()
        keep = self.offsets[cc + 1] > self.offsets[cc]
        qq, cc = qq[keep], cc[keep]
        order = np.argsort(cc, kind="stable")
        qq, cc = qq[order], cc[order]
        bnds = np.searchsorted(cc, np.arange(nlist + 1))
        pool_d: list[list[np.ndarray]] = [[] for _ in range(nq)]
        pool_p: list[list[np.ndarray]] = [[] for _ in range(nq)]
        for c in np.flatnonzero(bnds[1:] > bnds[:-1]):
            s0, s1 = self.offsets[c], self.offsets[c + 1]
            qidx = qq[bnds[c]:bnds[c + 1]]
            resid = q64[qidx] - self.centroids[int(c)][None, :]
            tabs = adc_tables(self.codebooks, resid)  # (g, M, ksub)
            d2 = adc_accumulate(tabs, self.codes[s0:s1])
            b = d2.shape[1]
            kk = min(kc, b)
            if kk < b:
                sel = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                dsel = np.take_along_axis(d2, sel, axis=1)
            else:
                sel = np.broadcast_to(np.arange(b), d2.shape)
                dsel = d2
            for gi, qi in enumerate(qidx):
                pool_d[qi].append(dsel[gi])
                pool_p[qi].append(sel[gi].astype(np.int64) + s0)
        out_ids = np.empty((nq, k), dtype=np.int64)
        out_d = np.empty((nq, k), dtype=np.float64)
        for qi in range(nq):
            if pool_d[qi]:
                dq = np.concatenate(pool_d[qi])
                pq_ = np.concatenate(pool_p[qi])
            else:
                dq = np.empty(0, dtype=np.float64)
                pq_ = np.empty(0, dtype=np.int64)
            kk = min(kc, len(dq))
            if kk < len(dq):
                sel = np.argpartition(dq, kk - 1)[:kk]
                dq, pq_ = dq[sel], pq_[sel]
            take = min(k, len(dq))
            i1, d1 = _adc_pool_topk(
                self.ids, np.sqrt(dq)[None, :], take, self.vecs,
                pq_[None, :], q64[qi][None, :], refine)
            out_ids[qi, :take] = i1[0]
            out_d[qi, :take] = d1[0]
            out_ids[qi, take:] = np.iinfo(np.int64).max
            out_d[qi, take:] = np.inf
        return out_ids, out_d


@dataclass
class LocalSqIndex:
    """In-memory scalar-quantizer serving: decode (vmin + code·step)
    and exact f64 L2 on the decoded points — identical distance
    formula to search_sq (norms identity, clamp at 0, sqrt)."""

    ids: np.ndarray    # (n,) int64
    codes: np.ndarray  # (n, dim) uint8
    vmin: np.ndarray   # (dim,) f64
    step: np.ndarray   # (dim,) f64
    vecs: np.ndarray | None = None  # (n, dim) f32 — refine only
    metric: str = "l2"

    def search(self, qmat: np.ndarray, k: int = 10,
               refine: int | None = None,
               tile: int = 131072) -> tuple[np.ndarray, np.ndarray]:
        if refine is not None:
            if self.vecs is None:
                raise ValueError("refine requires stored vectors "
                                 "(save/serve with vectors=)")
            if self.metric != "l2":
                raise ValueError(
                    "refine re-ranks in exact L2; build the index with "
                    f"metric='l2' (got {self.metric!r})")
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        nq, n = q64.shape[0], len(self.ids)
        k = min(k, n) if k > 0 else n
        kc = min(n, (k * refine if refine else k) + 16)
        qsq = np.einsum("ij,ij->i", q64, q64)
        best_d = None
        best_pos = None
        for t0 in range(0, n, tile):
            te = min(t0 + tile, n)
            x = self.vmin + self.codes[t0:te].astype(np.float64) * self.step
            xsq = np.einsum("ij,ij->i", x, x)
            d2 = (xsq[None, :] + qsq[:, None] - 2.0 * (q64 @ x.T))
            np.maximum(d2, 0.0, out=d2)
            pos = np.broadcast_to(np.arange(t0, te), d2.shape)
            if best_d is not None:
                d2 = np.concatenate([best_d, d2], axis=1)
                pos = np.concatenate([best_pos, pos], axis=1)
            kk = min(kc, d2.shape[1])
            sel = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            best_d = np.take_along_axis(d2, sel, axis=1)
            best_pos = np.take_along_axis(pos, sel, axis=1)
        # per-pair re-score of the survivors: the GEMM above is only
        # the SELECTOR — its accumulation order depends on tile/shard
        # shape (±1e-13), so sharded and single-node runs would
        # disagree in the last float digits. The diff-einsum below is
        # batch-shape-independent, making reported distances identical
        # across any sharding of the same rows (the LocalFlatIndex
        # re-score contract).
        xc = (self.vmin
              + self.codes[best_pos].astype(np.float64) * self.step)
        diff = xc - q64[:, None, :]
        d = np.sqrt(np.einsum("bkd,bkd->bk", diff, diff))
        return _adc_pool_topk(self.ids, d, k, self.vecs,
                              best_pos, q64, refine)


@dataclass
class LocalIvfSqIndex:
    """In-memory nprobe-pruned scalar-quantized serving (IVFSQ:
    ivfsq.go-style residual SQ8 under an IVF coarse quantizer;
    distributed twin is search_ivfsq, operators/ivfsq.py:166).

    Why this kind exists next to LocalIvfPqIndex: the per-row scan
    cost of SQ decode is a dense f32 GEMM (BLAS) instead of PQ's
    table GATHER — measured ~4-6× more rows/s at 10M scale — while
    still compressing 4× (dim bytes vs dim·4). It is the mid-Pareto
    quantized serving arm: near-exact in-cell ordering (8 bits per
    DIMENSION vs PQ's 8 bits per 8-dim subspace) at GEMM speed.

    Distance contract: the f32 decode-GEMM is only the SELECTOR; the
    kc survivors are re-scored per-pair in exact f64 over the decoded
    residuals (batch-shape-independent diff-einsum), so reported
    distances are identical across any sharding of the same rows —
    the LocalSqIndex / LocalFlatIndex re-score contract."""

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
        from gofaiss_spark.functions.distance import np_distance_matrix

        if refine is not None:
            if self.vecs is None:
                raise ValueError("refine requires stored vectors "
                                 "(save/serve with vectors=)")
            if self.metric != "l2":
                raise ValueError(
                    "refine re-ranks in exact L2; build the index with "
                    f"metric='l2' (got {self.metric!r})")
        q64 = np.ascontiguousarray(qmat, dtype=np.float64)
        nq, nlist = q64.shape[0], self.nlist
        if nprobe <= 0 or nprobe > nlist:
            nprobe = nlist
        n = len(self.ids)
        k = min(k, n) if k > 0 else n
        kc = (k * refine if refine else k) + 16
        # probe selection: same f64 formula as probe_lists
        dm = np_distance_matrix(self.centroids, q64, self.metric)
        if nprobe < nlist:
            cells = np.argpartition(dm, nprobe - 1, axis=0)[:nprobe, :].T
        else:
            cells = np.broadcast_to(np.arange(nlist), (nq, nlist))
        # scan-once probe map (the LocalIvfPqIndex shape): group
        # queries by probed cell so each cell is decoded exactly once
        qq = np.repeat(np.arange(nq), cells.shape[1])
        cc = cells.ravel()
        keep = self.offsets[cc + 1] > self.offsets[cc]
        qq, cc = qq[keep], cc[keep]
        order = np.argsort(cc, kind="stable")
        qq, cc = qq[order], cc[order]
        bnds = np.searchsorted(cc, np.arange(nlist + 1))
        vmin32 = self.vmin.astype(np.float32)
        step32 = self.step.astype(np.float32)
        pool_d: list[list[np.ndarray]] = [[] for _ in range(nq)]
        pool_p: list[list[np.ndarray]] = [[] for _ in range(nq)]
        for c in np.flatnonzero(bnds[1:] > bnds[:-1]):
            s0, s1 = self.offsets[c], self.offsets[c + 1]
            qidx = qq[bnds[c]:bnds[c + 1]]
            rq = (q64[qidx] - self.centroids[int(c)][None, :]).astype(
                np.float32)  # (g, dim) residual queries
            # f32 decode + BLAS GEMM: the selector hot loop — one
            # dense multiply per (query, row), no gather
            x = vmin32 + self.codes[s0:s1].astype(np.float32) * step32
            sc = rq @ x.T  # (g, b)
            sc *= -2.0
            sc += np.einsum("ij,ij->i", x, x)[None, :]
            sc += np.einsum("ij,ij->i", rq, rq)[:, None]
            np.maximum(sc, 0.0, out=sc)
            b = sc.shape[1]
            kk = min(kc, b)
            if kk < b:
                sel = np.argpartition(sc, kk - 1, axis=1)[:, :kk]
                dsel = np.take_along_axis(sc, sel, axis=1)
            else:
                sel = np.broadcast_to(np.arange(b), sc.shape)
                dsel = sc
            for gi, qi in enumerate(qidx):
                pool_d[qi].append(dsel[gi].astype(np.float64))
                pool_p[qi].append(sel[gi].astype(np.int64) + s0)
        cell_of = None
        out_ids = np.empty((nq, k), dtype=np.int64)
        out_d = np.empty((nq, k), dtype=np.float64)
        for qi in range(nq):
            if pool_d[qi]:
                dq = np.concatenate(pool_d[qi])
                pq_ = np.concatenate(pool_p[qi])
            else:
                dq = np.empty(0, dtype=np.float64)
                pq_ = np.empty(0, dtype=np.int64)
            kk = min(kc, len(dq))
            if kk < len(dq):
                sel = np.argpartition(dq, kk - 1)[:kk]
                pq_ = pq_[sel]
            take = min(k, len(pq_))
            # exact f64 per-pair re-score of the survivors in residual
            # space: d(q, c + decode(code)) = ||decode(code) − (q−c)||
            if len(pq_):
                if cell_of is None:
                    cell_of = np.searchsorted(
                        self.offsets, np.arange(n), side="right") - 1
                xc = self.vmin + self.codes[pq_].astype(
                    np.float64) * self.step
                rqp = q64[qi][None, :] - self.centroids[cell_of[pq_]]
                diff = xc - rqp
                d = np.sqrt(np.einsum("kd,kd->k", diff, diff))
            else:
                d = np.empty(0, dtype=np.float64)
            i1, d1 = _adc_pool_topk(
                self.ids, d[None, :], take, self.vecs,
                pq_[None, :], q64[qi][None, :], refine)
            out_ids[qi, :take] = i1[0]
            out_d[qi, :take] = d1[0]
            out_ids[qi, take:] = np.iinfo(np.int64).max
            out_d[qi, take:] = np.inf
        return out_ids, out_d


def to_local_pq(pq_index, vectors=None) -> LocalPqIndex:
    """Collect a PqIndex's codes into a driver-resident ADC server.
    ``vectors``: optional (id, vec) DataFrame enabling refine."""
    pdf = pq_index.codes.select("id", "code").orderBy("id").toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    codes = (np.stack(pdf["code"].to_numpy()).astype(np.uint16)
             if len(ids) else np.empty((0, pq_index.m), dtype=np.uint16))
    vecs = _aligned_vecs(vectors, ids)
    return LocalPqIndex(ids=ids, codes=np.ascontiguousarray(codes),
                        codebooks=np.asarray(pq_index.codebooks,
                                             dtype=np.float64),
                        vecs=vecs)


def to_local_ivfpq(ivfpq_index, vectors=None) -> LocalIvfPqIndex:
    """Collect an IvfPqIndex into a cell-major driver-resident ADC
    server (CSR layout, same as to_local_ivf)."""
    pdf = (ivfpq_index.codes.select("id", "code", "list_id")
           .orderBy("list_id", "id").toPandas())
    ids = pdf["id"].to_numpy(dtype=np.int64)
    codes = (np.stack(pdf["code"].to_numpy()).astype(np.uint16)
             if len(ids) else np.empty((0, ivfpq_index.m), dtype=np.uint16))
    lids = pdf["list_id"].to_numpy(dtype=np.int64)
    nlist = ivfpq_index.centroids.shape[0]
    offsets = np.searchsorted(lids, np.arange(nlist + 1)).astype(np.int64)
    vecs = _aligned_vecs(vectors, ids)
    return LocalIvfPqIndex(
        ids=ids, codes=np.ascontiguousarray(codes),
        codebooks=np.asarray(ivfpq_index.codebooks, dtype=np.float64),
        centroids=np.asarray(ivfpq_index.centroids, dtype=np.float64),
        offsets=offsets, vecs=vecs, metric=ivfpq_index.metric)


def to_local_sq(sq_index, vectors=None) -> LocalSqIndex:
    pdf = sq_index.codes.select("id", "code").orderBy("id").toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    codes = (np.stack(pdf["code"].to_numpy()).astype(np.uint8)
             if len(ids) else np.empty((0, sq_index.dim), dtype=np.uint8))
    vecs = _aligned_vecs(vectors, ids)
    return LocalSqIndex(ids=ids, codes=np.ascontiguousarray(codes),
                        vmin=np.asarray(sq_index.vmin, dtype=np.float64),
                        step=np.asarray(sq_index.step, dtype=np.float64),
                        vecs=vecs)


def to_local_ivfsq(ivfsq_index, vectors=None) -> LocalIvfSqIndex:
    """Collect an IvfSqIndex into a cell-major driver-resident
    decode-GEMM server (CSR layout, same as to_local_ivfpq)."""
    pdf = (ivfsq_index.codes.select("id", "code", "list_id")
           .orderBy("list_id", "id").toPandas())
    ids = pdf["id"].to_numpy(dtype=np.int64)
    codes = (np.stack(pdf["code"].to_numpy()).astype(np.uint8)
             if len(ids) else np.empty((0, ivfsq_index.dim),
                                       dtype=np.uint8))
    lids = pdf["list_id"].to_numpy(dtype=np.int64)
    nlist = ivfsq_index.centroids.shape[0]
    offsets = np.searchsorted(lids, np.arange(nlist + 1)).astype(np.int64)
    vecs = _aligned_vecs(vectors, ids)
    return LocalIvfSqIndex(
        ids=ids, codes=np.ascontiguousarray(codes),
        vmin=np.asarray(ivfsq_index.vmin, dtype=np.float64),
        step=np.asarray(ivfsq_index.step, dtype=np.float64),
        centroids=np.asarray(ivfsq_index.centroids, dtype=np.float64),
        offsets=offsets, vecs=vecs, metric=ivfsq_index.metric)


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
# Process-parallel serving pool — the GIL-free scaling tier.
#
# The in-process kernels above stop scaling past ~4-16 threads: only
# the BLAS GEMMs drop the GIL, and the selection/scatter numpy work
# serializes (measured: 1 thread 4.3s, best threaded ~2.0s on the
# 100k/nprobe=50/10k-query workload — a 2.1× ceiling on 32 cores).
# LocalServerPool shards a query batch across OS processes instead:
# the index arrays are published ONCE into POSIX shared memory, W
# spawned workers attach zero-copy views, and each worker runs the
# identical kernel on a contiguous query slice with a small private
# thread budget (W × T sized to the core count). Per-query results
# are independent of batch composition, so the concatenated output is
# bit-identical to a single-process search (gated in
# tests/test_local_serve.py).
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

        from gofaiss_spark.functions.distance import np_distance_matrix
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
        if np_ <= 0 or np_ > G:
            np_ = G
        # routing: raw f32 queries against the f64 centroid table —
        # the same inputs search_hnsw_routed feeds np_distance_matrix,
        # so the probed SET is identical
        if np_ < G:
            dmat = np_distance_matrix(self.centroids, q, self.metric)
            sel = np.argpartition(dmat, np_ - 1, axis=0)[:np_, :]
        else:
            sel = np.broadcast_to(np.arange(G)[:, None], (G, nq))
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
    index arrays (zero-copy) and cap this worker's thread fan-out."""
    global _WORKER_INDEX, _MAX_CHUNKS
    import os as _os

    # BLAS thread cap. PRIMARY mechanism: env inheritance during the
    # spawn window (LocalServerPool.__init__ sets the vars before
    # spawning) — numpy/BLAS read them at import, which in a spawned
    # worker happens after this env is inherited. The env set below
    # is belt-and-braces for exec'd children; it CANNOT retune the
    # already-imported BLAS in this process — only threadpoolctl can,
    # so a worker respawned outside the spawn window is capped only
    # when threadpoolctl is importable (warn otherwise: the pool
    # still returns correct results, just oversubscribed).
    wt = str(int(spec["worker_threads"]))
    for kk in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
               "MKL_NUM_THREADS"):
        _os.environ[kk] = wt
    try:
        from threadpoolctl import threadpool_limits

        threadpool_limits(limits=int(spec["worker_threads"]))
    except ImportError:
        # missing threadpoolctl is advisory-only and the PARENT warns
        # once per pool (LocalServerPool.__init__); warning from every
        # spawned worker printed the same line W times per pool (160
        # repeats in one bench run — log spam trains operators to
        # ignore warnings)
        pass
    except Exception as exc:
        # threadpoolctl present but erroring is NOT covered by the
        # parent's ImportError warning — stay correct but signal the
        # unbounded-BLAS oversubscription once per worker
        import warnings

        warnings.warn(f"threadpool_limits failed in pool worker: {exc!r}; "
                      "BLAS threads uncapped (results unaffected)")
    arrays = {}
    for key, meta in spec["arrays"].items():
        shm, arr = _shm_attach(meta)
        _WORKER_SHM.append(shm)  # keep alive for the process lifetime
        arrays[key] = arr
    _MAX_CHUNKS = int(spec["worker_threads"])
    kind, metric = spec["kind"], spec["metric"]
    if kind == "ivf":
        _WORKER_INDEX = LocalIvfIndex(
            ids=arrays["ids"], vecs=arrays["vecs"], metric=metric,
            centroids=arrays["centroids"], offsets=arrays["offsets"],
            norms_sq=arrays["norms_sq"],
        )
    elif kind == "ivfpq":
        _WORKER_INDEX = LocalIvfPqIndex(
            ids=arrays["ids"], codes=arrays["codes"],
            codebooks=arrays["codebooks"], centroids=arrays["centroids"],
            offsets=arrays["offsets"], vecs=arrays.get("vecs"),
            metric=metric,
        )
    elif kind == "pq":
        _WORKER_INDEX = LocalPqIndex(
            ids=arrays["ids"], codes=arrays["codes"],
            codebooks=arrays["codebooks"], vecs=arrays.get("vecs"),
            metric=metric,
        )
    elif kind == "sq":
        _WORKER_INDEX = LocalSqIndex(
            ids=arrays["ids"], codes=arrays["codes"],
            vmin=arrays["vmin"], step=arrays["step"],
            vecs=arrays.get("vecs"), metric=metric,
        )
    elif kind == "ivfsq":
        _WORKER_INDEX = LocalIvfSqIndex(
            ids=arrays["ids"], codes=arrays["codes"],
            vmin=arrays["vmin"], step=arrays["step"],
            centroids=arrays["centroids"], offsets=arrays["offsets"],
            vecs=arrays.get("vecs"), metric=metric,
        )
    elif kind == "hnsw_routed":
        graphs, cents = _unpack_graphs(arrays)
        _WORKER_INDEX = LocalHnswRoutedIndex(
            graphs=graphs, centroids=cents, metric=metric,
            ef_search=spec["hnsw_opts"]["ef_search"],
            default_nprobe=spec["hnsw_opts"]["default_nprobe"],
        )
    else:
        _WORKER_INDEX = LocalFlatIndex(
            ids=arrays["ids"], vecs=arrays["vecs"], metric=metric,
            norms_sq=arrays["norms_sq"],
        )


def _mp_ping(_: int) -> bool:
    return _WORKER_INDEX is not None


def _mp_search(q: np.ndarray, k: int, nprobe, refine=None):
    if isinstance(_WORKER_INDEX, (LocalIvfIndex, LocalHnswRoutedIndex)):
        return _WORKER_INDEX.search(q, k=k, nprobe=nprobe)
    if isinstance(_WORKER_INDEX, (LocalIvfPqIndex, LocalIvfSqIndex)):
        return _WORKER_INDEX.search(q, k=k, nprobe=nprobe, refine=refine)
    if isinstance(_WORKER_INDEX, (LocalPqIndex, LocalSqIndex)):
        return _WORKER_INDEX.search(q, k=k, refine=refine)
    return _WORKER_INDEX.search(q, k=k)


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
    """Serve a LocalFlatIndex / LocalIvfIndex from W worker processes
    sharing one in-memory copy of the index.

    ``workers × worker_threads`` should be sized to the core count
    (default: W = cores / worker_threads, capped at 16). The spawn
    context is used (fork-safety with loaded BLAS); workers inherit
    ``OPENBLAS/OMP/MKL_NUM_THREADS = worker_threads`` so per-process
    BLAS pools don't oversubscribe.

    ``search`` splits the query batch into contiguous slices (2 per
    worker for balance), scatters them, and re-concatenates — output
    is bit-identical to ``index.search`` on the whole batch. Use as a
    context manager or call ``close()`` to free the shared memory.
    """

    def __init__(self, index, workers: int | None = None,
                 worker_threads: int = 1):
        import multiprocessing as mp
        import os as _os
        from concurrent.futures import ProcessPoolExecutor

        # measured @100k/nprobe=50/10k-queries: 32 workers × 1 thread
        # beats 16×2 (25.7k vs 20.9k QPS) and 8×4 (12.5k) — processes
        # sidestep the GIL entirely, so give every core its own
        cpu = _os.cpu_count() or 8
        self.workers = workers or max(1, min(32, cpu // max(1, worker_threads)))
        self._shms = []
        self._exe = None
        try:
            import threadpoolctl  # noqa: F401
        except ImportError:
            import warnings

            # once per pool, from the parent (the workers stay silent:
            # W identical warnings per pool is log spam)
            warnings.warn(
                "threadpoolctl not installed: a LocalServerPool worker "
                "respawned after the spawn window keeps its inherited "
                "BLAS thread count (results unaffected; may "
                "oversubscribe cores)",
                RuntimeWarning,
            )
        if isinstance(index, LocalIvfIndex):
            kind, named = "ivf", {
                "ids": index.ids, "vecs": index.vecs,
                "norms_sq": index.norms_sq, "centroids": index.centroids,
                "offsets": index.offsets,
            }
        elif isinstance(index, LocalIvfPqIndex):
            kind, named = "ivfpq", {
                "ids": index.ids, "codes": index.codes,
                "codebooks": index.codebooks,
                "centroids": index.centroids, "offsets": index.offsets,
            }
        elif isinstance(index, LocalPqIndex):
            kind, named = "pq", {
                "ids": index.ids, "codes": index.codes,
                "codebooks": index.codebooks,
            }
        elif isinstance(index, LocalSqIndex):
            kind, named = "sq", {
                "ids": index.ids, "codes": index.codes,
                "vmin": index.vmin, "step": index.step,
            }
        elif isinstance(index, LocalIvfSqIndex):
            kind, named = "ivfsq", {
                "ids": index.ids, "codes": index.codes,
                "vmin": index.vmin, "step": index.step,
                "centroids": index.centroids, "offsets": index.offsets,
            }
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
        elif isinstance(index, LocalFlatIndex):
            kind, named = "flat", {
                "ids": index.ids, "vecs": index.vecs,
                "norms_sq": index.norms_sq,
            }
        else:
            raise TypeError(
                f"LocalServerPool serves LocalFlatIndex/LocalIvfIndex/"
                f"LocalPqIndex/LocalIvfPqIndex/LocalSqIndex/"
                f"LocalIvfSqIndex/LocalHnswRoutedIndex, "
                f"got {type(index).__name__}"
            )
        # refine needs the stored rows in every worker too
        if getattr(index, "vecs", None) is not None and kind in (
                "pq", "ivfpq", "sq", "ivfsq"):
            named["vecs"] = index.vecs
        self.kind = kind
        spec_arrays = {}
        for key, arr in named.items():
            shm, meta = _shm_export(arr)
            self._shms.append(shm)
            spec_arrays[key] = meta
        spec = {"kind": kind, "metric": index.metric,
                "arrays": spec_arrays, "worker_threads": worker_threads}
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
            self._exe = ProcessPoolExecutor(
                max_workers=self.workers,
                mp_context=mp.get_context("spawn"),
                initializer=_mp_worker_init,
                initargs=(spec,),
            )
            # spawn + verify workers now (first-search latency belongs
            # to construction, not serving). Explicit check — assert
            # would vanish under ``python -O``. Eager spawn also means
            # every worker imports numpy INSIDE the env window above,
            # which is the primary BLAS-cap mechanism (threadpoolctl,
            # when available, re-caps late-respawned workers too —
            # see _mp_worker_init).
            if not all(self._exe.map(_mp_ping, range(self.workers))):
                raise RuntimeError(
                    "LocalServerPool: a worker failed to attach the "
                    "shared-memory index during eager spawn"
                )
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
        nchunks = max(1, min(self.workers * 2, nq))
        edges = np.linspace(0, nq, nchunks + 1, dtype=np.int64)
        futs = [
            self._exe.submit(_mp_search, q[s:e], k, nprobe, refine)
            for s, e in zip(edges[:-1], edges[1:]) if e > s
        ]
        parts = [f.result() for f in futs]
        return (np.vstack([p[0] for p in parts]),
                np.vstack([p[1] for p in parts]))

    def _search_hnsw_cells(
        self, q: np.ndarray, k: int, nprobe,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Cell-major scatter for the routed-HNSW kind: route every
        query in the parent (one centroid pass — the same inputs and
        formula as ``LocalHnswRoutedIndex.search``), group the
        (cell, query) pairs by cell, balance cell groups across
        ``workers×2`` tasks by routed-query load, and merge the
        per-cell top-k exactly like the in-process searcher (sort by
        (query, distance, id), head k). Queries ride to workers via
        one per-call shm segment; tasks carry only cell ids + query
        row indices. Output is bit-identical to ``index.search`` on
        the whole batch — the graph kernel is batch-composition
        independent and the merge is the same total order."""
        from gofaiss_spark.functions.distance import np_distance_matrix

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
        if np_ <= 0 or np_ > G:
            np_ = G
        if np_ < G:
            dmat = np_distance_matrix(hr["centroids"], q, hr["metric"])
            sel = np.argpartition(dmat, np_ - 1, axis=0)[:np_, :]
        else:
            sel = np.broadcast_to(np.arange(G)[:, None], (G, nq))
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
        ntasks = max(1, min(self.workers * 2, len(items)))
        items.sort(key=lambda t: -len(t[1]))  # big cells first
        buckets: list[list] = [[] for _ in range(ntasks)]
        loads = [0] * ntasks
        for it in items:  # greedy least-loaded balance
            b = loads.index(min(loads))
            buckets[b].append(it)
            loads[b] += len(it[1])
        shm, qmeta = _shm_export(q)
        try:
            futs = [
                self._exe.submit(
                    _mp_search_hnsw_cells, qmeta, b, k_eff, hr["ef"])
                for b in buckets if b
            ]
            parts = [f.result() for f in futs]
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
        if self._exe is not None:
            self._exe.shutdown(wait=True)
            self._exe = None
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
