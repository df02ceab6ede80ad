"""Unified search API — the ``Searcher`` façade.

Reference: pkg/search/search.go. ``build_index`` plays Builder
(search.go:211-319, defaults there: hnsw/dim 128/l2 — ours defaults
to the LSH role-player for "hnsw"), ``search`` plays
Search/BatchSearch dispatch (search.go:56-112; batch is native),
``SearchOptions{K, Nprobe, EfSearch}`` becomes the ``params`` dict
(defaults K=10, nprobe=10 — search.go:32-39). The reference façade's
ivfpq arm returns empty results (search.go:72-80, a bug); ours
dispatches correctly. ``range_search`` is exact instead of the
reference's oversample-then-filter approximation (search.go:165-189).
"""

from __future__ import annotations

import atexit
import os
import threading
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gofaiss_spark.operators.flat import FlatIndex, build_flat
from gofaiss_spark.operators.ivf import build_ivf
from gofaiss_spark.operators.ivfpq import build_ivfpq
from gofaiss_spark.operators.ivfsq import build_ivfsq
from gofaiss_spark.operators.kinds import kind_of
from gofaiss_spark.operators.lsh import LshIndex, build_lsh, search_lsh
from gofaiss_spark.operators.pq import build_pq
from gofaiss_spark.operators.sq import build_sq
from gofaiss_spark.operators.topk import collect_queries
from gofaiss_spark.operators.topk import range_search as _range_search

INDEX_TYPES = (
    "flat", "ivf", "pq", "sq", "ivfpq", "ivfsq", "opq", "lsh", "hnsw",
    "hnsw_local", "hnsw_sharded", "hnsw_routed",
)

DEFAULT_K = 10
DEFAULT_NPROBE = 10


def build_index(
    vectors: DataFrame,
    index_type: str = "flat",
    metric: str = "l2",
    params: dict | None = None,
    vec_col: str = "vec",
    id_col: str = "id",
):
    """Builder parity (search.go:211-319). ``index_type="hnsw"`` maps
    to the LSH ANN role-player (SURVEY.md §7 phase C)."""
    params = dict(params or {})
    if index_type == "flat":
        return build_flat(vectors, metric=metric, vec_col=vec_col, id_col=id_col)
    if index_type == "ivf":
        return build_ivf(
            vectors,
            nlist=params.get("nlist"),
            metric=metric,
            seed=params.get("seed", 42),
            train_fraction=params.get("train_fraction"),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type == "pq":
        return build_pq(
            vectors,
            m=params.get("m", 8),
            nbits=params.get("nbits", 8),
            train_fraction=params.get("train_fraction"),
            seed=params.get("seed", 42),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type == "sq":
        return build_sq(vectors, metric=metric, vec_col=vec_col, id_col=id_col)
    if index_type == "ivfsq":
        return build_ivfsq(
            vectors,
            nlist=params.get("nlist"),
            metric=metric,
            seed=params.get("seed", 42),
            train_fraction=params.get("train_fraction"),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type == "ivfpq":
        return build_ivfpq(
            vectors,
            nlist=params.get("nlist"),
            m=params.get("m"),
            nbits=params.get("nbits", 8),
            metric=metric,
            seed=params.get("seed", 42),
            train_fraction=params.get("train_fraction"),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type == "hnsw_local":
        # the small-index fidelity path (SURVEY.md §7: graph build is
        # sequential; distributed ANN is "hnsw" → LSH below)
        from gofaiss_spark.operators.hnsw import build_hnsw

        return build_hnsw(
            vectors,
            m=params.get("m", 16),
            ef_construction=params.get("ef_construction", 200),
            metric=metric,
            seed=params.get("seed", 42),
            max_vectors=params.get("max_vectors", 1_000_000),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type == "hnsw_sharded":
        # the distributed HNSW (FAISS IndexShards pattern): S
        # independent graphs built in parallel executor-side
        from gofaiss_spark.operators.hnsw import build_hnsw_sharded

        return build_hnsw_sharded(
            vectors,
            num_shards=params.get("num_shards"),
            m=params.get("m", 16),
            ef_construction=params.get("ef_construction", 200),
            metric=metric,
            seed=params.get("seed", 42),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type == "hnsw_routed":
        # cluster-routed shards (FAISS IVF+HNSW composition): queries
        # probe only nprobe of nlist k-means cells
        from gofaiss_spark.operators.hnsw import build_hnsw_routed

        return build_hnsw_routed(
            vectors,
            nlist=params.get("nlist"),
            nprobe_default=params.get("nprobe", 10),
            m=params.get("m", 16),
            ef_construction=params.get("ef_construction", 200),
            metric=metric,
            seed=params.get("seed", 42),
            train_fraction=params.get("train_fraction"),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type == "opq":
        from gofaiss_spark.operators.opq import build_opq

        return build_opq(
            vectors,
            m=params.get("m", 8),
            nbits=params.get("nbits", 8),
            n_iter=params.get("n_iter", 10),
            train_fraction=params.get("train_fraction"),
            seed=params.get("seed", 42),
            rotate=params.get("rotate", True),
            vec_col=vec_col,
            id_col=id_col,
        )
    if index_type in ("lsh", "hnsw"):
        return build_lsh(
            vectors,
            metric=metric,
            bucket_length=params.get("bucket_length"),
            num_hash_tables=params.get("num_hash_tables", 6),
            seed=params.get("seed", 42),
            vec_col=vec_col,
            id_col=id_col,
        )
    raise ValueError(f"unknown index type {index_type!r} (expected one of {INDEX_TYPES})")


def cache_index(index) -> None:
    """Materialize + cache the index's resident DataFrames — the
    serving-mode contract (an in-memory reference index is always
    'cached'; on a cluster, persist-to-parquet + load plays this
    role). No-op for driver-side indexes."""
    for attr in ("vectors", "assignments", "codes", "buckets"):
        df = getattr(index, attr, None)
        if df is not None and hasattr(df, "cache"):
            df.cache().count()


# ---------------------------------------------------------------------------
# Serving-tier dispatch — the one-call façade (search.go:42-84): the
# reference's Searcher hides index mechanics behind Search(); ours
# additionally hides the EXECUTION TIER. Three tiers exist (SCALE.md):
#
#   local        driver-colocated replica (operators/local_serve.py) —
#                the single-node serving regime. ``serve()`` spawns the
#                replica's LocalServerPool of spawn workers, and every
#                request of the served handle runs there (GIL-free),
#                split into tasks of at least POOL_TASK_QUERIES (16)
#                queries, at most workers × 2: a small request is one
#                task, so concurrent callers each take a worker. The
#                caller's own thread sends each task down an idle
#                worker's pipe and reads the answer back; there is no
#                broker thread. A failed pool (a lost worker) raises
#                on every call, and _drop_pool retires it.
#   sharded      executor-colocated shm shards (operators/
#                shard_serve.py) over a partitioned artifact.
#   distributed  the Spark plan (scan per query batch) — the only tier
#                with no resident-RAM bound; also the build/offline
#                regime.
#
# ``tier="auto"`` (the DEFAULT for api.search) routes by artifact
# size: an index whose localized footprint fits LOCAL_TIER_CAP_MB
# serves from a driver replica, a ShardedSearcher handle — or a saved
# shard-partitioned artifact path — serves from its executor/host-
# colocated shards, anything else runs the distributed plan. Inside
# the local tier a request runs in process only when no pool is
# resident and it is a one-shot call below POOL_MIN_BATCH (a call at
# or above it spawns the pool), when it overrides ef_search (the pool
# bakes ef at spawn), or when the pool cannot spawn or fails (counted
# in POOL_FALLBACKS, with a warning). Localization
# happens ONCE per index object (cached), so the first call pays the
# collect and steady-state serving runs at replica speed. All tiers
# return bit-identical results by construction (the local kernels are
# margin-guarded f32-rank/f64-re-score; see LocalFlatIndex.search).

LOCAL_TIER_CAP_MB = float(os.environ.get("GOFAISS_LOCAL_TIER_CAP_MB", "4096"))
POOL_MIN_BATCH = int(os.environ.get("GOFAISS_POOL_MIN_BATCH", "512"))
TIERS = ("auto", "local", "sharded", "distributed")

_POOLS: list = []  # every pool ever built, closed at interpreter exit


@atexit.register
def _close_pools() -> None:
    for p in _POOLS:
        try:
            p.close()
        except Exception:
            pass
    _POOLS.clear()


def localized_mb(index) -> float | None:
    """Estimated driver-resident footprint (MB) if ``index`` were
    localized; ``None`` when the type has no driver-colocated adapter
    (LSH, sharded-HNSW, OPQ → distributed only)."""
    from gofaiss_spark.operators.hnsw import HnswIndex, HnswRoutedIndex

    if isinstance(index, HnswIndex):
        return 0.0  # the graph already lives on the driver
    if isinstance(index, HnswRoutedIndex):
        mb = index.__dict__.get("_tier_blob_mb")
        if mb is None:
            from pyspark.sql import functions as F

            row = index.blobs.select(
                F.sum(F.length("blob")).alias("b")).first()
            mb = float(row["b"] or 0) / (1024 * 1024)
            index.__dict__["_tier_blob_mb"] = mb
        return mb
    kd = kind_of(index)
    if kd is None:
        return None
    n = index.__dict__.get("_tier_nrows")
    if n is None:  # one count job per index object, cached
        n = index.__dict__["_tier_nrows"] = int(
            getattr(index, kd.table).count())
    # the replica's row matrix in its local dtype, plus 16 bytes a
    # row for the id and bookkeeping
    per_row = getattr(index, kd.width) * np.dtype(kd.dtype).itemsize + 16
    return n * per_row / (1024 * 1024)


def is_sharded_artifact(path: str) -> bool:
    """True when ``path`` is a shard-partitioned serving artifact —
    either a plain ``save_sharded`` root (``_shard_meta.json``) or a
    ``refresh_sharded``-managed root (``_current.json`` generation
    pointer)."""
    from gofaiss_spark.operators.shard_serve import CURRENT_PTR, SHARD_META

    return os.path.exists(os.path.join(path, SHARD_META)) or \
        os.path.exists(os.path.join(path, CURRENT_PTR))


_SHARDED_OPEN: dict = {}  # realpath → (stamp, ShardedSearcher)
_LOADED_OPEN: dict = {}   # realpath → (stamp, loaded plain-artifact index)


def _artifact_stamp(path: str) -> tuple:
    """Staleness key for the per-path serving caches: the mtime_ns of
    the artifact's ROOT metadata sidecar(s). Overwriting a plain
    ``save_index`` artifact rewrites ``_meta.json``; re-creating a
    plain sharded root rewrites ``_shard_meta.json`` — both must evict
    the cached object instead of silently serving stale state (ADVICE
    r10).

    ``_current.json`` is deliberately NOT a stamp component (ADVICE
    r11): a ``refresh_sharded`` generation bump rewrites the pointer
    under the SAME root, and the cached ShardedSearcher already
    follows the pointer per batch (``_maybe_refresh``) — that covers
    root re-creation too, because generation names embed a random
    ``build_id`` so a re-created root resolves to a new path and the
    searcher re-binds. Stamping the pointer made every bump evict and
    ``close()`` the cached searcher, releasing host-shm segments of
    the NEW generation out from under a freshly re-bound handle (and
    releasing segments the caller kept alive with
    ``release_old=False``)."""
    from gofaiss_spark.operators.shard_serve import SHARD_META

    stamp = []
    for name in ("_meta.json", SHARD_META):
        p = os.path.join(path, name)
        try:
            stamp.append(os.stat(p).st_mtime_ns)
        except OSError:
            stamp.append(None)
    return tuple(stamp)


def invalidate_cached(path: str | None = None) -> None:
    """Explicitly drop the per-path serving caches (both the sharded
    searcher cache and the plain-artifact load cache). With a path,
    only that artifact; without, everything. The caches also
    self-invalidate when the artifact's metadata sidecar mtime
    changes — this is the manual override for same-mtime rewrites."""
    if path is None:
        _close_sharded()
        _LOADED_OPEN.clear()
        return
    key = os.path.realpath(path)
    ent = _SHARDED_OPEN.pop(key, None)
    if ent is not None:
        try:
            ent[1].close()
        except Exception:
            pass
    _LOADED_OPEN.pop(key, None)


@atexit.register
def _close_sharded() -> None:
    for _stamp, srv in _SHARDED_OPEN.values():
        try:
            srv.close()
        except Exception:
            pass
    _SHARDED_OPEN.clear()


def _open_sharded(spark, path: str):
    """Open (once per path+stamp, cached) the executor/host-colocated
    tier over a saved sharded artifact. The cached searcher stays
    valid across ``refresh_sharded`` generations — it re-resolves the
    ``_current.json`` pointer per batch — and is EVICTED (closed,
    reopened) when the artifact's sidecar mtimes change, i.e. the
    root was re-created at the same path."""
    from gofaiss_spark.operators.shard_serve import ShardedSearcher

    key = os.path.realpath(path)
    stamp = _artifact_stamp(key)
    ent = _SHARDED_OPEN.get(key)
    if ent is not None and ent[0] != stamp:
        try:
            ent[1].close()
        except Exception:
            pass
        ent = None
    if ent is None:
        ent = (stamp, ShardedSearcher(spark, path))
        _SHARDED_OPEN[key] = ent
    return ent[1]


def _load_cached(spark, path: str):
    """Load a plain ``save_index`` artifact, cached per
    (realpath, sidecar-mtime stamp) — overwriting the artifact at the
    same path evicts the stale in-memory index (ADVICE r10)."""
    from gofaiss_spark.plans.artifacts import load_index

    key = os.path.realpath(path)
    stamp = _artifact_stamp(key)
    ent = _LOADED_OPEN.get(key)
    if ent is None or ent[0] != stamp:
        ent = (stamp, load_index(spark, path))
        _LOADED_OPEN[key] = ent
    return ent[1]


def resolve_tier(index, params: dict | None = None,
                 n_queries: int | None = None) -> str:
    """The auto-routing decision, exposed for tests/inspection.
    Returns the concrete tier ("local" | "sharded" | "distributed")
    that ``tier="auto"`` would pick for this index. Accepts an index
    object, a live ShardedSearcher, or a saved-artifact PATH (a
    shard-partitioned artifact routes to the sharded tier; batch
    shape never changes the tier — inside the local tier it only
    decides whether a one-shot call spawns the pool, at
    POOL_MIN_BATCH).

    ``n_queries`` is the deprecated pre-r10 second positional
    parameter — batch shape no longer affects the tier, so it is
    accepted and ignored (ADVICE r10: the old positional form
    ``resolve_tier(idx, n)`` must not bind ``n`` to ``params`` and
    die with an opaque AttributeError)."""
    from gofaiss_spark.operators.shard_serve import ShardedSearcher

    if isinstance(params, int):
        # old positional call shape resolve_tier(idx, n_queries)
        n_queries, params = params, None
    if params is not None and not isinstance(params, dict):
        raise TypeError(
            f"resolve_tier params must be a dict (got "
            f"{type(params).__name__}); the pre-r10 n_queries "
            f"argument is deprecated and ignored")

    if isinstance(index, ShardedSearcher):
        return "sharded"
    if isinstance(index, str):
        if is_sharded_artifact(index):
            return "sharded"
        raise ValueError(
            f"{index!r} is not a sharded serving artifact — "
            "load_index() a plain artifact first, then resolve the "
            "loaded index")
    params = params or {}
    # refine/base exact re-ranking is a distributed-plan feature: the
    # auto-localized PQ/IVFPQ/SQ replicas don't pack the stored rows
    # (that is an explicit to_local_*(vectors=...) opt-in), so refine
    # there would raise — route it to the plan that has the vectors
    if params.get("base") is not None or params.get("refine") is not None:
        return "distributed"
    mb = localized_mb(index)
    if mb is None or mb > LOCAL_TIER_CAP_MB:
        return "distributed"
    return "local"


def _to_local_handle(index):
    """Localize once per index object (cached on the index)."""
    h = index.__dict__.get("_tier_local")
    if h is not None:
        return h
    from gofaiss_spark.operators import local_serve as ls

    kd = kind_of(index)
    if kd is not None:
        h = kd.localize(index)
    else:
        from gofaiss_spark.operators.hnsw import HnswIndex, HnswRoutedIndex

        if isinstance(index, HnswIndex):
            h = ls.hnsw_to_local(index)
        elif isinstance(index, HnswRoutedIndex):
            h = ls.hnsw_routed_to_local(index)
        else:
            raise TypeError(
                f"no local adapter for {type(index).__name__}")
    index.__dict__["_tier_local"] = h
    return h


def _pool_lock(index):
    """The index's own pool lock: concurrent first calls spawn one
    pool, and a spawn on one index stalls no other index's requests."""
    return index.__dict__.setdefault("_tier_pool_lock", threading.Lock())


def _to_pool_handle(index):
    """LocalServerPool per index object (cached; closed at exit). A
    cached pool is read without the lock; only a spawn takes it."""
    p = index.__dict__.get("_tier_pool")
    if p is not None:
        return p
    with _pool_lock(index):
        p = index.__dict__.get("_tier_pool")
        if p is None:
            from gofaiss_spark.operators.local_serve import LocalServerPool

            p = LocalServerPool(_to_local_handle(index))
            index.__dict__["_tier_pool"] = p
            _POOLS.append(p)
        return p


def _uncache_pool(index, pool=None):
    """Pop the index's cached pool (only if it is ``pool``, when one is
    given) and unregister it → the pool popped, or None."""
    if index.__dict__.get("_tier_pool") is None:
        return None
    with _pool_lock(index):
        p = index.__dict__.get("_tier_pool")
        if p is None or (pool is not None and p is not pool):
            return None
        del index.__dict__["_tier_pool"]
    try:
        _POOLS.remove(p)
    except ValueError:
        pass
    return p


def _drop_pool(index, pool, exc: Exception, what: str) -> None:
    """A pool that cannot spawn (``pool`` None) or that failed: the
    in-process replica serves the same bits, but not silently. Count
    the fallback in POOL_FALLBACKS, warn, and close and unregister the
    dead pool. Left cached it would re-raise forever; left in _POOLS
    (or its workers alive) it leaks processes + shm until interpreter
    exit. Of the concurrent requests that saw one pool fail, only the
    one that uncaches it counts and warns, and none touches a fresh
    pool cached since — one count per FAILED pool, never one per
    call."""
    import warnings

    from gofaiss_spark.operators import local_serve as ls

    if pool is not None:
        if _uncache_pool(index, pool) is None:
            return  # another request already dropped it
        try:
            pool.close()
        except Exception:
            pass
    ls._count_fallback("POOL_FALLBACKS")
    warnings.warn(
        f"LocalServerPool failed ({type(exc).__name__}: {exc}); {what}",
        RuntimeWarning, stacklevel=3)


def _local_search_np(index, qmat, k: int, params: dict):
    """Serve a query matrix from the driver replica → (ids, dists).
    The pool serves every request when one is resident (``serve()``
    spawns it) and a one-shot request of POOL_MIN_BATCH queries or
    more (spawning the pool); the replica serves the rest in process,
    and per-call ef_search overrides (the pool bakes ef at spawn)."""
    from gofaiss_spark.operators.hnsw import HnswIndex, HnswRoutedIndex

    # Tier-invariance: the HNSW kinds default nprobe to the INDEX's
    # configured default (what both the in-process handle and the
    # distributed plan resolve None to — the pool's routed kind does
    # the same, local_serve._search_hnsw_cells), NOT the IVF-family
    # DEFAULT_NPROBE. An index built with default_nprobe != 10 must
    # return the same results at every batch size and tier.
    if isinstance(index, (HnswIndex, HnswRoutedIndex)):
        nprobe = params.get("nprobe")
    else:
        nprobe = params.get("nprobe", DEFAULT_NPROBE)
    refine = params.get("refine")
    ef = params.get("ef_search")

    def in_process():
        h = _to_local_handle(index)
        kd = kind_of(index)
        if kd is not None:
            return h.search(qmat, k=k, **kd.args(nprobe=nprobe, refine=refine))
        # LocalHnswRoutedIndex (1-cell for plain HNSW)
        if isinstance(index, HnswIndex):
            return h.search(qmat, k=k, nprobe=1, ef_search=ef)
        if isinstance(index, HnswRoutedIndex):
            return h.search(qmat, k=k, nprobe=params.get("nprobe"),
                            ef_search=ef)
        return h.search(qmat, k=k)

    pool = index.__dict__.get("_tier_pool")
    if ef is None and (pool is not None or len(qmat) >= POOL_MIN_BATCH):
        try:
            if pool is None:
                pool = _to_pool_handle(index)
            return pool.search(qmat, k=k, nprobe=nprobe, refine=refine)
        except Exception as exc:
            # a request the replica rejects as well (a wrong query
            # dimension, say) is the caller's error: it raises here
            # and the pool stays
            out = in_process()
            _drop_pool(index, pool, exc, "serving this batch in process")
            return out
    return in_process()


def _np_results_to_df(spark, qids, ids, dists) -> DataFrame:
    """(q, k) id/dist matrices → the distributed result contract
    (query_id, id, distance, rank 1..k); padding rows (no k-th
    neighbor in the probed cells: id −1 / dist inf) are dropped, same
    as the distributed plan simply yielding fewer rows."""
    import pandas as pd

    kk = ids.shape[1]
    out = pd.DataFrame({
        "query_id": np.repeat(np.asarray(qids, dtype=np.int64), kk),
        "id": ids.ravel().astype(np.int64),
        "distance": dists.ravel().astype(np.float64),
        "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), len(qids)),
    })
    out = out[np.isfinite(out["distance"].to_numpy())]
    return spark.createDataFrame(
        out, schema="query_id long, id long, distance double, rank int")


class TierServer:
    """One-call serving handle (``api.serve``): a bound (index, tier)
    pair. ``search`` accepts either a (query_id, qvec) DataFrame
    (returns the DataFrame result contract) or a raw query matrix
    (returns (ids, dists) — the reference Search() shape,
    search.go:56-84, which takes []float32 not a table)."""

    def __init__(self, index, tier: str, spark=None):
        self.index = index
        self.tier = tier
        self._spark = spark

    def search(self, queries, k: int = DEFAULT_K,
               params: dict | None = None):
        params = dict(params or {})
        params["tier"] = self.tier
        if isinstance(queries, DataFrame):
            return search(self.index, queries, k=k, params=params)
        return self.search_np(queries, k=k, params=params)

    def search_np(self, qmat, k: int = DEFAULT_K,
                  params: dict | None = None):
        """Raw-matrix serving path → (ids (q, k), dists (q, k))."""
        params = dict(params or {})
        if self.tier == "sharded":
            return self.index.search(
                qmat, k=k, nprobe=params.get("nprobe", DEFAULT_NPROBE),
                refine=params.get("refine"))
        if self.tier == "local":
            return self._guarded_local(qmat, k, params)
        raise ValueError(
            f"search_np needs a resident tier (local/sharded), "
            f"not {self.tier!r} — pass a DataFrame for the "
            f"distributed plan")

    def _guarded_local(self, qmat, k: int, params: dict):
        return _local_search_np(self.index, qmat, k, params)

    def close(self) -> None:
        p = _uncache_pool(self.index) if hasattr(
            self.index, "__dict__") else None
        if p is not None:
            p.close()


def serve(index, tier: str = "auto", spark: SparkSession | None = None):
    """Bind an index (or a saved sharded-artifact path) to a serving
    tier — the Searcher façade (search.go:42-84) extended with tier
    placement. ``tier="auto"`` resolves NOW (so ``.tier`` is concrete
    and inspectable); pass an explicit tier to force placement."""
    if isinstance(index, str):
        if spark is None:
            raise ValueError("serve(path) needs spark=")
        if is_sharded_artifact(index):
            if tier not in ("auto", "sharded"):
                raise ValueError(
                    f"{index!r} is a shard-partitioned artifact — it "
                    f"serves on the sharded tier only; explicit "
                    f"tier={tier!r} cannot be honored (load_index() "
                    f"the shards yourself to serve another tier)")
            return TierServer(_open_sharded(spark, index), "sharded")
        # plain save_index artifact: load (cached per path+mtime) and
        # auto-route the loaded object like any live index
        index = _load_cached(spark, index)
    if tier == "auto":
        tier = resolve_tier(index)
    if tier not in ("local", "sharded", "distributed"):
        raise ValueError(f"unknown tier {tier!r} (expected one of {TIERS})")
    if tier == "local":
        mb = localized_mb(index)
        if mb is None:
            raise TypeError(
                f"{type(index).__name__} has no local adapter — use "
                f"tier='distributed' or a sharded artifact")
        _to_local_handle(index)  # localize eagerly: serving handle
        try:
            _to_pool_handle(index)  # and spawn its pool: set-up, not serving
        except Exception as exc:
            _drop_pool(index, None, exc, "serving in process")
    return TierServer(index, tier, spark=spark)


def search(index, queries: DataFrame, k: int = DEFAULT_K, params: dict | None = None) -> DataFrame:
    """Search/BatchSearch dispatch (search.go:56-112) — batch-native:
    ``queries`` is always a (query_id, qvec) DataFrame.

    ``params["tier"]`` selects the execution tier ("auto" — the
    default — | "local" | "sharded" | "distributed"); see the
    serving-tier block above. Results are tier-invariant.

    ``index`` may also be a saved-artifact PATH: a shard-partitioned
    artifact (save_sharded/refresh_sharded) opens the executor/host-
    colocated sharded tier (cached per path, generation-pointer
    aware); a plain save_index artifact is load_index-ed (cached per
    path) and auto-routed like the live object."""
    params = dict(params or {})
    tier = params.pop("tier", "auto")
    from gofaiss_spark.operators.shard_serve import ShardedSearcher

    if isinstance(index, str):
        spark = queries.sparkSession
        if is_sharded_artifact(index):
            if tier not in ("auto", "sharded"):
                raise ValueError(
                    f"{index!r} is a shard-partitioned artifact — it "
                    f"serves on the sharded tier only; explicit "
                    f"params['tier']={tier!r} cannot be honored "
                    f"(load_index() the shards yourself to serve "
                    f"another tier)")
            index = _open_sharded(spark, index)
        else:
            index = _load_cached(spark, index)
    if isinstance(index, ShardedSearcher):
        qids, qmat = collect_queries(queries)
        ids, d = index.search(
            qmat, k=k, nprobe=params.get("nprobe", DEFAULT_NPROBE),
            refine=params.get("refine"))
        return _np_results_to_df(queries.sparkSession, qids, ids, d)
    if tier == "auto":
        tier = resolve_tier(index, params=params)
    if tier == "local":
        mb = localized_mb(index)
        if mb is None:
            raise TypeError(
                f"{type(index).__name__} has no local adapter")
        qids, qmat = collect_queries(queries)
        if len(qids) == 0:
            return queries.sparkSession.createDataFrame(
                [], "query_id long, id long, distance double, rank int")
        ids, d = _local_search_np(index, qmat, k, params)
        return _np_results_to_df(queries.sparkSession, qids, ids, d)
    if tier != "distributed":
        raise ValueError(f"unknown tier {tier!r} (expected one of {TIERS})")
    kd = kind_of(index)
    if kd is not None:
        # each kind takes only its own arguments: IVF gets no refine
        # or base, Flat only ``method``
        return kd.search_df(
            index, queries, k,
            method=params.get("method", "local"),
            nprobe=params.get("nprobe", DEFAULT_NPROBE),
            refine=params.get("refine"), base=params.get("base"))
    if isinstance(index, LshIndex):
        return search_lsh(
            index, queries, k=k, multiprobe=params.get("multiprobe", 0)
        )
    from gofaiss_spark.operators.opq import OpqIndex, search_opq

    if isinstance(index, OpqIndex):
        return search_opq(
            index,
            queries,
            k=k,
            refine=params.get("refine"),
            base=params.get("base"),
        )
    from gofaiss_spark.operators.hnsw import (
        HnswIndex,
        HnswRoutedIndex,
        HnswShardedIndex,
        search_hnsw,
        search_hnsw_routed,
        search_hnsw_sharded,
    )

    if isinstance(index, HnswIndex):
        return search_hnsw(index, queries, k=k, ef_search=params.get("ef_search"))
    if isinstance(index, HnswShardedIndex):
        return search_hnsw_sharded(
            index, queries, k=k, ef_search=params.get("ef_search")
        )
    if isinstance(index, HnswRoutedIndex):
        return search_hnsw_routed(
            index,
            queries,
            k=k,
            nprobe=params.get("nprobe"),
            ef_search=params.get("ef_search"),
        )
    raise TypeError(f"cannot search index of type {type(index).__name__}")


batch_search = search  # the batch IS the native shape (SURVEY.md §4 row 11)


def range_search(index, queries: DataFrame, threshold: float, max_results: int | None = None) -> DataFrame:
    """Exact threshold search (improvement over search.go:165-189's
    oversampling; SURVEY.md §4 row 12). Exact for flat; for ANN
    indexes it re-ranks the index's candidate set."""
    if isinstance(index, FlatIndex):
        return index.range_search(queries, threshold, max_results)
    # ANN candidate path: oversample top-k then exact filter, with the
    # same (k·10, capped) heuristic as the reference for parity.
    k = min((max_results or DEFAULT_K) * 10, 10000)
    from pyspark.sql import functions as F

    res = search(index, queries, k=k)
    out = res.filter(F.col("distance") <= float(threshold)).drop("rank")
    from gofaiss_spark.operators.topk import topk

    return topk(out, max_results if max_results else 0)


def remove_ids(index, ids: list[int]):
    """Remove vectors by id — an anti-join over the index's resident
    DataFrames. The reference returns "not supported" for IVF/IVFPQ
    (ivf.go:177-179, ivfpq.go:299-302); Spark's immutable-DataFrame
    model makes deletion a filter, so we implement it (documented
    deviation, SURVEY.md §2.2). HNSW routes to its graph-aware remove
    (hnsw.go:203-242 parity). Returns the updated index (same object;
    DataFrame fields replaced)."""
    from gofaiss_spark.operators.hnsw import (
        HnswIndex,
        HnswShardedIndex,
        remove_hnsw,
        remove_hnsw_sharded,
    )

    if isinstance(index, HnswIndex):
        for vid in ids:
            remove_hnsw(index, vid)
        return index
    if isinstance(index, HnswShardedIndex):
        return remove_hnsw_sharded(index, ids)
    from pyspark.sql import functions as F

    id_set = [int(i) for i in ids]
    for attr in ("vectors", "assignments", "codes", "buckets"):
        df = getattr(index, attr, None)
        if df is not None and hasattr(df, "filter"):
            setattr(index, attr, df.filter(~F.col("id").isin(id_set)))
    return index


def search_with_metadata(index, queries: DataFrame, k: int = DEFAULT_K, params: dict | None = None) -> tuple[list, dict]:
    """Timing wrapper (search.go:150-162): returns (rows, metadata)."""
    t0 = time.monotonic()
    rows = search(index, queries, k=k, params=params).collect()
    elapsed = time.monotonic() - t0
    return rows, {
        "index_type": stats(index)["index_type"],
        "elapsed_sec": elapsed,
        "n_results": len(rows),
    }


def stats(index) -> dict:
    """Stats dispatch (search.go:125-140)."""
    return index.stats()


def save(index, path: str) -> None:
    from gofaiss_spark.plans.artifacts import save_index

    save_index(index, path)


def load(spark: SparkSession, path: str):
    from gofaiss_spark.plans.artifacts import load_index

    return load_index(spark, path)


def reconstruct(index, ids: list[int] | None = None) -> DataFrame:
    """(id, vec) for stored ids — decoded approximations for
    quantized indexes (FAISS Index.reconstruct; the reference exposes
    raw vectors only on Flat, flat.go:118-120)."""
    from gofaiss_spark.operators.reconstruct import reconstruct as _r

    return _r(index, ids)


def merge(a, b):
    """Union two compatible same-type indexes without retraining
    (FAISS merge_from). Raises on mismatched trained state."""
    from gofaiss_spark.operators.reconstruct import merge_index

    return merge_index(a, b)
