"""Auto-tier serving dispatch (api.serve / api.search tier="auto").

The reference's Searcher façade hides index mechanics behind one
Search() call (pkg/search/search.go:42-84); ours additionally hides
the execution tier. These tests pin the routing decision
(api.resolve_tier) and the tier-invariance of results: whatever tier
auto picks, the rows must equal the distributed plan's.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from gofaiss_spark import api

DIM = 16
N = 1200
K = 5
NQ = 12


@pytest.fixture(scope="module")
def base(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(N, DIM)).astype(np.float32)
    vdf = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "id long, vec array<float>",
    ).cache()
    qdf = spark.createDataFrame(
        [(int(i), vecs[i].tolist()) for i in range(NQ)],
        "query_id long, qvec array<float>",
    ).cache()
    vdf.count(), qdf.count()
    return vecs, vdf, qdf


def _rows(df):
    return sorted(
        (r.query_id, r.id, round(float(r.distance), 6)) for r in df.collect()
    )


@pytest.mark.parametrize(
    "index_type,params,expected_tier",
    [
        ("flat", {}, "local"),
        ("ivf", {"nlist": 8}, "local"),
        ("pq", {"m": 4}, "local"),
        ("ivfpq", {"nlist": 8, "m": 4}, "local"),
        ("sq", {}, "local"),
        ("ivfsq", {"nlist": 8}, "local"),
        ("hnsw_local", {"m": 8}, "local"),
        ("hnsw_routed", {"nlist": 4}, "local"),
        ("lsh", {}, "distributed"),  # no driver-colocated adapter
    ],
)
def test_resolve_tier_and_invariance(base, index_type, params, expected_tier):
    _, vdf, qdf = base
    idx = api.build_index(vdf, index_type=index_type, params=params)
    assert api.resolve_tier(idx) == expected_tier
    auto = _rows(api.search(idx, qdf, k=K))
    dist = _rows(api.search(idx, qdf, k=K, params={"tier": "distributed"}))
    assert auto == dist


def test_cap_forces_distributed(base, monkeypatch):
    _, vdf, qdf = base
    idx = api.build_index(vdf, index_type="flat")
    monkeypatch.setattr(api, "LOCAL_TIER_CAP_MB", 0.0)
    assert api.resolve_tier(idx) == "distributed"
    # and the search still answers (through the distributed plan)
    assert len(_rows(api.search(idx, qdf, k=K))) == NQ * K


def test_refine_params_route_distributed(base):
    _, vdf, _ = base
    idx = api.build_index(vdf, index_type="pq", params={"m": 4})
    assert api.resolve_tier(idx, params={"refine": 4}) == "distributed"
    assert api.resolve_tier(idx, params={}) == "local"


def test_serve_facade_np_path(base):
    vecs, vdf, qdf = base
    idx = api.build_index(vdf, index_type="flat")
    srv = api.serve(idx)
    assert srv.tier == "local"
    ids, d = srv.search_np(vecs[:NQ].astype(np.float64), k=K)
    assert ids.shape == (NQ, K) and d.shape == (NQ, K)
    # self-query: nearest neighbor is the vector itself at distance 0
    assert (ids[:, 0] == np.arange(NQ)).all()
    assert np.allclose(d[:, 0], 0.0, atol=1e-6)
    # DataFrame path through the same handle matches api.search
    assert _rows(srv.search(qdf, k=K)) == _rows(
        api.search(idx, qdf, k=K, params={"tier": "distributed"})
    )
    srv.close()


def test_serve_rejects_unknown_tier(base):
    _, vdf, _ = base
    idx = api.build_index(vdf, index_type="flat")
    with pytest.raises(ValueError, match="unknown tier"):
        api.serve(idx, tier="warp")


def test_serve_local_rejects_unadaptable(base):
    _, vdf, _ = base
    idx = api.build_index(vdf, index_type="lsh")
    with pytest.raises(TypeError, match="no local adapter"):
        api.serve(idx, tier="local")


def test_sharded_handle_routes_sharded(base, tmp_path):
    vecs, vdf, qdf = base
    from gofaiss_spark.operators.shard_serve import (
        ShardedSearcher,
        save_sharded,
    )

    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 6})
    path = str(tmp_path / "shards")
    save_sharded(idx, path, num_shards=2)
    with ShardedSearcher(vdf.sparkSession, path) as srv:
        assert api.resolve_tier(srv) == "sharded"
        got = _rows(
            api.search(srv, qdf, k=K, params={"nprobe": 6})
        )
    want = _rows(
        api.search(idx, qdf, k=K, params={"tier": "distributed", "nprobe": 6})
    )
    assert got == want


def test_sharded_artifact_path_routes_sharded(base, tmp_path):
    """r9-verdict item 6: a PERSISTED shard-partitioned artifact path
    handed to resolve_tier/search/serve opens the executor-colocated
    tier (previously only a live ShardedSearcher routed there)."""
    _, vdf, qdf = base
    from gofaiss_spark.operators.shard_serve import save_sharded

    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 6})
    path = str(tmp_path / "shard_art")
    save_sharded(idx, path, num_shards=2)
    try:
        assert api.resolve_tier(path) == "sharded"
        srv = api.serve(path, spark=vdf.sparkSession)
        assert srv.tier == "sharded"
        # full probe ⇒ exact: the path-served rows equal the
        # distributed plan on the live index
        got = _rows(api.search(path, qdf, k=K, params={"nprobe": 6}))
        want = _rows(api.search(
            idx, qdf, k=K, params={"tier": "distributed", "nprobe": 6}))
        assert got == want
        # opened once, cached per path
        assert os.path.realpath(path) in api._SHARDED_OPEN
        again = api.serve(path, spark=vdf.sparkSession)
        assert again.index is srv.index
    finally:
        api.invalidate_cached(path)


def test_plain_artifact_path_loads_and_routes(base, tmp_path):
    """A plain save_index artifact path is load_index-ed (cached) and
    auto-routed like the live object — the one-call façade covers
    'I have a saved index on disk' end-to-end."""
    _, vdf, qdf = base
    from gofaiss_spark.plans.artifacts import save_index

    idx = api.build_index(vdf, index_type="flat")
    path = str(tmp_path / "plain_art")
    save_index(idx, path)
    with pytest.raises(ValueError, match="not a sharded serving artifact"):
        api.resolve_tier(path)
    got = _rows(api.search(path, qdf, k=K))
    want = _rows(api.search(
        idx, qdf, k=K, params={"tier": "distributed"}))
    assert got == want
    assert os.path.realpath(path) in api._LOADED_OPEN
    srv = api.serve(path, spark=vdf.sparkSession)
    assert srv.tier == "local"
    assert srv.index is api._LOADED_OPEN[os.path.realpath(path)][1]
    srv.close()


def test_hnsw_routed_pool_nprobe_default_invariance(base, monkeypatch):
    """ADVICE r9 (medium): an HNSW-routed index built with a
    non-default nprobe_default must return the SAME rows from the
    pool path (batch ≥ POOL_MIN_BATCH), the in-process path, and the
    distributed plan — the pool path used to force the IVF-family
    DEFAULT_NPROBE=10 instead of the index's configured default."""
    _, vdf, qdf = base
    idx = api.build_index(
        vdf, index_type="hnsw_routed", params={"nlist": 4, "nprobe": 3})
    dist = _rows(api.search(idx, qdf, k=K, params={"tier": "distributed"}))
    monkeypatch.setattr(api, "POOL_MIN_BATCH", 10 ** 9)
    inproc = _rows(api.search(idx, qdf, k=K))
    monkeypatch.setattr(api, "POOL_MIN_BATCH", 1)
    try:
        pooled = _rows(api.search(idx, qdf, k=K))
    finally:
        pool = idx.__dict__.pop("_tier_pool", None)
        if pool is not None:
            try:
                api._POOLS.remove(pool)
            except ValueError:
                pass
            pool.close()
    assert inproc == dist
    assert pooled == dist


class _BoomPool:
    def __init__(self):
        self.closed = False

    def search(self, *a, **kw):
        raise RuntimeError("boom")

    def close(self):
        self.closed = True


def test_pool_failure_closes_and_unregisters(base, monkeypatch):
    """ADVICE r9 (medium): a failing pool must be closed and removed
    from _POOLS in the fallback branch — popping it from the index
    alone leaked worker processes + shm until interpreter exit."""
    _, vdf, qdf = base
    idx = api.build_index(vdf, index_type="flat")
    want = _rows(api.search(idx, qdf, k=K, params={"tier": "distributed"}))
    boom = _BoomPool()
    idx.__dict__["_tier_pool"] = boom
    api._POOLS.append(boom)
    monkeypatch.setattr(api, "POOL_MIN_BATCH", 1)
    got = _rows(api.search(idx, qdf, k=K))  # falls back in-process
    assert got == want
    assert boom.closed
    assert boom not in api._POOLS
    assert idx.__dict__.get("_tier_pool") is not boom



def test_pool_fallback_is_counted_and_warns(monkeypatch):
    """A batch the LocalServerPool cannot serve falls back to the
    in-process replica visibly: the answer is unchanged, the module
    counter POOL_FALLBACKS rises and exactly one warning is raised."""
    import types
    import warnings

    from gofaiss_spark.operators import local_serve as ls

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(N, DIM)).astype(np.float32)
    h = ls.LocalFlatIndex(ids=np.arange(N, dtype=np.int64), vecs=vecs,
                          metric="l2",
                          norms_sq=np.einsum("ij,ij->i", vecs, vecs))
    index = types.SimpleNamespace(_tier_local=h)
    want_ids, want_d = h.search(vecs[:NQ], k=K)

    def boom(_index):
        raise OSError("no shared memory")

    monkeypatch.setattr(api, "_to_pool_handle", boom)
    monkeypatch.setattr(api, "POOL_MIN_BATCH", 1)
    before = ls.POOL_FALLBACKS
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ids, d = api._local_search_np(index, vecs[:NQ], K, {})
    np.testing.assert_array_equal(ids, want_ids)
    np.testing.assert_array_equal(d, want_d)
    assert ls.POOL_FALLBACKS == before + 1
    assert len(caught) == 1 and "no shared memory" in str(caught[0].message)

def test_served_local_handle_runs_requests_as_pool_tasks(base):
    """api.serve on the local tier spawns the replica's pool. A request
    runs as nq // POOL_TASK_QUERIES pool tasks, at least one and at
    most workers × 2, with the in-process replica's exact bits; and
    close() joins every worker and unlinks the pool's segments."""
    from gofaiss_spark.operators import local_serve as ls

    vecs, vdf, _ = base
    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 8})
    srv = api.serve(idx, tier="local")
    pool = idx.__dict__["_tier_pool"]
    assert pool in api._POOLS
    tasks = []
    run = pool._run

    def counted(batch):
        tasks.extend(len(args[0]) for _, args in batch)
        return run(batch)

    pool._run = counted
    local = idx.__dict__["_tier_local"]
    rng = np.random.default_rng(11)
    try:
        assert ls.POOL_TASK_QUERIES == 16
        w2 = pool.workers * 2
        for nq, ntasks in ((1, 1), (16, 1), (31, 1), (64, min(w2, 4)),
                           (600, w2)):
            q = vecs[rng.integers(0, N, nq)] + rng.normal(
                0, 0.01, (nq, DIM)).astype(np.float32)
            tasks.clear()
            ids, d = srv.search_np(q, k=K, params={"nprobe": 3})
            assert len(tasks) == ntasks and sum(tasks) == nq
            want_ids, want_d = local.search(q, k=K, nprobe=3)
            np.testing.assert_array_equal(ids, want_ids)
            np.testing.assert_array_equal(d, want_d)
    finally:
        procs = list(pool._procs)
        segs = [shm.name for shm in pool._shms]
        srv.close()
    assert procs and segs
    assert all(not p.is_alive() for p in procs)
    assert not any(os.path.exists(f"/dev/shm/{n}") for n in segs)
    assert "_tier_pool" not in idx.__dict__ and pool not in api._POOLS


def test_served_pool_survives_a_bad_request(base):
    """A request the replica rejects too (wrong query dimension) is the
    caller's error: it raises, and the resident pool stays."""
    from gofaiss_spark.operators import local_serve as ls

    vecs, vdf, _ = base
    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 8})
    srv = api.serve(idx, tier="local")
    pool = idx.__dict__["_tier_pool"]
    before = ls.POOL_FALLBACKS
    try:
        with pytest.raises(ValueError):
            srv.search_np(np.zeros((2, DIM + 1), np.float32), k=K)
        assert idx.__dict__.get("_tier_pool") is pool
        assert ls.POOL_FALLBACKS == before
        ids, _ = srv.search_np(vecs[:2], k=K)
        assert (ids[:, 0] == np.arange(2)).all()
    finally:
        srv.close()


def test_served_pool_with_a_killed_worker_falls_back_once(base):
    """A worker of a served pool is killed (SIGKILL). The request that
    lands on it is served in process with the same bits, POOL_FALLBACKS
    rises by exactly 1, and the pool is closed and unregistered with no
    worker process or pool segment left."""
    import signal

    from gofaiss_spark.operators import local_serve as ls

    vecs, vdf, _ = base
    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 8})
    srv = api.serve(idx, tier="local")
    pool = idx.__dict__["_tier_pool"]
    local = idx.__dict__["_tier_local"]
    procs = list(pool._procs)
    segs = [shm.name for shm in pool._shms]
    # workers × 2 tasks (below POOL_MIN_BATCH, so no new pool spawns):
    # every request checks out every idle worker, the dead one too
    nq = min(api.POOL_MIN_BATCH - 1,
             2 * pool.workers * ls.POOL_TASK_QUERIES)
    rng = np.random.default_rng(13)
    before = ls.POOL_FALLBACKS
    try:
        os.kill(procs[0].pid, signal.SIGKILL)
        procs[0].join(30)
        with pytest.warns(RuntimeWarning, match="LocalServerPool failed"):
            for _ in range(3):
                q = vecs[rng.integers(0, N, nq)] + rng.normal(
                    0, 0.01, (nq, DIM)).astype(np.float32)
                ids, d = srv.search_np(q, k=K, params={"nprobe": 3})
                want_ids, want_d = local.search(q, k=K, nprobe=3)
                np.testing.assert_array_equal(ids, want_ids)
                np.testing.assert_array_equal(d, want_d)
    finally:
        srv.close()
    assert ls.POOL_FALLBACKS == before + 1
    assert "_tier_pool" not in idx.__dict__ and pool not in api._POOLS
    assert all(not p.is_alive() for p in procs)
    assert not any(os.path.exists(f"/dev/shm/{n}") for n in segs)


def test_serve_pool_spawn_failure_serves_in_process(base, monkeypatch):
    """A pool that cannot spawn does not fail api.serve: the handle
    serves in process, with POOL_FALLBACKS + 1 and exactly one
    warning, however many requests follow."""
    import warnings

    from gofaiss_spark.operators import local_serve as ls

    class _NoPool:
        def __init__(self, *a, **kw):
            raise OSError("no shared memory")

    vecs, vdf, _ = base
    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 8})
    monkeypatch.setattr(ls, "LocalServerPool", _NoPool)
    before = ls.POOL_FALLBACKS
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        srv = api.serve(idx, tier="local")
        for nq in (1, 16):
            ids, d = srv.search_np(vecs[:nq], k=K, params={"nprobe": 3})
            want_ids, want_d = idx.__dict__["_tier_local"].search(
                vecs[:nq], k=K, nprobe=3)
            np.testing.assert_array_equal(ids, want_ids)
            np.testing.assert_array_equal(d, want_d)
    assert ls.POOL_FALLBACKS == before + 1
    failed = [w for w in caught if "LocalServerPool" in str(w.message)]
    assert len(failed) == 1 and "no shared memory" in str(failed[0].message)
    assert "_tier_pool" not in idx.__dict__
    srv.close()


class _FailingPool:
    """A resident pool whose requests fail: the "early" thread's at
    once, the "late" thread's only when ``late`` is set."""

    def __init__(self, late: threading.Event):
        self.late = late
        self.both_in = threading.Barrier(2)
        self.closed = False

    def search(self, *a, **kw):
        self.both_in.wait(timeout=30)
        if threading.current_thread().name == "late":
            self.late.wait(timeout=30)
        raise RuntimeError("worker died")

    def close(self):
        self.closed = True


def test_concurrent_pool_failures_drop_one_pool_once():
    """Two requests in flight on one pool that fails: the pool is
    counted, warned about and closed once, and the late request does
    not close a fresh pool cached after the first drop."""
    import types
    import warnings

    from gofaiss_spark.operators import local_serve as ls

    rng = np.random.default_rng(4)
    vecs = rng.normal(size=(N, DIM)).astype(np.float32)
    h = ls.LocalFlatIndex(ids=np.arange(N, dtype=np.int64), vecs=vecs,
                          metric="l2",
                          norms_sq=np.einsum("ij,ij->i", vecs, vecs))
    late = threading.Event()
    dead, fresh = _FailingPool(late), _BoomPool()
    index = types.SimpleNamespace(_tier_local=h, _tier_pool=dead)
    want = h.search(vecs[:NQ], k=K)
    got = {}

    def client():
        got[threading.current_thread().name] = api._local_search_np(
            index, vecs[:NQ], K, {})

    before = ls.POOL_FALLBACKS
    threads = {n: threading.Thread(target=client, name=n)
               for n in ("early", "late")}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for t in threads.values():
            t.start()
        threads["early"].join(30)
        assert dead.closed and "_tier_pool" not in index.__dict__
        index._tier_pool = fresh  # a later request spawned a new pool
        late.set()
        threads["late"].join(30)
    assert set(got) == {"early", "late"}
    for ids, d in got.values():
        np.testing.assert_array_equal(ids, want[0])
        np.testing.assert_array_equal(d, want[1])
    assert ls.POOL_FALLBACKS == before + 1
    assert len([w for w in caught if "worker died" in str(w.message)]) == 1
    assert index._tier_pool is fresh and not fresh.closed


def test_cached_pool_is_read_without_the_lock():
    """Serving from a resident pool never waits on a spawn: a cached
    pool is returned while the index's pool lock is held."""
    import types

    index = types.SimpleNamespace(_tier_pool=_BoomPool())
    got = []
    with api._pool_lock(index):
        t = threading.Thread(
            target=lambda: got.append(api._to_pool_handle(index)))
        t.start()
        t.join(10)
    assert got == [index._tier_pool]


def test_localization_cached_once(base):
    _, vdf, qdf = base
    idx = api.build_index(vdf, index_type="flat")
    api.search(idx, qdf, k=K)
    h1 = idx.__dict__.get("_tier_local")
    api.search(idx, qdf, k=K)
    assert idx.__dict__.get("_tier_local") is h1


def test_empty_query_batch(base):
    _, vdf, qdf = base
    idx = api.build_index(vdf, index_type="flat")
    empty = qdf.filter(F.col("query_id") < 0)
    out = api.search(idx, empty, k=K)
    assert out.count() == 0
    assert out.columns == ["query_id", "id", "distance", "rank"]


# --- ADVICE r10 fixes: deprecated resolve_tier arg, cache staleness,
#     explicit-tier override on sharded-artifact paths ---


def test_resolve_tier_deprecated_n_queries_positional(base):
    """ADVICE r10 (low): the pre-r10 positional form
    resolve_tier(idx, n_queries) must not bind the int to params and
    die with AttributeError — it is accepted and ignored (batch shape
    no longer affects the tier)."""
    _, vdf, _ = base
    idx = api.build_index(vdf, index_type="flat")
    assert api.resolve_tier(idx, 1000) == api.resolve_tier(idx)
    assert api.resolve_tier(idx, n_queries=1) == api.resolve_tier(idx)
    with pytest.raises(TypeError, match="params must be a dict"):
        api.resolve_tier(idx, "local")


def test_plain_artifact_cache_invalidates_on_overwrite(base, tmp_path):
    """ADVICE r10 (low): overwriting a save_index artifact at the
    same path must evict the cached in-memory index — the next
    path-search serves the NEW vectors, not the stale cache."""
    import time

    _, vdf, qdf = base
    from gofaiss_spark.plans.artifacts import save_index

    idx1 = api.build_index(vdf, index_type="flat")
    path = str(tmp_path / "overwrite_art")
    save_index(idx1, path)
    got1 = _rows(api.search(path, qdf, k=K))
    # rebuild on shifted vectors, overwrite the artifact in place
    vdf2 = vdf.withColumn(
        "vec", F.transform("vec", lambda x: x + F.lit(10.0)))
    idx2 = api.build_index(vdf2, index_type="flat")
    time.sleep(0.01)  # ensure a distinct mtime_ns stamp
    save_index(idx2, path)
    got2 = _rows(api.search(path, qdf, k=K))
    want2 = _rows(api.search(idx2, qdf, k=K, params={"tier": "distributed"}))
    # ids must match exactly; distances to 1e-3 (parquet f32 roundtrip
    # of the shifted vectors is 1 ulp off the live index)
    assert [(q, i) for q, i, _ in got2] == [(q, i) for q, i, _ in want2]
    assert all(abs(a[2] - b[2]) < 1e-3 for a, b in zip(got2, want2))
    assert got2 != got1
    # manual override also drops the entry
    api.invalidate_cached(path)
    assert os.path.realpath(path) not in api._LOADED_OPEN


def test_sharded_path_rejects_explicit_tier_override(base, tmp_path):
    """ADVICE r10 (low): serve(path, tier='local') / search(path,
    params={'tier': 'distributed'}) on a shard-partitioned artifact
    must raise instead of silently serving the sharded tier."""
    _, vdf, qdf = base
    from gofaiss_spark.operators.shard_serve import save_sharded

    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 6})
    path = str(tmp_path / "shard_override")
    save_sharded(idx, path, num_shards=2)
    try:
        with pytest.raises(ValueError, match="sharded tier only"):
            api.serve(path, tier="local", spark=vdf.sparkSession)
        with pytest.raises(ValueError, match="sharded tier only"):
            api.search(path, qdf, k=K, params={"tier": "distributed"})
        # explicit 'sharded' and 'auto' still work
        srv = api.serve(path, tier="sharded", spark=vdf.sparkSession)
        assert srv.tier == "sharded"
        got = _rows(api.search(path, qdf, k=K, params={"nprobe": 6}))
        want = _rows(api.search(
            idx, qdf, k=K, params={"tier": "distributed", "nprobe": 6}))
        assert got == want
    finally:
        api.invalidate_cached(path)


def test_refresh_generation_bump_keeps_cached_searcher(base, tmp_path):
    """ADVICE r11 (medium): a refresh_sharded generation bump under
    the SAME root must NOT evict the cached ShardedSearcher — it
    already re-resolves the ``_current.json`` pointer per batch — so
    the stamp-eviction no longer ``close()``s (releases the host-shm
    segments of) the NEW generation out from under a freshly re-bound
    handle, and no longer releases shm the caller kept alive with
    ``release_old=False``. The stamp keys only the ROOT sidecars
    (_meta.json / _shard_meta.json), whose rewrite still means 'a
    different artifact now lives at this path'."""
    _, vdf, qdf = base
    from gofaiss_spark.operators.shard_serve import (
        refresh_sharded,
        release_shards,
    )

    idx = api.build_index(vdf, index_type="ivf", params={"nlist": 6})
    path = str(tmp_path / "refresh_root")
    meta1 = refresh_sharded(idx, path, num_shards=2)
    try:
        srv1 = api.serve(path, spark=vdf.sparkSession)
        got1 = _rows(api.search(path, qdf, k=K, params={"nprobe": 6}))
        # publish a NEW generation (shifted vectors) under the same
        # root, keeping the old generation's shm alive
        vdf2 = vdf.withColumn(
            "vec", F.transform("vec", lambda x: x + F.lit(10.0)))
        idx2 = api.build_index(vdf2, index_type="ivf",
                               params={"nlist": 6})
        refresh_sharded(idx2, path, num_shards=2, release_old=False)
        srv2 = api.serve(path, spark=vdf.sparkSession)
        # the pointer bump must not have evicted the cached searcher
        assert srv2.index is srv1.index
        # and the cached searcher serves the NEW generation
        got2 = _rows(api.search(path, qdf, k=K, params={"nprobe": 6}))
        want2 = _rows(api.search(
            idx2, qdf, k=K,
            params={"tier": "distributed", "nprobe": 6}))
        assert [(q, i) for q, i, _ in got2] == \
            [(q, i) for q, i, _ in want2]
        assert all(abs(a[2] - b[2]) < 1e-3
                   for a, b in zip(got2, want2))
        assert got2 != got1
    finally:
        api.invalidate_cached(path)
        # the first generation's shm was kept alive on purpose
        # (release_old=False); the test owns its release
        release_shards(vdf.sparkSession,
                       os.path.join(path, f"gen-{meta1['build_id']}"))
