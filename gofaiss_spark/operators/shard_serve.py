"""Executor-colocated sharded serving — FAISS IndexShards semantics at
cluster scale (the middle tier between the distributed parquet plans
and the driver-colocated LocalServerPool).

Reference parity: the reference serves its whole index from one
process's RAM (pkg/index/*, benchmark_comparison.go); that tier stops
at one machine. This module shards the same cell-major CSR serving
kernels (operators/local_serve.py) across Spark executors so the
serving index can exceed single-node RAM while keeping in-memory QPS:

- The index is persisted ONCE as a shard-partitioned parquet artifact
  (``shard_id = id % num_shards``) plus small sidecar files
  (meta JSON, centroids parquet for IVF).
- Serving a query batch is a W-task Python RDD job over
  ``range(W)`` (``parallelize`` gives exactly one task id per
  partition); no index data moves through the per-batch job, and the
  candidates come back as pickled arrays with no DataFrame plan.
- Each task loads its shard's arrays straight from the artifact into
  a module-level cache. Spark reuses Python workers across jobs
  (``spark.python.worker.reuse``, default true), so steady-state
  every executor answers from pinned RAM like a LocalServerPool
  worker — but shards live on different machines, and each batch
  pays Spark's fixed cost per job and per Python task: on 4 CPUs
  an empty 4-task Python job takes ~120 ms, against ~45 ms for a
  pure-JVM one, when the workers start from
  ``gofaiss_spark.worker_daemon`` (~310 ms when they do not; see
  ``session.get_spark``).
- Queries ride to executors via a per-batch broadcast; every shard
  answers its local exact/pruned top-k, and the driver merges the
  W×k candidate lists per query. The merge is exact: every global
  top-k member is, within its own shard, also a top-k member (fewer
  competitors), so the union of per-shard top-ks contains the global
  top-k; per-candidate distances are f64 re-scored from the same
  (query, vector) pair in every tier, so merged results are
  bit-identical to a single-node index over the union
  (tests/test_shard_serve.py).

100 TB posture: shard count scales with corpus / per-executor RAM;
the per-batch cost is W×G tasks × (nq/G × shard_n) BLAS with nprobe
pruning on the IVF path — the same work a 1000-executor cluster does
for one batch, with zero shuffle (results are nq×k×W narrow rows).
Known overhead vs the single-node pool at equal corpus: every shard
re-runs probe selection for its queries (probe work ×W; measured
~1.6× total CPU at 1M/8 shards/nprobe=100) — the price of shards
that need no cross-shard coordination. IVF artifacts shard by LIST
so cells stay whole (a cell fragmented across W shards shrinks every
per-cell GEMM by W× — measured 3.5× slower end-to-end at
1M/nlist=1000 before the change).

Shard arrays are pinned in HOST-level POSIX shared memory, keyed by
(build_id, shard_id): the first task that serves a shard on a host
reads its parquet slice once and exports the CSR arrays to named
segments; every later task — in ANY python worker on that host —
attaches zero-copy. Spark's python-worker pool gives no worker→task
affinity (a 4-task job on local[32] lands on 4 arbitrary workers
every batch), so a per-worker cache alone re-reads parquet almost
every call; the host cache makes the reload cost once-per-host-per-
shard regardless of worker churn. Segments persist until
``ShardedSearcher.close()`` / ``release_shards()`` unlinks them
(they are unregistered from Python's resource tracker, which would
otherwise unlink them whenever the creating worker exits).

Caveats (documented contract): the artifact is immutable per path
(rewrites must use a new path or bump the meta ``build_id``, which
keys both caches); call ``close()`` when done serving or the host
keeps the segments pinned.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections import OrderedDict

import numpy as np

from gofaiss_spark.functions.distance import validate_metric
from gofaiss_spark.plans.artifacts import _read_matrix, _write_json, _write_matrix

SHARD_META = "_shard_meta.json"
CURRENT_PTR = "_current.json"
# per-python-worker handle cache: (path, build_id, shard_id) ->
# (index, [shm handles kept alive so the views stay mapped])
_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_CACHE_MAX = 8


def save_sharded(index_or_vectors, path: str, num_shards: int,
                 metric: str | None = None,
                 vec_col: str = "vec", id_col: str = "id",
                 vectors=None) -> dict:
    """Persist a shard-partitioned serving artifact.

    Accepts any tabular kind (``kinds.KINDS``: Flat, IVF, PQ, SQ,
    IVFPQ, IVFSQ) or a raw (id, vec) DataFrame, read through
    ``local_serve._index_parts`` like every other tier. The cell kinds'
    shards carry list_id; per-shard serving uses the GLOBAL centroids,
    so nprobe cell selection is identical to the single-node index.
    Quantized shards carry codes (the families you shard first at
    100 TB; reference's biggest index is IVFPQ, ivfpq.go:57-76);
    codebooks/centroids/quantizer params ride as per-shard sidecar
    arrays, and the serving kernel is the matching Local*Index.

    ``vectors``: optional (id, vec) DataFrame — when given with a
    quantized index, the original rows are stored next to the codes so
    serving can ``refine=`` (exact re-rank of the ADC top-(k·refine)
    against the shard's own rows, the FAISS RefineFlat pattern).
    Returns the meta dict written to ``_shard_meta.json``.
    """
    from pyspark.sql import functions as F

    from gofaiss_spark.operators.kinds import KINDS, kind_of
    from gofaiss_spark.operators.local_serve import _index_parts

    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    # Documented contract: the artifact lives on a host-visible POSIX
    # path (local disk, NFS, or a fuse mount). The shard parquet goes
    # through Spark (which would accept s3a:// etc.), but the meta
    # sidecar and the executor-side cold reads use plain open()/
    # pyarrow on the SAME string — an object-store URI would write
    # shards remotely and then fail (or worse, half-work) on the
    # sidecar. Fail fast instead of leaving a torn artifact.
    if "://" in path or path.startswith("file:"):
        raise ValueError(
            "save_sharded requires a plain POSIX path visible to every "
            f"executor host (got {path!r}); object-store URIs are not "
            "supported — copy the artifact to a shared filesystem"
        )

    kd = kind_of(index_or_vectors)
    if kd is None:  # a raw (id, vec) DataFrame
        kd, side, dim = KINDS["flat"], {}, None
        metric = metric or "l2"
        df = index_or_vectors.select(F.col(id_col).alias("id"),
                                     F.col(vec_col).alias("vec"))
    else:
        spec, side, df = _index_parts(index_or_vectors)
        metric, dim = metric or spec["metric"], spec["dim"]
    # the PQ kinds' m and nbits and the SQ kinds' vmin and step ride in
    # the meta; centroids and codebooks in sidecar files
    quant = {key: getattr(index_or_vectors, key) for key in ("m", "nbits")
             if key in kd.params}
    quant.update((key, [float(x) for x in side[key]])
                 for key in ("vmin", "step") if key in side)
    kind, cols = kd.name, df.columns
    validate_metric(metric)
    persisted = None
    if vectors is not None:
        if kd.row_col == "vec":
            raise ValueError(
                "vectors= is for quantized kinds (flat/ivf shards "
                "already store the vectors)")
        # Fail fast on an incomplete vectors frame: an inner join
        # would silently DROP code rows whose ids are missing,
        # shrinking the served corpus with no error (refine would then
        # silently exclude those rows). The check is folded into the
        # join itself: LEFT join, persist, count the null-vec rows —
        # the codes and vectors plans are each evaluated exactly ONCE
        # (at persist materialization); the shard write below reads
        # the cache. (The previous id-only anti-join was narrow but
        # still re-ran both input plans — a full extra Spark pass per
        # quantized artifact write at 10M scale.) DISK_ONLY, not
        # MEMORY_AND_DISK: the joined frame is the full raw-vector
        # payload — at 10M rows a memory-first persist pressures the
        # single-JVM heap into OOM (the round-6 56 GB RSS class),
        # while the write below reads it exactly once anyway.
        from pyspark import StorageLevel

        df = df.join(
            vectors.select(F.col(id_col).alias("id"),
                           F.col(vec_col).alias("vec")), "id", "left")
        persisted = df.persist(StorageLevel.DISK_ONLY)
        n_missing = df.filter(F.col("vec").isNull()).count()
        if n_missing:
            df.unpersist()
            raise ValueError(
                f"vectors= is missing {n_missing} id(s) present in the "
                "index codes — refine would silently exclude those rows; "
                "pass the full base-vector DataFrame")
        cols = cols + ["vec"]

    # IVF/IVFPQ shard by LIST, not id: a cell fragmented across W
    # shards shrinks every per-cell GEMM/ADC batch by W× and the
    # serving kernel goes overhead-bound (measured 3.5× slower at
    # 1M/nlist=1000); keeping cells whole preserves batch size and
    # lets a shard skip batches whose probed cells it doesn't hold.
    # Flat/PQ/SQ have no cell structure — id-sharding balances them
    # exactly.
    shard_key = "list_id" if kd.cell else "id"
    sharded = df.withColumn(
        "shard_id", F.pmod(F.col(shard_key), F.lit(num_shards)).cast("int")
    )
    # one file per shard: each serving task reads exactly its slice
    (sharded.repartition(num_shards, "shard_id")
     .select(*cols, "shard_id")
     .write.mode("overwrite").partitionBy("shard_id")
     .parquet(f"{path}/shards"))
    if "centroids" in side:
        _write_matrix(f"{path}/centroids", side["centroids"])
    if "codebooks" in side:
        np.save(f"{path}/codebooks.npy", side["codebooks"])
    if dim is None:  # a raw DataFrame: the only case that runs its plan again
        dim = len(df.select("vec").first()["vec"])
    meta = {
        "kind": kind,
        "metric": metric,
        "num_shards": int(num_shards),
        "dim": int(dim),
        "nlist": len(side["centroids"]) if "centroids" in side else None,
        # partitionBy writes no directory for an empty shard (sparse
        # ids, num_shards > nlist): with 0 rows here, a missing
        # directory is a valid empty shard, not a torn artifact
        "shard_rows": _footer_rows(path, num_shards),
        "has_vectors": vectors is not None,
        # cache key component: a rewrite at the same path must change it
        "build_id": os.urandom(8).hex(),
        **quant,
    }
    _write_json(os.path.join(path, SHARD_META), meta)
    if persisted is not None:
        persisted.unpersist()
    return meta


def _read_shard_meta(path: str) -> dict:
    with open(os.path.join(path, SHARD_META)) as f:
        return json.load(f)


def _resolve_generation(path: str) -> str:
    """Resolve a refresh-managed root to its CURRENT generation
    directory (or return ``path`` unchanged for a plain artifact).
    The pointer file is swapped with os.replace, so a reader sees the
    previous or the next complete generation — never a torn one."""
    ptr = os.path.join(path, CURRENT_PTR)
    try:
        with open(ptr) as f:
            gen = json.load(f)["generation"]
    except FileNotFoundError:
        return path
    return os.path.join(path, gen)


def refresh_sharded(index_or_vectors, path: str, num_shards: int,
                    metric: str | None = None,
                    vec_col: str = "vec", id_col: str = "id",
                    vectors=None, release_old: bool = True,
                    drop_old: bool = False) -> dict:
    """Publish a NEW serving generation under ``path`` with an atomic
    swap — the streaming-ingest → sharded-serving refresh recipe (the
    cluster-scale analogue of the reference's incremental add under
    mutex, hnsw.go:97-139; r5 verdict item 8 / r4 item 8).

    Protocol (queries never see a torn index):
    1. The full artifact (shards + sidecars + meta) is written to a
       HIDDEN staging directory under ``path`` — invisible to every
       ``ShardedSearcher`` because the current-generation pointer
       doesn't reference it.
    2. The staging dir is renamed to ``gen-<build_id>`` and the
       pointer file ``_current.json`` is swapped via ``os.replace``
       (atomic on POSIX): any reader resolves the OLD complete
       generation or the NEW complete generation, nothing in between.
       In-flight query batches keep serving the generation they
       resolved at batch start.
    3. The old generation's host shared-memory segments are released
       (``release_old``) — a batch that races the release simply
       rebuilds from the old gen's parquet, which stays on disk
       unless ``drop_old`` removes it after the swap. ``drop_old``
       IMPLIES the shm release: deleting the artifact destroys the
       only record of its build_id, and skipping the release would
       orphan the old segments in /dev/shm forever.

    Typical streaming use: ``foreachBatch`` accumulates into an index
    build, then calls ``refresh_sharded``; a long-lived
    ``ShardedSearcher(spark, path)`` follows the pointer per batch.
    Returns the new generation's meta dict.
    """
    import shutil

    os.makedirs(path, exist_ok=True)
    stage = os.path.join(path, f".staging-{os.urandom(6).hex()}")
    try:
        meta = save_sharded(index_or_vectors, stage, num_shards,
                            metric=metric, vec_col=vec_col,
                            id_col=id_col, vectors=vectors)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    gen = f"gen-{meta['build_id']}"
    os.rename(stage, os.path.join(path, gen))

    old_gen = None
    ptr = os.path.join(path, CURRENT_PTR)
    try:
        with open(ptr) as f:
            old_gen = json.load(f)["generation"]
    except FileNotFoundError:
        pass
    # the atomic publish point
    _write_json(ptr, {"generation": gen, "build_id": meta["build_id"]})

    # drop_old IMPLIES the shm release: deleting the old artifact
    # destroys the only record of its build_id, so skipping the
    # release here would permanently orphan up to the full index size
    # in /dev/shm on every serving host with no artifact left to
    # release it from.
    if old_gen is not None:
        old_path = os.path.join(path, old_gen)
        if (release_old or drop_old) and os.path.isdir(old_path):
            spark = _spark_of(index_or_vectors, vectors)
            if spark is not None:
                release_shards(spark, old_path)
        if drop_old:
            shutil.rmtree(old_path, ignore_errors=True)
    elif os.path.exists(os.path.join(path, SHARD_META)):
        # first refresh over a plain save_sharded artifact at the
        # root: before the pointer existed, searchers resolved the
        # root itself, so the ROOT artifact is the old generation —
        # release its host-shm segments (otherwise up to the full
        # index size stays pinned in /dev/shm on every serving host)
        # and honor drop_old for its on-disk files. The root meta is
        # left in place unless drop_old: it is harmless (readers now
        # follow the pointer) and keeps the pre-refresh artifact
        # loadable for rollback.
        if release_old or drop_old:
            spark = _spark_of(index_or_vectors, vectors)
            if spark is not None:
                release_shards(spark, path)
        if drop_old:
            for leaf in ("shards", "centroids", "codebooks.npy",
                         SHARD_META):
                p = os.path.join(path, leaf)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                elif os.path.exists(p):
                    os.remove(p)
    return meta


def _spark_of(index_or_vectors, vectors):
    for obj in (index_or_vectors, vectors):
        for attr in ("sparkSession",):
            s = getattr(obj, attr, None)
            if s is not None:
                return s
        for attr in ("vectors", "assignments", "codes"):
            df = getattr(obj, attr, None)
            if df is not None:
                return df.sparkSession
    return None


def _footer_rows(path: str, num_shards: int) -> list[int]:
    """Rows per shard, summed from the Parquet footers under
    ``path/shards`` (no data is read; an empty shard has no
    directory)."""
    import pyarrow.parquet as pq

    rows = [0] * num_shards
    for s in range(num_shards):
        d = f"{path}/shards/shard_id={s}"
        if os.path.isdir(d):
            rows[s] = sum(pq.read_metadata(os.path.join(d, fn)).num_rows
                          for fn in os.listdir(d) if fn.endswith(".parquet"))
    return rows


def _read_shard_arrays(path: str, shard_id: int, meta: dict) -> dict:
    """Read one shard's parquet slice into its local index's arrays
    (the cold path — runs once per host per shard): the shared
    Arrow-native builder ``local_serve.local_arrays`` (the one the
    distributed searches and ``to_local*`` use) plus the centroids and
    codebooks sidecars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gofaiss_spark.operators.kinds import KINDS
    from gofaiss_spark.operators.local_serve import local_arrays

    kd = KINDS[meta["kind"]]
    shard_dir = f"{path}/shards/shard_id={int(shard_id)}"
    cols = ["id", kd.row_col]
    if kd.cell:
        cols.append("list_id")
    if kd.row_col == "code" and meta.get("has_vectors"):
        cols.append("vec")
    if os.path.isdir(shard_dir):
        tbl = pq.read_table(shard_dir, columns=cols)
    else:
        # partitionBy writes no directory for an empty shard; the
        # shard_rows manifest distinguishes "validly empty" from a
        # torn artifact
        rows = meta.get("shard_rows")
        if rows is not None and rows[int(shard_id)] != 0:
            raise FileNotFoundError(
                f"shard {shard_id} missing at {shard_dir} but the "
                f"manifest records {rows[int(shard_id)]} rows — torn "
                "artifact"
            )
        tbl = pa.table({c: pa.array([], pa.list_(pa.float32())
                                    if c in ("vec", "code") else pa.int64())
                        for c in cols})
    arrays = local_arrays(tbl, meta)
    if "codebooks" in kd.quantizer:
        arrays["codebooks"] = np.ascontiguousarray(
            np.load(f"{path}/codebooks.npy"))
    if kd.cell:
        arrays["centroids"] = _read_matrix(
            f"{path}/centroids", (meta["nlist"], meta["dim"]))
    return arrays


def _seg_name(build_id: str, shard_id: int, key: str) -> str:
    # POSIX shm names share a host-global namespace — build_id (random
    # per save_sharded) keys the artifact generation
    return f"gfs{build_id}s{int(shard_id)}{key}"


def _shm_open(name: str, create: bool = False, size: int = 0):
    """Open a named segment WITHOUT registering it with Python's
    resource tracker. The tracker unlinks every segment a process
    created or attached when that process exits (bpo-39959; the
    ``track=`` opt-out only exists from 3.13), which would tear down
    the host cache whenever Spark recycles a python worker — and
    register/unregister pairs split across forked workers that share
    one tracker daemon leave noisy KeyErrors in its log. Lifecycle is
    explicit instead: ``release_shards`` / ``close`` unlink. The
    brief monkeypatch is safe here: shm opens happen on the task
    thread only."""
    from multiprocessing import resource_tracker, shared_memory

    orig = resource_tracker.register
    resource_tracker.register = lambda *a, **k: None
    try:
        if create:
            return shared_memory.SharedMemory(
                name=name, create=True, size=size)
        return shared_memory.SharedMemory(name=name)
    finally:
        resource_tracker.register = orig


def _shm_unlink(shm) -> None:
    """Unlink without the paired tracker unregister (the segment was
    never registered — see ``_shm_open``)."""
    from multiprocessing import resource_tracker

    orig = resource_tracker.unregister
    resource_tracker.unregister = lambda *a, **k: None
    try:
        shm.unlink()
    finally:
        resource_tracker.unregister = orig


def _attach_shard_segments(build_id: str, shard_id: int):
    """Attach one shard's named segments (raises FileNotFoundError if
    the host cache has no complete set). The 'ok' sentinel is written
    last by the builder and carries the array spec, so its presence
    guarantees every array segment is complete."""
    sent = _shm_open(_seg_name(build_id, shard_id, "ok"))
    handles = [sent]
    try:
        spec = json.loads(
            bytes(sent.buf).split(b"\x00", 1)[0].decode())
        arrays = {}
        for key, sp in spec.items():
            shm = _shm_open(_seg_name(build_id, shard_id, key))
            handles.append(shm)
            arrays[key] = np.ndarray(
                tuple(sp["shape"]), dtype=np.dtype(sp["dtype"]),
                buffer=shm.buf)
        return handles, arrays
    except Exception:
        for h in handles:
            h.close()
        raise


def _build_shard_segments(path: str, build_id: str, shard_id: int,
                          meta: dict) -> None:
    """Cold path: read the shard's parquet and export its arrays to
    named host shared memory. Caller must hold the shard's flock."""
    arrays = _read_shard_arrays(path, shard_id, meta)
    spec = {}
    for key, arr in arrays.items():
        name = _seg_name(build_id, shard_id, key)
        try:
            shm = _shm_open(name, create=True, size=max(1, arr.nbytes))
        except FileExistsError:
            # leftover from a crashed builder (no sentinel): replace
            stale = _shm_open(name)
            stale.close()
            _shm_unlink(stale)
            shm = _shm_open(name, create=True, size=max(1, arr.nbytes))
        if arr.nbytes:
            np.ndarray(arr.shape, dtype=arr.dtype,
                       buffer=shm.buf)[:] = arr
        shm.close()
        spec[key] = {"shape": list(arr.shape), "dtype": str(arr.dtype)}
    payload = json.dumps(spec).encode()
    try:
        sent = _shm_open(_seg_name(build_id, shard_id, "ok"),
                         create=True, size=len(payload) + 1)
    except FileExistsError:
        # we hold the shard's flock, so no live builder exists: an
        # existing sentinel is either complete (attach would have
        # succeeded and we wouldn't be here) or torn from a crashed
        # builder mid-write — replace it, else every future attach
        # fails on the torn JSON forever
        stale = _shm_open(_seg_name(build_id, shard_id, "ok"))
        stale.close()
        _shm_unlink(stale)
        sent = _shm_open(_seg_name(build_id, shard_id, "ok"),
                         create=True, size=len(payload) + 1)
    sent.buf[:len(payload)] = payload
    sent.close()


_SEG_KEYS = ("ok", "ids", "vecs", "norms_sq", "centroids", "offsets",
             "codes", "codebooks")


def _unlink_shard_segments(build_id: str, shard_id: int) -> int:
    """Best-effort unlink of one shard's segments on THIS host.
    Returns the number of segments removed."""
    n = 0
    for key in _SEG_KEYS:
        try:
            shm = _shm_open(_seg_name(build_id, shard_id, key))
            shm.close()
            _shm_unlink(shm)
            n += 1
        except FileNotFoundError:
            pass
    try:
        os.unlink(os.path.join(
            tempfile.gettempdir(), f".{_seg_name(build_id, shard_id, 'lk')}"))
    except OSError:
        pass
    return n


def _load_shard(path: str, build_id: str, shard_id: int, meta: dict):
    """Load one shard as its Local*Index (``local_index``), a view
    over the HOST shared-memory cache. Runs inside executor python workers.

    Order: per-worker handle cache → attach host segments → (under a
    host-local flock, so concurrent slice tasks of one cold shard
    build once) read parquet + export segments, then attach."""
    from gofaiss_spark.operators.local_serve import local_index

    key = (path, build_id, int(shard_id))
    hit = _CACHE.get(key)
    if hit is not None:
        _CACHE.move_to_end(key)
        return hit[0]

    # ValueError covers a TORN sentinel (json.JSONDecodeError is a
    # ValueError): a reader can attach between the builder's segment
    # creation and its payload write. The flock path below serializes
    # against the builder, after which the sentinel is either complete
    # or provably abandoned (rebuilt by _build_shard_segments).
    try:
        handles, arrays = _attach_shard_segments(build_id, shard_id)
    except (FileNotFoundError, ValueError):
        import fcntl

        lock_path = os.path.join(
            tempfile.gettempdir(), f".{_seg_name(build_id, shard_id, 'lk')}")
        with open(lock_path, "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                # another task may have built while we waited
                try:
                    handles, arrays = _attach_shard_segments(
                        build_id, shard_id)
                except (FileNotFoundError, ValueError):
                    _build_shard_segments(path, build_id, shard_id, meta)
                    handles, arrays = _attach_shard_segments(
                        build_id, shard_id)
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    quantizer = {key: np.asarray(meta[key], dtype=np.float64)
                 for key in ("vmin", "step") if key in meta}
    idx = local_index(meta["kind"], meta["metric"], {**arrays, **quantizer})
    _CACHE[key] = (idx, handles)
    while len(_CACHE) > _CACHE_MAX:
        _, (_, old_handles) = _CACHE.popitem(last=False)
        for h in old_handles:
            h.close()
    return idx


class ShardedSearcher:
    """Driver handle for an executor-colocated sharded artifact.

    ``search(qmat, k, nprobe)`` runs one W-task RDD job (one task per
    shard via ``parallelize``'s exact range partitioning), merges the W
    per-shard top-k lists per query on the driver (nq×k×W rows —
    narrow by construction), and returns (ids (nq, k), dists (nq, k))
    ascending (distance, id) — bit-identical to the single-node local
    index over the same rows."""

    def __init__(self, spark, path: str, slices_per_shard: int | None = None):
        self.spark = spark
        # ``path`` may be a refresh-managed root (contains
        # ``_current.json``) or a plain artifact; the searcher follows
        # the pointer per batch, so refresh_sharded swaps take effect
        # on the next search() without tearing the in-flight one
        self.root = path
        self._slices_opt = slices_per_shard
        self.path = _resolve_generation(path)
        self._bind(self.path)

    def _bind(self, path: str) -> None:
        spark = self.spark
        slices_per_shard = self._slices_opt
        self.path = path
        self.meta = _read_shard_meta(path)
        w = self.meta["num_shards"]
        # One serving task per (shard, query slice): G slices per shard
        # so total tasks ≈ the cluster's core count and every task runs
        # its kernel single-threaded — process-level parallelism beats
        # W fat tasks × multi-threaded BLAS on the same cores (the same
        # topology result as LocalServerPool's 32x1 vs 8x4 A/B). On a
        # real cluster each shard's G slice tasks land on (at most G)
        # hosts; each host pays one cold parquet→shm load per shard it
        # ever serves, then attaches from host memory.
        par = max(1, spark.sparkContext.defaultParallelism)
        self.slices = (slices_per_shard if slices_per_shard
                       else max(1, min(16, par // w)))

    @property
    def num_shards(self) -> int:
        return self.meta["num_shards"]

    def _maybe_refresh(self) -> None:
        """Follow the refresh pointer: if refresh_sharded published a
        new generation since the last batch, re-bind to it (one small
        JSON read per batch; the swap itself is atomic)."""
        cur = _resolve_generation(self.root)
        if cur != self.path:
            self._bind(cur)

    def search(self, qmat: np.ndarray, k: int = 10,
               nprobe: int | None = None,
               refine: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        """``refine`` (quantized kinds only, artifact saved with
        ``vectors=``): each shard exactly re-ranks its ADC
        top-(k·refine) against its own stored rows before the merge —
        the merged result's distances are exact, and its candidate
        pool is a SUPERSET of the single-node refine pool (every
        global ADC top-(k·refine) member is also in its own shard's
        top-(k·refine)). k ≤ 0 returns every probed candidate, as the
        local and distributed tiers do: the width is the largest
        per-query count."""
        self._maybe_refresh()
        if refine is not None and not self.meta.get("has_vectors"):
            raise ValueError(
                "refine requires an artifact saved with vectors=")
        q = np.ascontiguousarray(qmat, dtype=np.float32)
        nq = q.shape[0]
        if nq == 0:
            return (np.empty((0, max(k, 0)), dtype=np.int64),
                    np.empty((0, max(k, 0)), dtype=np.float64))
        from gofaiss_spark.operators.kinds import KINDS

        meta = self.meta
        path, build_id = self.path, meta["build_id"]
        args = KINDS[meta["kind"]].args(
            nprobe=nprobe if nprobe is not None else 10, refine=refine)
        sc = self.spark.sparkContext
        bq = sc.broadcast(q)
        w, n_slices = meta["num_shards"], self.slices

        def part(tasks):
            qv = bq.value
            nq_all = len(qv)
            for task in tasks:
                sid, sli = task % w, task // w
                lo = nq_all * sli // n_slices
                hi = nq_all * (sli + 1) // n_slices
                if lo >= hi:
                    continue
                idx = _load_shard(path, build_id, sid, meta)
                if idx.ids.shape[0] == 0:
                    continue
                ids, dists = idx.search(qv[lo:hi], k=k, **args)
                kk = ids.shape[1]
                qi = np.repeat(np.arange(lo, hi, dtype=np.int64), kk)
                fid, fd = ids.ravel(), dists.ravel()
                # drop per-shard padding rows (underfull pools pad
                # with id=int64.max / inf) so they never reach the
                # merge as candidates
                m = np.isfinite(fd)
                yield qi[m], fid[m], fd[m]

        # A plain RDD job, one task per (shard, slice): parallelize of a
        # range gives exactly one element per partition. The candidates
        # come back as pickled arrays, with no DataFrame plan and no
        # Arrow conversion on either side. On 4 CPUs an empty 4-task RDD
        # job takes ~120 ms against ~225 ms for mapInPandas, and there
        # is less JVM code for a fresh session to warm up: perfbench
        # sharded_batch's p50 ~400 ms against ~450 ms, spread no wider
        n_tasks = w * n_slices
        parts = sc.parallelize(range(n_tasks), n_tasks).mapPartitions(
            part).collect()
        bq.unpersist(blocking=False)

        # exact W-way merge: top-k by (distance, id) within each query
        def column(j, dtype):
            return np.concatenate(
                [p[j] for p in parts] + [np.empty(0, dtype)]).astype(dtype)

        qi = column(0, np.int64)
        ids = column(1, np.int64)
        dist = column(2, np.float64)
        order = np.lexsort((ids, dist, qi))
        qi, ids, dist = qi[order], ids[order], dist[order]
        starts = np.searchsorted(qi, np.arange(nq + 1))
        avail = np.diff(starts)
        kout = int(avail.max(initial=0))
        if k > 0:
            kout = min(k, kout)
        out_ids = np.full((nq, kout), np.iinfo(np.int64).max, dtype=np.int64)
        out_d = np.full((nq, kout), np.inf, dtype=np.float64)
        take = np.minimum(avail, kout)
        rows = np.repeat(np.arange(nq), take)
        # rank of each kept candidate within its query: its position
        # in the output minus the query's first output position
        cols = np.arange(rows.size) - np.repeat(np.cumsum(take) - take, take)
        src = np.repeat(starts[:-1], take) + cols
        out_ids[rows, cols] = ids[src]
        out_d[rows, cols] = dist[src]
        return out_ids, out_d

    def close(self) -> int:
        """Unlink this artifact's host shared-memory segments on every
        host (best-effort: one over-partitioned job so each worker —
        and therefore each host — gets a chance to run the unlink;
        idempotent, safe to call twice). Returns the number of
        segments removed cluster-wide."""
        return release_shards(self.spark, self.path, meta=self.meta)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False

    def stats(self) -> dict:
        total = int(sum(self.meta.get("shard_rows")
                        or _footer_rows(self.path, self.num_shards)))
        return {
            "kind": self.meta["kind"],
            "metric": self.meta["metric"],
            "num_shards": self.num_shards,
            "dim": self.meta["dim"],
            "n_vectors": total,
            "memory_mb_per_shard": round(
                total / max(1, self.num_shards) * self.meta["dim"] * 4
                / 2**20, 2
            ),
        }


def _release_here(build_id: str, w: int) -> int:
    """Drop this process's cached handles of ``build_id``'s shards and
    unlink this host's segments (idempotent). Returns the number of
    segments removed."""
    for key in list(_CACHE):
        if key[1] == build_id:
            _, handles = _CACHE.pop(key)
            for h in handles:
                h.close()
    return sum(_unlink_shard_segments(build_id, s) for s in range(w))


def _release_task(build_id: str, w: int, _it):
    """``release_shards``' task body. A module-level function, so
    cloudpickle ships it by reference and it purges the WORKER's own
    ``_CACHE``; a closure is shipped by value, with a pickled copy of
    the driver's ``_CACHE`` (and its SharedMemory handles) as its
    globals."""
    yield _release_here(build_id, w)


def release_shards(spark, path: str, meta: dict | None = None) -> int:
    """Unlink the host shared-memory segments of a sharded artifact on
    every host. Runs one over-partitioned job (4 tasks per parallelism
    slot) so every pooled python worker — and therefore every host —
    executes the idempotent unlink; also purges matching entries from
    each worker's handle cache so the freed memory unmaps promptly.

    If the job cannot run, this host's segments are freed directly
    (segments are addressed by build_id-derived names, no Spark
    needed). That is the crashed-JVM escape hatch: a 10M-vector
    artifact pins ~5 GB of /dev/shm, and close() must not leak it just
    because the session died first. Remote hosts' segments are then
    reclaimed by the next attach (stale-generation rebuild) or a fresh
    release_shards call from a live session."""
    import functools
    import warnings

    meta = meta or _read_shard_meta(path)
    build_id, w = meta["build_id"], meta["num_shards"]
    try:
        sc = spark.sparkContext
        n_tasks = max(w, max(1, sc.defaultParallelism) * 4)
        n = int(sc.parallelize(range(n_tasks), n_tasks).mapPartitions(
            functools.partial(_release_task, build_id, w)).sum())
    except Exception as exc:
        warnings.warn(
            f"release_shards: cluster-wide unlink job failed ({exc}); "
            "unlinked this host's segments only",
            RuntimeWarning,
        )
        n = 0
    # and the driver's own handles, when it attached shards itself
    return n + _release_here(build_id, w)
