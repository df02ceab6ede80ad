"""The benchmark's workloads and the measurements they take.

Every workload drives ``gofaiss_spark`` through its public API from the
outside: it generates a clustered corpus, builds and persists an IVF index
(``build_ivf`` + ``save_index`` or ``save_sharded``), opens it for
serving, then sends requests in a closed loop for the timed window and
checks every answer. Recall is measured after the window against an
exact ``LocalFlatIndex`` oracle over the benchmark's own copy of the
live vectors.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from contextlib import nullcontext

import numpy as np

from perfbench import host

# The corpus, and so the index, is the same in every run: seed to seed,
# IVF list and shard balance alone moved sharded_batch's median latency
# by 40%. The run's --seed draws the timed queries, request sizes and
# removed ids.
CORPUS_SEED = 0
DIM = 128
CORPUS_N = 50_000
N_CLUSTERS = 16       # mixture components of the corpus
CLUSTER_SIGMA = 0.05   # per-coordinate std-dev around a component centre
QUERY_NOISE = 0.01     # queries are corpus points plus this much noise
NLIST = 128
NPROBE = 4
K = 10
TRAIN_FRACTION = 0.25  # k-means trains on a sample, as the reference does
RECALL_SAMPLE = 500    # queries scored against the oracle
RECALL_SEED = 1        # the recall sample is the same in every run
WARMUP_REQUESTS = 2    # untimed requests that end set-up
DIST_TOL = 1e-3        # relative tolerance on reported L2 distances

ONLINE_MAX_BATCH = 16  # below api.POOL_MIN_BATCH: in-process local tier
BULK_BATCH = 4096      # above api.POOL_MIN_BATCH: LocalServerPool
SHARD_BATCH = 1024
SHARDS = 4
INGEST_ADD = 2000
INGEST_REMOVE = 200
INGEST_READS = 4
INGEST_READ_BATCH = 64
REMOVE_EVERY = 5       # cycles 0, 5, 10, ... also remove
COMPACT_EVERY = 20     # cycles 0, 20, 40, ... also compact

QUERY_SCHEMA = "query_id long, qvec array<float>"
VECTOR_SCHEMA = "id long, vec array<float>"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one benchmark run: inputs, counters and samples."""

    def __init__(self, seed: int, seconds: float, workdir: str,
                 t_start: float, tracer=None):
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.t_start = t_start  # perf_counter() at process start
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.latencies: list[float] = []        # s, timed reads/searches
        self.write_latencies: list[float] = []  # s, ingest writes
        self.queries_answered = 0
        self.window_s = 0.0
        self.metrics: dict[str, float] = {}  # end-to-end, by name
        self.layer: dict[str, float] = {}    # per-layer, measured directly
        self.closers: list = []  # run at teardown, newest first
        self.list_pops = None  # rows per inverted list (traced runs)
        self.lock = threading.Lock()

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw) if self.tracer else nullcontext()

    def attempt(self) -> None:
        with self.lock:
            self.attempted += 1

    def fail(self, msg: str) -> None:
        with self.lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(msg)

    def record(self, latency_s: float, n_queries: int) -> None:
        with self.lock:
            self.latencies.append(latency_s)
            self.queries_answered += n_queries

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def request(self, rid: str):
        """Context for one request: its root span and, in traced runs,
        a Spark job group so its jobs and tasks can be counted."""
        if self.tracer is None:
            return nullcontext()
        self.spark.sparkContext.setJobGroup(f"perfbench-{rid}", rid)
        return self.tracer.span("request", rid=rid)


# ---------------------------------------------------------------------------
# seeded inputs


class Corpus:
    """A mixture of Gaussians; ``vecs[i]`` is the vector with id ``i``.
    Appended vectors take the next ids; ``live`` marks the ids the index
    should hold."""

    def __init__(self, rng: np.random.Generator, n: int):
        self.rng = rng
        self.centers = rng.random((N_CLUSTERS, DIM), dtype=np.float32)
        self.vecs = self.draw(n)
        self.live = np.ones(n, dtype=bool)

    def draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, N_CLUSTERS, size=n)
        noise = self.rng.normal(0.0, CLUSTER_SIGMA, (n, DIM))
        return self.centers[lab] + noise.astype(np.float32)

    def extend(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """Draw ``n`` new vectors and give them ids; they are not live
        until the index has them."""
        start = len(self.vecs)
        new = self.draw(n)
        self.vecs = np.concatenate([self.vecs, new])
        self.live = np.concatenate([self.live, np.zeros(n, dtype=bool)])
        return np.arange(start, start + n, dtype=np.int64), new

    def queries(self, rng: np.random.Generator, nq: int) -> np.ndarray:
        live_ids = np.flatnonzero(self.live)
        rows = live_ids[rng.integers(0, len(live_ids), size=nq)]
        noise = rng.normal(0.0, QUERY_NOISE, (nq, DIM)).astype(np.float32)
        return self.vecs[rows] + noise


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray,
                  files: int = 1, prefix: str = "part") -> None:
    """Write (id, vec) rows as parquet with pyarrow, in ``files`` parts
    so Spark reads them with that many tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for part, sl in enumerate(np.array_split(np.arange(len(ids)), files)):
        v = np.ascontiguousarray(vecs[sl], dtype=np.float32)
        offsets = np.arange(0, v.size + 1, DIM, dtype=np.int32)
        col = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel()))
        tmp = os.path.join(path, f".{prefix}-{part:03d}.tmp")
        pq.write_table(pa.table({"id": ids[sl], "vec": col}), tmp)
        # a streaming reader must never see a half-written file
        os.rename(tmp, os.path.join(path, f"{prefix}-{part:03d}.parquet"))


def query_df(spark, qmat: np.ndarray):
    import pandas as pd

    pdf = pd.DataFrame({"query_id": np.arange(len(qmat), dtype=np.int64),
                        "qvec": list(qmat.astype(np.float32))})
    return spark.createDataFrame(pdf, schema=QUERY_SCHEMA)


# ---------------------------------------------------------------------------
# answer checks


def check_answer(run: Run, corpus: Corpus, qmat: np.ndarray,
                 ids: np.ndarray, dists: np.ndarray) -> bool:
    """``k`` columns, ascending distances, ids that are live in the
    corpus, and each distance equal to the L2 distance between the
    query and the vector stored under that id."""
    nq = len(qmat)
    if ids.shape != (nq, K) or dists.shape != (nq, K):
        run.fail(f"shape {ids.shape}/{dists.shape}, expected {(nq, K)}")
        return False
    if not np.all(np.diff(dists, axis=1) >= 0):
        run.fail("distances not ascending")
        return False
    if ids.min() < 0 or ids.max() >= len(corpus.vecs):
        run.fail("id outside the corpus")
        return False
    if not corpus.live[ids].all():
        run.fail("id not in the live set (never added, or removed)")
        return False
    diff = qmat[:, None, :].astype(np.float64) - corpus.vecs[ids]
    true = np.sqrt(np.einsum("qkd,qkd->qk", diff, diff))
    if not np.all(np.abs(true - dists) <= DIST_TOL * (1.0 + true)):
        run.fail("reported distance differs from the stored vector's")
        return False
    return True


def df_answer(pdf, nq: int):
    """(query_id, id, distance, rank) rows → (ids, dists) matrices, or
    None when some query lacks exactly the ranks 1..K."""
    if len(pdf) != nq * K:
        return None
    pdf = pdf.sort_values(["query_id", "rank"], kind="stable")
    if not (np.array_equal(pdf["query_id"].to_numpy(),
                           np.repeat(np.arange(nq), K))
            and np.array_equal(pdf["rank"].to_numpy(),
                               np.tile(np.arange(1, K + 1), nq))):
        return None
    return (pdf["id"].to_numpy(dtype=np.int64).reshape(nq, K),
            pdf["distance"].to_numpy(dtype=np.float64).reshape(nq, K))


def check_df_answer(run: Run, corpus: Corpus, qmat: np.ndarray, pdf):
    """The DataFrame form of ``check_answer``; returns (ids, dists)
    when the answer is correct, else None."""
    got = df_answer(pdf, len(qmat))
    if got is None:
        run.fail(f"{len(pdf)} result rows, expected ranks 1..{K} for "
                 f"each of {len(qmat)} queries")
        return None
    return got if check_answer(run, corpus, qmat, *got) else None


def recall_queries(corpus: Corpus) -> np.ndarray:
    return corpus.queries(np.random.default_rng(RECALL_SEED), RECALL_SAMPLE)


def recall_at_k(corpus: Corpus, qmat: np.ndarray, ids: np.ndarray) -> float:
    """Mean overlap of ``ids`` with the exact top-K over the live set."""
    from gofaiss_spark.operators.local_serve import LocalFlatIndex

    live = np.flatnonzero(corpus.live)
    vecs = np.ascontiguousarray(corpus.vecs[live])
    oracle = LocalFlatIndex(ids=live.astype(np.int64), vecs=vecs,
                            metric="l2",
                            norms_sq=np.einsum("ij,ij->i", vecs, vecs))
    truth, _ = oracle.search(qmat, k=K)
    hits = [len(set(a.tolist()) & set(b.tolist())) for a, b in zip(ids, truth)]
    return float(np.mean(hits)) / K


# ---------------------------------------------------------------------------
# shared set-up and the timed window


def start_session(run: Run):
    from gofaiss_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    # the first job that crosses into Python workers pays their start
    n = cpus()
    with run.span("session.first_job"):
        t0 = time.perf_counter()
        spark.range(n, numPartitions=n).mapInPandas(
            lambda it: it, schema="id long").count()
        run.layer["session.first_job_s"] = time.perf_counter() - t0
    return spark


def make_corpus(run: Run) -> tuple[Corpus, str]:
    corpus = Corpus(np.random.default_rng(CORPUS_SEED), CORPUS_N)
    src = run.path("corpus")
    write_vectors(src, np.arange(CORPUS_N, dtype=np.int64), corpus.vecs,
                  files=cpus())
    return corpus, src


def build_index(run: Run, src: str, persist) -> object:
    """``build_ivf`` over the corpus, then ``persist(index)``; the two
    together are the ``build_s`` metric."""
    from gofaiss_spark.operators.ivf import build_ivf

    t0 = time.perf_counter()
    index = build_ivf(run.spark.read.parquet(src), nlist=NLIST,
                      seed=CORPUS_SEED, train_fraction=TRAIN_FRACTION,
                      trainer="local")
    persist(index)
    run.metrics["build_s"] = time.perf_counter() - t0
    if run.tracer is not None:  # list balance costs a Spark job
        run.list_pops = list_populations(index)
        run.layer["ivf.list_max_over_mean"] = float(
            run.list_pops.max() / run.list_pops.mean())
    return index


def artifact_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under an artifact directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return files, size


def record_artifact(run: Run, path: str, corpus: Corpus) -> None:
    """Files and bytes of the workload's artifact, and its bytes per
    raw byte of the live vectors."""
    files, size = artifact_stats(path)
    run.layer["artifacts.files"] = files
    run.layer["artifacts.bytes"] = size
    run.metrics["bytes_per_vector_byte"] = size / (
        int(corpus.live.sum()) * DIM * 4)


def list_populations(index) -> np.ndarray:
    """Rows per inverted list, from ``ivf_health`` (one Spark job)."""
    from gofaiss_spark.operators.ivf import ivf_health

    h = ivf_health(index).select("list_id", "n_vectors").toPandas()
    pops = np.zeros(index.nlist, dtype=np.int64)
    pops[h["list_id"].to_numpy()] = h["n_vectors"].to_numpy()
    return pops


def measure_window(run: Run, loop) -> None:
    """Run ``loop()`` as the timed window, with the host measurements
    around it. Everything before this call is set-up."""
    from gofaiss_spark.operators import local_serve

    run.metrics["setup_s"] = time.perf_counter() - run.t_start
    fallbacks0 = local_serve.GUARD_FALLBACKS
    sampler = host.PssSampler()
    cpu0 = host.tree_cpu_s()
    sampler.start()
    t0 = time.perf_counter()
    try:
        loop()
    finally:
        run.window_s = time.perf_counter() - t0
        run.metrics["peak_rss_mb"] = sampler.stop()
    run.layer["host.cpu_s_per_kquery"] = (host.tree_cpu_s() - cpu0) / max(
        1e-9, run.queries_answered / 1000.0)
    run.layer["local.guard_fallbacks"] = (
        local_serve.GUARD_FALLBACKS - fallbacks0)


def closed_loop(run: Run, clients: int, one_request) -> None:
    """``clients`` threads each send their next request as soon as the
    previous one is answered, until ``run.seconds`` have passed. A
    request that raises counts as failed; the run goes on."""
    deadline = time.perf_counter() + run.seconds

    def client(cid: int) -> None:
        rng = np.random.default_rng([run.seed, cid])
        n = 0
        while time.perf_counter() < deadline:
            run.attempt()
            try:
                one_request(rng, f"q{cid}-{n}")
            except Exception as exc:  # a failed request must not stop the run
                run.fail(f"{type(exc).__name__}: {exc}")
                traceback.print_exc()
            n += 1

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}")
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# ---------------------------------------------------------------------------
# workloads


def online_point(run: Run) -> None:
    """4 closed-loop clients, 1..16 queries per request, through
    ``api.serve(artifact).search_np`` on the resident local tier."""
    from gofaiss_spark import api
    from gofaiss_spark.operators.ivf import probe_lists
    from gofaiss_spark.plans.artifacts import save_index

    corpus, src = make_corpus(run)
    path = run.path("ivf")
    build_index(run, src, lambda index: save_index(index, path))
    srv = api.serve(path, spark=run.spark)
    run.closers.append(lambda: api.invalidate_cached(path))
    run.closers.append(srv.close)
    run.attempt()
    if srv.tier != "local":
        run.fail(f"served from tier {srv.tier!r}, expected 'local'")
    params = {"nprobe": NPROBE}
    run.attempt()
    q = corpus.queries(run.rng, 1)
    check_answer(run, corpus, q, *srv.search_np(q, k=K, params=params))
    pops = run.list_pops
    scanned = [0, 0]

    def one(rng, rid: str) -> None:
        q = corpus.queries(rng, int(rng.integers(1, ONLINE_MAX_BATCH + 1)))
        with run.request(rid):
            t0 = time.perf_counter()
            ids, dists = srv.search_np(q, k=K, params=params)
            lat = time.perf_counter() - t0
        if check_answer(run, corpus, q, ids, dists):
            run.record(lat, len(q))
        if pops is not None:  # traced runs: rows in the probed lists
            probes = probe_lists(srv.index.centroids, np.arange(len(q)), q,
                                 NPROBE, srv.index.metric)
            with run.lock:
                scanned[0] += int(pops[probes["list_id"].to_numpy()].sum())
                scanned[1] += len(q)

    measure_window(run, lambda: closed_loop(run, cpus(), one))
    if scanned[1]:
        run.layer["local.rows_scanned_per_query"] = scanned[0] / scanned[1]
    qs = recall_queries(corpus)
    # in requests of the workload's largest size, below the pool's
    ids, dists = map(np.concatenate, zip(*(
        srv.search_np(qs[i:i + ONLINE_MAX_BATCH], k=K, params=params)
        for i in range(0, RECALL_SAMPLE, ONLINE_MAX_BATCH))))
    run.attempt()
    check_answer(run, corpus, qs, ids, dists)
    run.metrics["recall_at_10"] = recall_at_k(corpus, qs, ids)
    record_artifact(run, path, corpus)


def _search_df(run: Run, corpus: Corpus, target: str, q: np.ndarray,
               params: dict, rid: str):
    """One ``api.search(target, df)`` request with its result collected
    inside the timed part → (checked (ids, dists) or None, latency s)."""
    from gofaiss_spark import api

    qdf = query_df(run.spark, q)
    with run.request(rid):
        t0 = time.perf_counter()
        res = api.search(target, qdf, k=K, params=params)
        with run.span("plan.exec"):
            pdf = res.toPandas()
        lat = time.perf_counter() - t0
    return check_df_answer(run, corpus, q, pdf), lat


def batch_requests(run: Run, corpus: Corpus, target: str, batch: int) -> None:
    """One closed-loop client sending ``batch``-query DataFrames through
    ``api.search(target, df)``, then recall on a fixed sample. The first
    requests load or open the artifact and warm the workers; they belong
    to set-up."""
    params = {"nprobe": NPROBE}
    for _ in range(WARMUP_REQUESTS):
        run.attempt()
        _search_df(run, corpus, target, corpus.queries(run.rng, batch),
                   params, "setup-cold")

    def one(rng, rid: str) -> None:
        q = corpus.queries(rng, batch)
        got, lat = _search_df(run, corpus, target, q, params, rid)
        if got is not None:
            run.record(lat, len(q))

    measure_window(run, lambda: closed_loop(run, 1, one))
    qs = recall_queries(corpus)
    run.attempt()
    got, _ = _search_df(run, corpus, target, qs, params, "recall")
    if got is not None:
        run.metrics["recall_at_10"] = recall_at_k(corpus, qs, got[0])
    record_artifact(run, target, corpus)


def bulk_pool(run: Run) -> None:
    """4096-query DataFrames through ``api.search(path, df)`` on a plain
    artifact: cached load, auto tier, ``LocalServerPool``."""
    from gofaiss_spark import api
    from gofaiss_spark.plans.artifacts import save_index

    corpus, src = make_corpus(run)
    path = run.path("ivf")
    build_index(run, src, lambda index: save_index(index, path))
    run.closers.append(lambda: api.invalidate_cached(path))
    # the pool api.search spawned; the same hook runs at interpreter exit
    run.closers.append(api._close_pools)
    batch_requests(run, corpus, path, BULK_BATCH)


def sharded_batch(run: Run) -> None:
    """1024-query DataFrames through ``api.search(path, df)`` on a
    4-shard artifact: ``ShardedSearcher``, shards resident in the Spark
    Python workers' shared memory, one Spark job per batch."""
    from gofaiss_spark import api
    from gofaiss_spark.operators.shard_serve import save_sharded

    corpus, src = make_corpus(run)
    path = run.path("shards")
    build_index(run, src, lambda index: save_sharded(index, path, SHARDS))
    run.closers.append(lambda: api.invalidate_cached(path))
    batch_requests(run, corpus, path, SHARD_BATCH)


def ingest_scan(run: Run) -> None:
    """Write cycles beside reads from storage: append (streaming),
    remove and compact the saved artifact, then read it back through
    the distributed tier after invalidating the api cache."""
    from gofaiss_spark import api
    from gofaiss_spark.plans.artifacts import (
        compact_index, remove_from_index, save_index)
    from gofaiss_spark.streaming.ops import stream_add_to_ivf

    spark = run.spark
    corpus, src = make_corpus(run)
    path, inbox = run.path("ivf"), run.path("inbox")
    build_index(run, src, lambda index: save_index(index, path))
    run.closers.append(lambda: api.invalidate_cached(path))
    os.makedirs(inbox)
    stream = spark.readStream.schema(VECTOR_SCHEMA).parquet(inbox)
    params = {"tier": "distributed", "nprobe": NPROBE}
    run.attempt()
    _search_df(run, corpus, path, corpus.queries(run.rng, INGEST_READ_BATCH),
               params, "setup-cold")
    stale = [0]

    def write(kind: str, rid: str, op) -> bool:
        run.attempt()
        with run.request(rid):
            t0 = time.perf_counter()
            try:
                ok = op()
            except Exception as exc:  # a failed write must not stop the run
                run.fail(f"{kind}: {type(exc).__name__}: {exc}")
                traceback.print_exc()
                return False
            lat = time.perf_counter() - t0
        if not ok:
            run.fail(f"{kind} did not complete")
            return False
        run.write_latencies.append(lat)
        record_artifact(run, path, corpus)
        return True

    def add() -> bool:
        # Spark runs the micro-batch on its own thread: ambient=True
        # makes that work a child of this span
        with run.span("stream.add", ambient=True):
            query = stream_add_to_ivf(stream, path,
                                      run.path("checkpoint"))
            query.awaitTermination()
        return query.exception() is None

    def stale_probe(new_id: int, gone: list[int]) -> bool:
        """One read through the cached ``api.search(path, ...)`` before
        the invalidate: True when it misses the appended vector or
        returns a removed one."""
        q = corpus.vecs[[new_id] + gone[:1]]
        try:
            pdf = api.search(path, query_df(spark, q), k=K,
                             params=params).toPandas()
        except Exception:  # a stale file listing can point at deleted files
            return True
        top = pdf[pdf["rank"] == 1].sort_values("query_id")["id"].tolist()
        return top[:1] != [new_id] or bool(set(pdf["id"]) & set(gone))

    def loop() -> None:
        rng = np.random.default_rng([run.seed, 0])
        deadline = time.perf_counter() + run.seconds
        cycle = 0
        while time.perf_counter() < deadline:
            new_ids, new_vecs = corpus.extend(INGEST_ADD)
            write_vectors(inbox, new_ids, new_vecs, prefix=f"c{cycle:05d}")
            if write("add", f"w{cycle}-add", add):
                corpus.live[new_ids] = True
            gone: list[int] = []
            if cycle % REMOVE_EVERY == 0:
                victims = rng.choice(np.flatnonzero(corpus.live),
                                     INGEST_REMOVE, replace=False)
                if write("remove", f"w{cycle}-remove",
                         lambda: remove_from_index(
                             spark, path, victims.tolist()) == len(victims)):
                    corpus.live[victims] = False
                    gone = victims.tolist()
            if cycle % COMPACT_EVERY == 0:
                write("compact", f"w{cycle}-compact",
                      lambda: bool(compact_index(spark, path)))
            stale[0] += stale_probe(int(new_ids[0]), gone)
            api.invalidate_cached(path)
            for r in range(INGEST_READS):
                q = corpus.queries(rng, INGEST_READ_BATCH)
                if r == 0:  # self-query: the appended vector at rank 1
                    q[0] = new_vecs[0]
                elif r == 1 and gone:  # a removed vector must stay gone
                    q[0] = corpus.vecs[gone[0]]
                run.attempt()
                try:
                    got, lat = _search_df(run, corpus, path, q, params,
                                          f"q0-{cycle}-{r}")
                except Exception as exc:  # a failed read must not stop the run
                    run.fail(f"read: {type(exc).__name__}: {exc}")
                    traceback.print_exc()
                    continue
                if got is None:
                    continue
                if r == 0 and corpus.live[new_ids[0]] and \
                        got[0][0, 0] != new_ids[0]:
                    run.fail("appended vector not at rank 1 of its "
                             "self-query")
                    continue
                run.record(lat, len(q))
            cycle += 1

    measure_window(run, loop)
    run.layer["api.stale_path_reads"] = stale[0]
    api.invalidate_cached(path)
    qs = recall_queries(corpus)
    run.attempt()
    got, _ = _search_df(run, corpus, path, qs, params, "recall")
    if got is not None:
        run.metrics["recall_at_10"] = recall_at_k(corpus, qs, got[0])
    record_artifact(run, path, corpus)


WORKLOADS = {
    "online_point": online_point,
    "bulk_pool": bulk_pool,
    "sharded_batch": sharded_batch,
    "ingest_scan": ingest_scan,
}
