"""Artifact I/O: Spark jobs per build/save/load, driver-written small
matrices, the ``_schema.json`` read path and atomic sidecars.

The centroids and codebooks are written and read on the driver; a load
reads each Spark component with the schema its ``_schema.json``
records. These tests pin the job counts, that artifacts written the
older way (Spark-written matrices, no schema sidecar) still load to the
same index, and that maintenance keeps the sidecar true to the
files."""

import glob
import json
import os
import shutil
import time

import numpy as np
import pytest

from gofaiss_spark.operators.flat import build_flat
from gofaiss_spark.operators.ivf import build_ivf, search_ivf
from gofaiss_spark.operators.ivfpq import build_ivfpq
from gofaiss_spark.operators.shard_serve import save_sharded
from gofaiss_spark.plans import artifacts
from gofaiss_spark.plans.artifacts import (
    compact_index,
    load_index,
    remove_from_index,
    save_index,
)

N, DIM = 2000, 16


@pytest.fixture(scope="module")
def vdf(spark, tmp_path_factory):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((N, DIM)).astype(np.float32)
    src = str(tmp_path_factory.mktemp("corpus") / "vecs")
    spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "id long, vec array<float>",
    ).repartition(4).write.parquet(src)
    return spark.read.parquet(src)


@pytest.fixture(scope="module")
def qdf(spark, vdf):
    return vdf.filter("id % 97 = 0").selectExpr("id as query_id", "vec as qvec")


def _answers(index, qdf, nprobe=4):
    return sorted(
        (r.query_id, r.id, r.rank, r.distance)
        for r in search_ivf(index, qdf, k=5, nprobe=nprobe).collect()
    )


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"artifact-io-{time.time_ns()}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivf_job_counts(spark, vdf, tmp_path):
    """build_ivf(trainer="local") collects its sample once, save and
    open move no driver-sized matrix through Spark, and a load infers
    no schema."""
    idx, n_build = _jobs(spark, lambda: build_ivf(
        vdf, nlist=16, seed=3, train_fraction=0.5, trainer="local"))
    path = str(tmp_path / "ivf")
    _, n_save = _jobs(spark, lambda: save_index(idx, path))
    loaded, n_load = _jobs(spark, lambda: load_index(spark, path))
    _, n_sharded = _jobs(spark, lambda: save_sharded(
        idx, str(tmp_path / "shards"), 4))
    assert n_build <= 5, n_build
    assert n_save <= 2, n_save
    assert n_load <= 1, n_load
    assert n_sharded <= 2, n_sharded
    assert np.array_equal(loaded.centroids, idx.centroids)


def test_local_trainer_centroids_match_ordered_collect(vdf):
    """The one-collect sample gives the rows of ``orderBy(id)``, so the
    centroids are bit-identical to Lloyd over that collect."""
    from gofaiss_spark.functions.kmeans_np import lloyd_kmeans

    pdf = vdf.sample(fraction=0.5, seed=3).orderBy("id").toPandas()
    data = np.array([np.asarray(v) for v in pdf["vec"]], dtype=np.float64)
    want, _ = lloyd_kmeans(data, 16, max_iter=10, init="++", seed=3)
    got = build_ivf(vdf, nlist=16, seed=3, train_fraction=0.5,
                    trainer="local")
    assert np.array_equal(got.centroids, want)
    assert got.dim == DIM


def test_collect_vector_matrix_rejects_ragged(spark):
    from gofaiss_spark.operators.ivf import collect_vector_matrix

    df = spark.createDataFrame([(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0, 4.0])],
                               "id long, vec array<double>")
    with pytest.raises(ValueError, match="dimension"):
        collect_vector_matrix(df)


def test_save_sharded_rows_from_footers(vdf, tmp_path):
    idx = build_ivf(vdf, nlist=16, seed=3, trainer="local")
    meta = save_sharded(idx, str(tmp_path / "shards"), 3)
    lids = np.array([r.list_id for r in idx.assignments.select("list_id")
                     .collect()])
    assert meta["shard_rows"] == [int((lids % 3 == s).sum()) for s in range(3)]
    assert meta["dim"] == DIM and meta["nlist"] == 16


def _spark_write(spark, rows, schema, path, fmt):
    """A small matrix written the way older artifacts were: a Spark
    write with several part files, ``_SUCCESS`` and ``.crc`` files."""
    shutil.rmtree(path)
    getattr(spark.createDataFrame(rows, schema).repartition(3)
            .write, fmt)(path)
    if fmt == "json":  # the loader of that era read it with its schema
        with open(os.path.join(path, "_schema.json"), "w") as f:
            f.write(spark.createDataFrame([], schema).schema.json())
    assert len(glob.glob(f"{path}/part-*")) > 1


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_spark_written_matrices_still_load(spark, vdf, tmp_path, fmt):
    idx = build_ivfpq(vdf, nlist=8, m=4, nbits=4, seed=1, trainer="local")
    path = str(tmp_path / "ivfpq")
    save_index(idx, path, fmt=fmt)
    cents, cb = idx.centroids, idx.codebooks
    _spark_write(spark, [(i, c.tolist()) for i, c in enumerate(cents)],
                 "list_id int, centroid array<double>",
                 f"{path}/centroids", fmt)
    _spark_write(spark, [(m, k, cb[m, k].tolist())
                         for m in range(cb.shape[0])
                         for k in range(cb.shape[1])],
                 "m int, k int, centroid array<double>",
                 f"{path}/codebooks", fmt)
    # a component written before the schema sidecar existed infers
    if fmt == "parquet":
        os.remove(f"{path}/codes/_schema.json")
    loaded = load_index(spark, path)
    assert np.array_equal(loaded.centroids, np.asarray(cents, np.float64))
    assert np.array_equal(loaded.codebooks, np.asarray(cb, np.float64))
    assert loaded.codes.count() == N


def test_resave_replaces_matrices(spark, vdf, tmp_path):
    path = str(tmp_path / "ivf")
    old = build_ivf(vdf, nlist=16, seed=3, trainer="local")
    save_index(old, path)
    # an older Spark-written directory of more part files than a
    # driver write leaves
    _spark_write(spark, [(i, c.tolist()) for i, c in
                         enumerate(old.centroids)],
                 "list_id int, centroid array<double>",
                 f"{path}/centroids", "parquet")
    new = build_ivf(vdf, nlist=8, seed=5, trainer="local")
    save_index(new, path)
    assert len(glob.glob(f"{path}/centroids/*.parquet")) == 1
    assert not glob.glob(f"{path}/centroids/[._]*")
    loaded = load_index(spark, path)
    assert np.array_equal(loaded.centroids, new.centroids)


def _without_sidecars(path, dst):
    shutil.copytree(path, dst)
    for p in glob.glob(f"{dst}/*/_schema.json"):
        os.remove(p)
    return dst


@pytest.mark.parametrize("kind", ["ivf", "flat"])
def test_sidecar_schema_survives_compact_and_remove(
        spark, vdf, qdf, tmp_path, kind):
    """After compact_index and remove_from_index, a load through the
    schema sidecar still equals a load that infers: same schema, same
    answers."""
    if kind == "ivf":
        idx = build_ivf(vdf, nlist=16, seed=3, trainer="local")
    else:
        idx = build_flat(vdf)
    path = str(tmp_path / kind)
    save_index(idx, path)
    table = "assignments" if kind == "ivf" else "vectors"
    schema = getattr(load_index(spark, path), table).schema

    def check(step):
        got = load_index(spark, path)
        ref = load_index(spark, _without_sidecars(path, str(tmp_path / step)))
        assert os.path.exists(f"{path}/{table}/_schema.json")
        assert getattr(got, table).schema == schema
        assert getattr(ref, table).schema == schema
        if kind == "ivf":
            assert _answers(got, qdf) == _answers(ref, qdf)
        else:
            rows = sorted(map(tuple, getattr(got, table).collect()))
            assert rows == sorted(map(tuple, getattr(ref, table).collect()))

    compact_index(spark, path)
    check("compact")
    assert remove_from_index(spark, path, [0, 1, 2, 500, 1999]) == 5
    check("remove")
    assert getattr(load_index(spark, path), table).count() == N - 5


def test_stale_schema_sidecar_is_dropped(spark, vdf, tmp_path):
    path = str(tmp_path / "ivf")
    save_index(build_ivf(vdf, nlist=8, seed=3, trainer="local"), path)
    table = f"{path}/assignments"
    same = load_index(spark, path).assignments.schema
    artifacts._drop_stale_schema(table, same)
    assert os.path.exists(f"{table}/_schema.json")
    artifacts._drop_stale_schema(
        table, spark.createDataFrame([], "id long, vec array<double>").schema)
    assert not os.path.exists(f"{table}/_schema.json")
    assert load_index(spark, path).assignments.count() == N


def test_meta_write_is_atomic(spark, vdf, tmp_path, monkeypatch):
    """A writer that dies midway leaves the previous ``_meta.json``
    whole and loadable, and no temporary file behind."""
    path = str(tmp_path / "flat")
    save_index(build_flat(vdf), path)
    meta_path = f"{path}/_meta.json"
    with open(meta_path) as f:
        before = f.read()

    def torn(obj, fp, **kw):
        fp.write(json.dumps(obj)[:10])
        raise OSError("disk full")

    monkeypatch.setitem(artifacts._MIGRATIONS, artifacts.FORMAT_VERSION,
                        ("9.9.9", lambda spark, path, meta: meta))
    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        artifacts._write_meta(path, {"index_type": "flat", "dim": 3,
                                     "metric": "l2"})
    with pytest.raises(OSError, match="disk full"):
        artifacts.migrate_index(spark, path, target="9.9.9")
    monkeypatch.undo()
    with open(meta_path) as f:
        assert f.read() == before
    assert not glob.glob(f"{path}/*.tmp")
    assert load_index(spark, path).vectors.count() == N


def test_load_of_many_lists_lists_them_on_the_driver(spark, vdf, tmp_path):
    """More list directories than Spark's default parallel-discovery
    threshold (32) are still listed on the driver: no Spark job."""
    path = str(tmp_path / "ivf")
    save_index(build_ivf(vdf, nlist=40, seed=3, trainer="local"), path)
    assert len(glob.glob(f"{path}/assignments/list_id=*")) > 32
    loaded, n_load = _jobs(spark, lambda: load_index(spark, path))
    assert n_load == 0, n_load
    assert loaded.assignments.count() == N


def test_remove_runs_one_job(spark, vdf, tmp_path):
    """A remove finds its victims with one scan and writes no data
    file; before, it rewrote each list holding one, in several jobs."""
    path = str(tmp_path / "ivf")
    save_index(build_ivf(vdf, nlist=16, seed=3, trainer="local"), path)
    n, jobs = _jobs(spark, lambda: remove_from_index(
        spark, path, list(range(0, N, 10))))
    assert (n, jobs) == (N // 10, 1)


def test_format_version_gates_deletes(spark, vdf, tmp_path, monkeypatch):
    """A 1.0.0 artifact (no deletes) loads and migrates to 1.1.0
    unchanged; a 1.0.0 reader refuses an artifact that may carry
    deletes instead of showing deleted rows."""
    path = str(tmp_path / "flat")
    save_index(build_flat(vdf), path)
    meta_path = f"{path}/_meta.json"
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["format_version"] == "1.1.0"
    with open(meta_path, "w") as f:
        json.dump({**meta, "format_version": "1.0.0"}, f)
    assert load_index(spark, path).vectors.count() == N
    assert artifacts.migrate_index(spark, path) == meta

    remove_from_index(spark, path, [0, 1])
    monkeypatch.setattr(artifacts, "FORMAT_VERSION", "1.0.0")
    with pytest.raises(ValueError, match="newer"):
        load_index(spark, path)
