"""Artifact maintenance: compaction (streaming small-files fix) and
merge-on-read persisted remove (a delete file, folded away by
compaction). The reference cannot express either (ivf.go:176-178
errors "remove not supported"; its gob blob is rewritten wholesale on
every Save)."""

import json
import os
import re
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from gofaiss_spark import api
from gofaiss_spark.plans import artifacts
from gofaiss_spark.plans.artifacts import (
    DELETES,
    _data_files,
    compact_index,
    load_index,
    remove_from_index,
    save_index,
)


@pytest.fixture(scope="module")
def vectors(embeddings):
    return embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).cache()


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _results(spark, path, queries, k=5):
    idx = load_index(spark, path)
    return {
        (r.query_id, r.id, r.rank)
        for r in api.search(idx, queries, k=k, params={"nprobe": 100}).collect()
    }


def test_compact_ivf_after_appends(spark, vectors, queries, tmp_path):
    """Simulated micro-batch appends fragment each list directory;
    compaction must shrink the file count without changing a single
    search result."""
    from gofaiss_spark.operators.ivf import assign_to_centroids

    idx = api.build_index(vectors.filter(F.col("id") % 3 == 0),
                          index_type="ivf", params={"nlist": 8})
    path = str(tmp_path / "ivf")
    api.save(idx, path)

    # three "micro-batches" appended in the artifact layout
    for m in (1, 2):
        batch = vectors.filter(F.col("id") % 3 == m)
        assigned = assign_to_centroids(batch, idx.centroids, idx.metric)
        (assigned.select("id", "vec", "list_id")
         .write.mode("append").partitionBy("list_id")
         .parquet(f"{path}/assignments"))

    before_files = len(_data_files(f"{path}/assignments"))
    before = _results(spark, path, queries)
    report = compact_index(spark, path)
    after = _results(spark, path, queries)

    assert after == before
    assert report["assignments"]["files_after"] < before_files
    assert report["assignments"]["rows"] == vectors.count()


def _mtimes(path):
    """Path → mtime of every data file under ``path``'s tables (the
    ``_deletes/`` files left out)."""
    return {f: os.path.getmtime(f) for f in _data_files(path)
            if f"/{DELETES}/" not in f}


def test_remove_is_partition_pruned(spark, vectors, queries, tmp_path):
    """A remove opens no data file for writing: every list keeps its
    exact files (same paths, same mtimes), and the removed ids are gone
    through ``load_index``. Compaction then rewrites the table without
    them."""
    idx = api.build_index(vectors, index_type="ivf", params={"nlist": 8})
    path = str(tmp_path / "ivf_rm")
    api.save(idx, path)

    assigns = spark.read.parquet(f"{path}/assignments")
    victim_list = assigns.groupBy("list_id").count().orderBy("count").collect()[0]["list_id"]
    victims = [r["id"] for r in assigns.filter(F.col("list_id") == victim_list)
               .limit(3).collect()]
    before = _mtimes(path)

    n = remove_from_index(spark, path, victims)
    assert n == len(victims)

    # every list, the victims' too: identical file set, untouched
    assert _mtimes(path) == before

    # removed ids never surface again
    res = _results(spark, path, queries)
    assert not any(rid in victims for _, rid, _ in res)
    live = load_index(spark, path).assignments
    assert live.count() == vectors.count() - len(victims)
    assert live.filter(F.col("id").isin(victims)).count() == 0

    compact_index(spark, path)
    raw = spark.read.parquet(f"{path}/assignments")
    assert raw.count() == vectors.count() - len(victims)
    assert raw.filter(F.col("id").isin(victims)).count() == 0
    assert _results(spark, path, queries) == res


def test_remove_empties_whole_list(spark, vectors, tmp_path):
    """A list whose rows are all removed is empty through
    ``load_index`` at once; compaction leaves it no directory and folds
    the deletes away (no ``_deletes/``, no meta key)."""
    idx = api.build_index(vectors, index_type="ivf", params={"nlist": 6})
    path = str(tmp_path / "ivf_empty")
    api.save(idx, path)
    assigns = spark.read.parquet(f"{path}/assignments")
    lid = assigns.select("list_id").distinct().collect()[0]["list_id"]
    all_ids = [r["id"] for r in assigns.filter(F.col("list_id") == lid).collect()]
    n = remove_from_index(spark, path, all_ids)
    assert n == len(all_ids)
    live = load_index(spark, path).assignments
    assert live.filter(F.col("list_id") == lid).count() == 0
    assert os.listdir(f"{path}/{DELETES}")

    compact_index(spark, path)
    assert not os.path.isdir(f"{path}/assignments/list_id={lid}")
    left = spark.read.parquet(f"{path}/assignments")
    assert left.filter(F.col("list_id") == lid).count() == 0
    assert left.count() == vectors.count() - len(all_ids)
    assert not os.path.exists(f"{path}/{DELETES}")
    with open(f"{path}/_meta.json") as f:
        assert "deletes" not in json.load(f)


def test_remove_flat_and_noop(spark, vectors, queries, tmp_path):
    idx = api.build_index(vectors, index_type="flat")
    path = str(tmp_path / "flat_rm")
    api.save(idx, path)
    assert remove_from_index(spark, path, [10**9]) == 0  # absent id: no-op
    n = remove_from_index(spark, path, [0, 1])
    assert n == 2
    res = _results(spark, path, queries)
    assert not any(rid in (0, 1) for _, rid, _ in res)


def test_compact_flat_merges_fragments(spark, vectors, tmp_path):
    """Compaction merges down (coalesce — no shuffle); it never
    splits, so a fragmented table lands at ceil(rows/target)."""
    idx = api.build_index(vectors, index_type="flat")
    path = str(tmp_path / "flat_c")
    api.save(idx, path)
    # fragment: two append rounds of 8 partitions each
    frag = idx.vectors.repartition(8)
    for _ in range(2):
        frag.write.mode("append").parquet(f"{path}/vectors")
    assert len(_data_files(f"{path}/vectors")) >= 16
    report = compact_index(spark, path)
    assert report["vectors"]["files_after"] == 1
    assert report["vectors"]["rows"] == vectors.count() * 3


def test_remove_and_compact_keep_the_json_format(spark, vectors, tmp_path):
    """A JSON debug export is read, pruned and rewritten as JSON."""
    path = str(tmp_path / "flat_json")
    save_index(api.build_index(vectors, index_type="flat"), path, fmt="json")
    assert remove_from_index(spark, path, [0, 1]) == 2
    n = vectors.count() - 2
    assert load_index(spark, path).vectors.count() == n
    assert compact_index(spark, path)["vectors"]["rows"] is None
    assert not _data_files(f"{path}/vectors")  # no parquet part files
    assert load_index(spark, path).vectors.count() == n


@pytest.fixture(scope="module")
def ivf_saved(vectors, tmp_path_factory):
    """An nlist-8 IVF artifact, saved once; tests copy it."""
    path = str(tmp_path_factory.mktemp("ivf") / "ivf")
    api.save(api.build_index(vectors, index_type="ivf",
                             params={"nlist": 8}), path)
    return path


def _copy(src, tmp_path):
    return shutil.copytree(src, str(tmp_path / "ivf"))


def _self_queries(spark, path, ids):
    """The rows of ``ids`` as queries: (query matrix, query DataFrame)."""
    rows = (spark.read.parquet(f"{path}/assignments")
            .filter(F.col("id").isin(ids)).orderBy("id").collect())
    q = np.array([r["vec"] for r in rows], dtype=np.float32)
    qdf = spark.createDataFrame(
        [(r["id"], [float(x) for x in r["vec"]]) for r in rows],
        "query_id long, qvec array<float>")
    return q, qdf


def test_remove_is_invisible_on_every_tier(spark, ivf_saved, tmp_path):
    """Each removed row is its own self-query's nearest neighbour, yet
    no tier over the loaded artifact returns it: the in-process local
    tier, the pool, ``save_sharded`` of the loaded index and the
    distributed search, by object and by path."""
    from gofaiss_spark.operators.local_serve import (
        LocalServerPool,
        to_local_ivf,
    )
    from gofaiss_spark.operators.shard_serve import (
        ShardedSearcher,
        save_sharded,
    )

    path = _copy(ivf_saved, tmp_path)
    victims = [0, 1, 2, 3]
    q, qdf = _self_queries(spark, path, victims)
    before = _mtimes(path)
    assert remove_from_index(spark, path, victims) == len(victims)
    assert _mtimes(path) == before

    loaded = load_index(spark, path)
    nprobe = {"nprobe": 8}
    answers = {"local": api._local_search_np(loaded, q, 5, nprobe)[0]}
    with LocalServerPool(to_local_ivf(loaded), workers=2) as pool:
        answers["pool"] = pool.search(q, k=5, nprobe=8)[0]
    sp = str(tmp_path / "sharded")
    save_sharded(loaded, sp, 2)
    with ShardedSearcher(spark, sp) as srv:
        answers["sharded"] = srv.search(q, k=5, nprobe=8)[0]
    for name, target in (("distributed", loaded), ("path", path)):
        res = api.search(target, qdf, k=5,
                         params={"tier": "distributed", **nprobe})
        answers[name] = np.array([r.id for r in res.collect()])
    for tier, ids in answers.items():
        assert not set(ids.ravel().tolist()) & set(victims), tier
    api.invalidate_cached(path)


def test_removed_id_added_again_is_found(spark, ivf_saved, tmp_path):
    """A delete names the file that held the row, so the same id
    appended later (a newer file) is live, before and after
    compaction."""
    from gofaiss_spark.operators.ivf import assign_to_centroids

    path = _copy(ivf_saved, tmp_path)
    q, qdf = _self_queries(spark, path, [5])
    remove_from_index(spark, path, [5])
    idx = load_index(spark, path)
    assert idx.assignments.filter("id = 5").count() == 0
    again = spark.createDataFrame([(5, q[0].tolist())],
                                  "id long, vec array<float>")
    (assign_to_centroids(again, idx.centroids, idx.metric)
     .write.mode("append").partitionBy("list_id")
     .parquet(f"{path}/assignments"))
    for step in ("append", "compact"):
        if step == "compact":
            compact_index(spark, path)
        idx = load_index(spark, path)
        assert idx.assignments.filter("id = 5").count() == 1, step
        top = api.search(idx, qdf, k=1, params={"nprobe": 8}).collect()
        assert [r.id for r in top] == [5], step


def test_probed_search_prunes_lists_with_deletes(spark, ivf_saved, queries,
                                                 tmp_path):
    """The delete filter sits under the probe's ``list_id`` filter,
    which still reaches the scan as a partition filter."""
    from gofaiss_spark.operators.ivf import search_ivf

    path = _copy(ivf_saved, tmp_path)
    remove_from_index(spark, path, [0, 1, 2])
    res = search_ivf(load_index(spark, path), queries, k=5, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*list_id", plan), plan
    assert not {r.id for r in res.collect()} & {0, 1, 2}


def test_live_view_plan_does_not_grow_with_deletes(spark, ivf_saved,
                                                   tmp_path):
    """The deletes reach the plan as a local relation, not as literals:
    after 100 times as many removed rows, the analyzed plan of a load
    is the same length, and the removed rows are still gone."""
    path = _copy(ivf_saved, tmp_path)

    def plan_len():
        df = load_index(spark, path).assignments
        plan = df._jdf.queryExecution().analyzed().toString()
        return len(re.sub(r"#\d+", "", plan))  # expression ids vary

    remove_from_index(spark, path, [0, 1])
    few = plan_len()
    remove_from_index(spark, path, list(range(2, 200)))
    assert plan_len() == few
    live = load_index(spark, path).assignments
    assert live.filter(F.col("id") < 200).count() == 0


def test_remove_that_dies_before_publishing_changes_nothing(
        spark, ivf_saved, tmp_path, monkeypatch):
    """The delete file is written first and counts only once
    ``_meta.json`` lists it: a remove that dies in between leaves the
    meta and every live row as they were."""
    path = _copy(ivf_saved, tmp_path)
    with open(f"{path}/_meta.json") as f:
        meta = f.read()

    def dies(path, meta):
        raise OSError("killed")

    monkeypatch.setattr(artifacts, "_write_meta", dies)
    with pytest.raises(OSError, match="killed"):
        remove_from_index(spark, path, [0, 1])
    monkeypatch.undo()
    assert os.listdir(f"{path}/{DELETES}")  # written, never published
    with open(f"{path}/_meta.json") as f:
        assert f.read() == meta
    live = load_index(spark, path).assignments
    assert live.filter(F.col("id").isin([0, 1])).count() == 2
    compact_index(spark, path)  # drops the unpublished file too
    assert not os.path.exists(f"{path}/{DELETES}")


def test_cached_path_read_follows_remove_and_compact(spark, ivf_saved,
                                                     tmp_path):
    """A remove and a compact republish ``_meta.json``, so the api's
    per-path load cache reloads: a cached read neither returns a
    removed row nor reads files that compaction deleted."""
    path = _copy(ivf_saved, tmp_path)
    _, qdf = _self_queries(spark, path, [0, 1])

    def found():
        res = api.search(path, qdf, k=5,
                         params={"tier": "distributed", "nprobe": 8})
        return {r.id for r in res.collect()} & {0, 1}

    try:
        assert found() == {0, 1}  # loads and caches the artifact
        remove_from_index(spark, path, [0, 1])
        assert not found()
        compact_index(spark, path)
        assert not found()
    finally:
        api.invalidate_cached(path)
