"""The table of tabular index kinds (operators/kinds.py): every tier
reads one record per kind, so these tests pin what the records drive —
the artifact meta and layout, bit-identical answers through load and
the sharded tier, the shm segment keys and the search arguments each
kind takes."""

import json
import os
import re

import numpy as np
import pytest

from gofaiss_spark import api
from gofaiss_spark.operators.flat import build_flat
from gofaiss_spark.operators.ivf import build_ivf
from gofaiss_spark.operators.ivfpq import build_ivfpq
from gofaiss_spark.operators.ivfsq import build_ivfsq
from gofaiss_spark.operators.kinds import KINDS, kind_of
from gofaiss_spark.operators.pq import build_pq
from gofaiss_spark.operators.shard_serve import (
    _SEG_KEYS,
    ShardedSearcher,
    _read_shard_arrays,
    save_sharded,
)
from gofaiss_spark.operators.sq import build_sq
from gofaiss_spark.plans.artifacts import (
    _write_meta,
    compact_index,
    load_index,
    remove_from_index,
    save_index,
)

N, DIM, NLIST = 400, 8, 4

BUILDS = {
    "flat": lambda df: build_flat(df),
    "ivf": lambda df: build_ivf(df, nlist=NLIST, seed=3, trainer="local"),
    "pq": lambda df: build_pq(df, m=4, nbits=4, seed=3),
    "sq": lambda df: build_sq(df),
    "ivfpq": lambda df: build_ivfpq(df, nlist=NLIST, m=4, nbits=4, seed=3,
                                    trainer="local"),
    "ivfsq": lambda df: build_ivfsq(df, nlist=NLIST, seed=3,
                                    trainer="local"),
}


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(5)
    x = rng.standard_normal((N, DIM)).astype(np.float32)
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(x)],
                               "id long, vec array<float>").cache()
    yield df, x[:7] + 0.01
    df.unpersist()


@pytest.fixture(scope="module")
def indexes(corpus):
    df, _ = corpus
    return {kind: build(df) for kind, build in BUILDS.items()}


@pytest.fixture(scope="module")
def saved(indexes, tmp_path_factory):
    """Each kind's artifact in each format, saved once."""
    root = tmp_path_factory.mktemp("saved")
    out = {}
    for kind, idx in indexes.items():
        for fmt in ("parquet", "json"):
            out[kind, fmt] = str(root / f"{kind}-{fmt}")
            save_index(idx, out[kind, fmt], fmt=fmt)
    return out


def _pinned_meta(kind, idx, fmt):
    """The ``_meta.json`` each kind wrote before the kinds table, keys
    in file order."""
    rng = {"vmin": [float(x) for x in idx.vmin],
           "vmax": [float(x) for x in idx.vmax]} if "sq" in kind else {}
    params = {
        "flat": None,
        "ivf": {"nlist": NLIST},
        "pq": {"m": 4, "nbits": 4},
        "sq": rng,
        "ivfpq": {"nlist": NLIST, "m": 4, "nbits": 4},
        "ivfsq": {"nlist": NLIST, **rng},
    }[kind]
    meta = {"index_type": kind, "dim": DIM, "metric": "l2"}
    if params is not None:
        meta["params"] = params
    return {**meta, "format": fmt, "format_version": "1.1.0"}


def _pinned_layout(kind):
    """(directory, file) of each kind's artifact; Spark part files as
    ``part``, checksum files left out."""
    table = {"flat": "vectors", "ivf": "assignments"}.get(kind, "codes")
    out = {(".", "_meta.json"), (table, "_SUCCESS"), (table, "_schema.json")}
    if kind in ("ivf", "ivfpq", "ivfsq"):
        out |= {(f"{table}/list_id={c}", "part") for c in range(NLIST)}
        out.add(("centroids", "part"))
    else:
        out.add((table, "part"))
    if kind in ("pq", "ivfpq"):
        out.add(("codebooks", "part"))
    return out


def _layout(path):
    out = set()
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                out.add((os.path.relpath(d, path),
                         re.sub(r"^part-.*", "part", f)))
    return out


@pytest.mark.parametrize("fmt", ["parquet", "json"])
@pytest.mark.parametrize("kind", list(BUILDS))
def test_save_writes_the_pinned_meta_and_layout(indexes, saved, kind, fmt):
    path = saved[kind, fmt]
    with open(os.path.join(path, "_meta.json")) as f:
        text = f.read()
    # key order too: the file is byte-for-byte what it was
    assert text == json.dumps(_pinned_meta(kind, indexes[kind], fmt),
                              indent=2)
    assert _layout(path) == _pinned_layout(kind)


@pytest.mark.parametrize("kind", list(BUILDS))
def test_load_and_sharded_round_trip_bit_identical(
        spark, corpus, indexes, saved, tmp_path, kind):
    """The loaded artifact and the sharded tier answer bit for bit what
    the live index's local replica answers, and every array a shard
    reads has an shm segment key ``_SEG_KEYS`` unlinks (a quantized
    shard saved with ``vectors=`` adds only ``vecs``, which the Flat
    and IVF shards read too)."""
    _, q = corpus
    idx = indexes[kind]
    want = api._local_search_np(idx, q, 5, {"nprobe": 2})

    loaded = load_index(spark, saved[kind, "parquet"])
    assert kind_of(loaded) is KINDS[kind]
    for a, b in zip(api._local_search_np(loaded, q, 5, {"nprobe": 2}), want):
        np.testing.assert_array_equal(a, b)

    sp = str(tmp_path / "sharded")
    meta = save_sharded(idx, sp, 3)
    for s in range(3):
        assert set(_read_shard_arrays(sp, s, meta)) <= set(_SEG_KEYS)
    with ShardedSearcher(spark, sp) as srv:
        got = srv.search(q, k=5, nprobe=2)
    for a, b in zip(got, want):
        np.testing.assert_array_equal(a, b)


@pytest.mark.parametrize("kind", list(BUILDS))
def test_distributed_search_passes_only_the_kinds_arguments(
        indexes, monkeypatch, kind):
    """``api.search`` on the distributed tier gives each kind only the
    arguments it takes (IVF no refine or base), calling its search by
    the module-global name."""
    import importlib

    kd = KINDS[kind]
    owner = importlib.import_module(kd.index.__module__)
    *cls, name = kd.search.split(".")
    if cls:
        owner = getattr(owner, cls[0])
    calls = []
    monkeypatch.setattr(owner, name,
                        lambda index, queries, k, **kw: calls.append(kw))
    api.search(indexes[kind], None, k=3, params={
        "tier": "distributed", "nprobe": 2, "refine": 2, "base": "rows",
        "method": "expr"})
    full = {"method": "expr", "nprobe": 2, "refine": 2, "base": "rows"}
    want = {"flat": ["method"], "ivf": ["nprobe"], "pq": ["refine", "base"],
            "sq": ["refine", "base"]}.get(kind, ["nprobe", "refine", "base"])
    assert calls == [{key: full[key] for key in want}]


@pytest.mark.parametrize(
    "itype", ["hnsw", "hnsw_routed", "hnsw_sharded", "pca", "text_bm25"])
def test_remove_and_compact_reject_artifacts_they_cannot_rewrite(
        spark, tmp_path, itype):
    """Neither reports success having done nothing: a remove used to
    return 0 and a compact ``{}``, the answers for "id absent" and
    "nothing to compact"."""
    path = str(tmp_path / itype)
    _write_meta(path, {"index_type": itype, "dim": 4, "metric": "l2"})
    with pytest.raises(ValueError, match=itype):
        remove_from_index(spark, path, [1, 2])
    with pytest.raises(ValueError, match=itype):
        compact_index(spark, path)


@pytest.mark.parametrize("kind", list(BUILDS))
def test_localized_mb_counts_the_replica_rows(indexes, kind):
    """``api.localized_mb`` is the local replica's row matrix in its
    own dtype (PQ codes are uint16) plus 16 bytes a row."""
    idx, kd = indexes[kind], KINDS[kind]
    local = kd.localize(idx)
    rows = local.codes if kd.row_col == "code" else local.vecs
    assert api.localized_mb(idx) * 2 ** 20 == rows.nbytes + 16 * N
