"""OPQ (operators/opq.py): rotation orthogonality, search validity,
and the headline property — lower quantization error than plain PQ
on correlated data."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gofaiss_spark.operators.opq import build_opq, search_opq, train_opq_rotation


def _correlated(n=2000, dim=32, rank=4, seed=5):
    """Low-intrinsic-dimension data — the regime where subspace
    alignment matters (real embedding corpora look like this)."""
    rng = np.random.default_rng(seed)
    z = rng.normal(size=(n, rank))
    a = rng.normal(size=(rank, dim))
    return (z @ a + 0.05 * rng.normal(size=(n, dim))).astype(np.float64)


def test_rotation_is_orthogonal():
    data = _correlated()
    r, cb = train_opq_rotation(data, m=4, nbits=4, n_iter=4)
    assert np.allclose(r @ r.T, np.eye(data.shape[1]), atol=1e-8)
    assert cb.shape == (4, 16, 8)


def test_opq_beats_pq_quantization_error():
    from gofaiss_spark.functions.kmeans_np import lloyd_kmeans

    data = _correlated()
    m, nbits = 4, 4
    ksub, dsub = 16, data.shape[1] // m

    def recon_err(x, cbs):
        err = 0.0
        for j in range(m):
            sl = x[:, j * dsub:(j + 1) * dsub]
            cb = cbs[j]
            d2 = ((sl[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            err += d2.min(1).sum()
        return err / len(x)

    # plain PQ on identity rotation
    pq_cbs = np.zeros((m, ksub, dsub))
    for j in range(m):
        pq_cbs[j], _ = lloyd_kmeans(
            data[:, j * dsub:(j + 1) * dsub], ksub, init="++", seed=42 + j
        )
    r, opq_cbs = train_opq_rotation(data, m, nbits, n_iter=8)
    assert recon_err(data @ r, opq_cbs) < 0.7 * recon_err(data, pq_cbs)


def test_opq_search_valid_and_refine_exact(spark):
    data = _correlated(n=500, dim=32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(data)]
    vec = spark.createDataFrame(rows, "id long, vec array<float>")
    q = spark.createDataFrame(
        [(int(i), [float(x) for x in data[i]]) for i in range(20)],
        "query_id long, qvec array<float>",
    )
    idx = build_opq(vec, m=4, nbits=4, n_iter=4)
    res = search_opq(idx, q, k=5).cache()
    assert res.count() == 100
    per_q = res.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)
    # refined: exact distances in the ORIGINAL space, self-query at rank 1
    ref = search_opq(idx, q, k=5, refine=10, base=vec).cache()
    top1 = {r["query_id"]: r for r in ref.filter(F.col("rank") == 1).collect()}
    hits = sum(1 for qid, r in top1.items() if r["id"] == qid)
    assert hits >= 18  # self is its own nearest neighbor
    assert all(abs(r["distance"]) < 1e-3 for r in top1.values() if r["id"] == r["query_id"])


def test_opq_recall_beats_pq_on_correlated_data(spark):
    from gofaiss_spark.bench_util import recall_at_k
    from gofaiss_spark.operators.pq import build_pq, search_pq
    from gofaiss_spark.operators.topk import search_flat

    data = _correlated(n=2000, dim=32, rank=4)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(data)]
    vec = spark.createDataFrame(rows, "id long, vec array<float>").cache()
    qd = _correlated(n=50, dim=32, rank=4, seed=99)
    q = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(qd)],
        "query_id long, qvec array<float>",
    ).cache()
    truth = search_flat(vec, q, k=10).cache()
    truth.count()
    pq = build_pq(vec, m=4, nbits=4)
    opq = build_opq(vec, m=4, nbits=4, n_iter=8)
    r_pq = recall_at_k(search_pq(pq, q, k=10), truth, 10)
    r_opq = recall_at_k(search_opq(opq, q, k=10), truth, 10)
    # measured: pq 0.17, opq 0.47 — the rotation aligns subspaces
    # with the data's principal directions
    assert r_opq >= 2 * r_pq
    assert r_opq >= 0.4


def test_opq_save_load_roundtrip(spark, tmp_path):
    from gofaiss_spark.plans.artifacts import load_index, save_index

    data = _correlated(n=300, dim=32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(data)]
    vec = spark.createDataFrame(rows, "id long, vec array<float>")
    q = spark.createDataFrame(
        [(int(i), [float(x) for x in data[i]]) for i in range(10)],
        "query_id long, qvec array<float>",
    )
    idx = build_opq(vec, m=4, nbits=4, n_iter=3)
    path = str(tmp_path / "opq_idx")
    save_index(idx, path)
    loaded = load_index(spark, path)
    a = sorted(map(tuple, search_opq(idx, q, k=5).collect()))
    b = sorted(map(tuple, search_opq(loaded, q, k=5).collect()))
    assert a == b
    assert loaded.stats()["index_type"] == "opq"


def test_remove_keeps_opq_rotation(spark, tmp_path):
    """remove_from_index deletes rows from the id-keyed tables only:
    OPQ's rotation (keyed by row number ``i``) is not a data row, so
    removing ids 0-2 must leave the saved rotation unchanged."""
    from gofaiss_spark.plans.artifacts import (
        load_index,
        remove_from_index,
        save_index,
    )

    data = _correlated(n=300, dim=16)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(data)]
    vec = spark.createDataFrame(rows, "id long, vec array<float>")
    idx = build_opq(vec, m=4, nbits=4, n_iter=3, rotate=True)
    path = str(tmp_path / "opq_rm")
    save_index(idx, path)
    assert remove_from_index(spark, path, [0, 1, 2]) == 3
    loaded = load_index(spark, path)
    np.testing.assert_array_equal(loaded.rotation, idx.rotation)
    assert loaded.pq.codes.filter("id < 3").count() == 0


def test_opq_via_unified_api(spark):
    from gofaiss_spark.api import build_index, search

    data = _correlated(n=300, dim=32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(data)]
    vec = spark.createDataFrame(rows, "id long, vec array<float>")
    q = spark.createDataFrame(
        [(int(i), [float(x) for x in data[i]]) for i in range(5)],
        "query_id long, qvec array<float>",
    )
    idx = build_index(vec, "opq", params={"m": 4, "nbits": 4, "n_iter": 3})
    res = search(idx, q, k=3)
    assert res.count() == 15


# --- round 11: rotate="auto" measured decision rule (r10-verdict
#     item 7; BENCH_AB opq_10m_pareto_r10: rotation is a no-op on
#     flat-spectrum data, 1.41x recall on low-rank) ---


def test_spectral_concentration_separates_regimes():
    from gofaiss_spark.operators.opq import spectral_concentration

    rng = np.random.default_rng(11)
    flat = rng.normal(size=(2000, 32))
    low = _correlated(rank=4)
    assert spectral_concentration(flat) < 0.5
    assert spectral_concentration(low) > 0.9


def test_auto_rotate_picks_rotation_on_low_rank(spark):
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(_correlated(n=600))],
        "id long, vec array<float>",
    )
    idx = build_opq(df, m=4, nbits=4, n_iter=2, rotate="auto")
    assert idx.rotation_trained is True
    assert idx.spectral_energy is not None and idx.spectral_energy >= 0.6
    assert not np.allclose(idx.rotation, np.eye(idx.dim))
    assert idx.stats()["rotation_trained"] is True


def test_auto_rotate_skips_on_flat_spectrum(spark):
    rng = np.random.default_rng(12)
    df = spark.createDataFrame(
        [(int(i), v.tolist())
         for i, v in enumerate(rng.normal(size=(600, 32)))],
        "id long, vec array<float>",
    )
    idx = build_opq(df, m=4, nbits=4, n_iter=2, rotate="auto")
    assert idx.rotation_trained is False
    assert idx.spectral_energy is not None and idx.spectral_energy < 0.6
    assert np.allclose(idx.rotation, np.eye(idx.dim))
    # identity-rotation index still searches: top-1 self-query hits
    q = spark.createDataFrame(
        [(int(i), df.collect()[i].vec) for i in range(3)],
        "query_id long, qvec array<float>",
    )
    out = search_opq(idx, q, k=1).collect()
    assert len(out) == 3


def test_rotate_false_and_bad_value(spark):
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(_correlated(n=300))],
        "id long, vec array<float>",
    )
    idx = build_opq(df, m=4, nbits=4, rotate=False)
    assert idx.rotation_trained is False and idx.spectral_energy is None
    with pytest.raises(ValueError, match="rotate must be"):
        build_opq(df, m=4, nbits=4, rotate="maybe")


def test_auto_rotate_via_unified_api(spark):
    from gofaiss_spark import api

    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(_correlated(n=300))],
        "id long, vec array<float>",
    )
    idx = api.build_index(
        df, index_type="opq",
        params={"m": 4, "nbits": 4, "n_iter": 2, "rotate": "auto"})
    assert idx.rotation_trained is True


def test_auto_rotate_decision_survives_save_load(spark, tmp_path):
    """ADVICE r11 (low): rotation_trained/spectral_energy are now
    persisted in the artifact params, so a rotate='auto' index that
    SKIPPED rotation does not come back reporting
    rotation_trained=True after a save/load round trip (and a legacy
    artifact without the fields derives the flag from
    rotation == identity)."""
    from gofaiss_spark.plans.artifacts import load_index, save_index

    rng = np.random.default_rng(12)
    df = spark.createDataFrame(
        [(int(i), v.tolist())
         for i, v in enumerate(rng.normal(size=(600, 32)))],
        "id long, vec array<float>",
    )
    idx = build_opq(df, m=4, nbits=4, n_iter=2, rotate="auto")
    assert idx.rotation_trained is False
    path = str(tmp_path / "opq_auto_skip")
    save_index(idx, path)
    loaded = load_index(spark, path)
    assert loaded.rotation_trained is False
    assert loaded.spectral_energy == pytest.approx(
        idx.spectral_energy)
    s = loaded.stats()
    assert s["rotation_trained"] is False
    assert s["spectral_energy"] == pytest.approx(
        round(idx.spectral_energy, 4))
    # legacy-artifact fallback: strip the new params and re-load —
    # the flag derives from the identity rotation
    import json as _json
    import os as _os
    mp = _os.path.join(path, "_meta.json")
    with open(mp) as f:
        meta = _json.load(f)
    meta["params"].pop("rotation_trained")
    meta["params"].pop("spectral_energy")
    with open(mp, "w") as f:
        _json.dump(meta, f)
    legacy = load_index(spark, path)
    assert legacy.rotation_trained is False
    assert legacy.spectral_energy is None
