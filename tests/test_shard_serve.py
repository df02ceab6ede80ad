"""Executor-colocated sharded serving: bit-identity gates against the
single-node local indexes (the same contract LocalServerPool carries,
one tier up). Reference analogue: serving an index larger than one
process's RAM — the regime the reference cannot enter at all
(benchmark/README.md positions HNSW at ~1.5 GB/1M vectors on a single
node)."""

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F

from gofaiss_spark.operators.ivf import build_ivf
from gofaiss_spark.operators.local_serve import to_local, to_local_ivf
from gofaiss_spark.operators.shard_serve import (
    ShardedSearcher,
    _seg_name,
    save_sharded,
)


@pytest.fixture(scope="module")
def vectors(spark, embeddings):
    df = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def qmat(vectors):
    pdf = vectors.orderBy("id").limit(20).toPandas()
    return np.stack(pdf["vec"].to_numpy()).astype(np.float32)


class TestFlatSharded:
    def test_bit_identity_vs_local(self, spark, vectors, qmat, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "flat4")
        save_sharded(vectors, path, num_shards=4)
        with ShardedSearcher(spark, path) as srv:
            sids, sd = srv.search(qmat, k=10)
        lids, ld = to_local(vectors).search(qmat, k=10)
        np.testing.assert_array_equal(sids, lids)
        np.testing.assert_array_equal(sd, ld)  # exact: same f64 re-score

    def test_single_shard_equals_local(self, spark, vectors, qmat,
                                       tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "flat1")
        save_sharded(vectors, path, num_shards=1)
        with ShardedSearcher(spark, path) as srv:
            sids, sd = srv.search(qmat, k=5)
        lids, ld = to_local(vectors).search(qmat, k=5)
        np.testing.assert_array_equal(sids, lids)
        np.testing.assert_array_equal(sd, ld)

    def test_empty_batch(self, spark, vectors, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "flat_e")
        save_sharded(vectors, path, num_shards=2)
        with ShardedSearcher(spark, path) as srv:
            dim = srv.meta["dim"]
            ids, d = srv.search(np.empty((0, dim), dtype=np.float32), k=10)
        assert ids.shape == (0, 10) and d.shape == (0, 10)

    def test_k_larger_than_n(self, spark, vectors, qmat, tmp_path_factory):
        small = vectors.limit(7)
        path = str(tmp_path_factory.mktemp("shard") / "flat_small")
        save_sharded(small, path, num_shards=3)
        with ShardedSearcher(spark, path) as srv:
            ids, d = srv.search(qmat[:3], k=10)
        assert ids.shape == (3, 7)  # capped at n, like the local kernel
        lids, ld = to_local(small).search(qmat[:3], k=10)
        np.testing.assert_array_equal(ids, lids[:, :7])

    def test_bad_args(self, spark, vectors, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "flat_bad")
        with pytest.raises(ValueError, match="num_shards"):
            save_sharded(vectors, path, num_shards=0)


class TestIvfSharded:
    @pytest.fixture(scope="class")
    def ivf(self, vectors):
        idx = build_ivf(vectors, nlist=8, seed=42)
        idx.assignments.cache().count()
        return idx

    def test_bit_identity_vs_local_ivf(self, spark, ivf, qmat,
                                       tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "ivf4")
        save_sharded(ivf, path, num_shards=4)
        local = to_local_ivf(ivf)
        with ShardedSearcher(spark, path) as srv:
            for npr in (2, 4, 8):
                sids, sd = srv.search(qmat, k=10, nprobe=npr)
                lids, ld = local.search(qmat, k=10, nprobe=npr)
                np.testing.assert_array_equal(sids, lids)
                np.testing.assert_array_equal(sd, ld)

    def test_full_probe_equals_flat(self, spark, ivf, vectors, qmat,
                                    tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "ivf_fp")
        save_sharded(ivf, path, num_shards=3)
        with ShardedSearcher(spark, path) as srv:
            sids, sd = srv.search(qmat, k=10, nprobe=8)  # nprobe == nlist
        fids, fd = to_local(vectors).search(qmat, k=10)
        np.testing.assert_array_equal(sids, fids)
        np.testing.assert_array_equal(sd, fd)

    def test_cache_stable_across_batches(self, spark, ivf, qmat,
                                         tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "ivf_warm")
        save_sharded(ivf, path, num_shards=2)
        with ShardedSearcher(spark, path) as srv:
            a = srv.search(qmat, k=5, nprobe=4)
            b = srv.search(qmat, k=5, nprobe=4)  # warm (host shm cache)
        np.testing.assert_array_equal(a[0], b[0])
        np.testing.assert_array_equal(a[1], b[1])

    def test_nonpositive_k_matches_local_ivf(self, spark, ivf, qmat,
                                             tmp_path_factory):
        """k ≤ 0 returns every probed candidate, as the local replica
        does; the merge is as wide as the largest per-query count, and
        an empty batch has shape (0, 0)."""
        path = str(tmp_path_factory.mktemp("shard") / "ivf_k0")
        save_sharded(ivf, path, num_shards=4)
        with ShardedSearcher(spark, path) as srv:
            sids, sd = srv.search(qmat, k=0, nprobe=2)
            eids, ed = srv.search(qmat[:0], k=0, nprobe=2)
        lids, ld = to_local_ivf(ivf).search(qmat, k=0, nprobe=2)
        w = sids.shape[1]
        assert w == np.isfinite(ld).sum(axis=1).max()
        assert not np.isfinite(ld[:, w:]).any()
        np.testing.assert_array_equal(sids, lids[:, :w])
        np.testing.assert_array_equal(sd, ld[:, :w])
        assert eids.shape == ed.shape == (0, 0)

    def test_stats(self, spark, ivf, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "ivf_stats")
        save_sharded(ivf, path, num_shards=2)
        with ShardedSearcher(spark, path) as srv:
            st = srv.stats()
        assert st["kind"] == "ivf" and st["num_shards"] == 2
        assert st["n_vectors"] == ivf.assignments.count()
        assert st["memory_mb_per_shard"] > 0


class TestHostShmLifecycle:
    """The shard CSR arrays are pinned in host shared memory so ANY
    python worker serves warm regardless of Spark's worker churn;
    close() must unlink them on every host."""

    def _segs(self, build_id):
        return glob.glob(f"/dev/shm/*{build_id}*")

    def test_segments_created_and_released(self, spark, vectors, qmat,
                                           tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "flat_shm")
        meta = save_sharded(vectors, path, num_shards=2)
        srv = ShardedSearcher(spark, path)
        try:
            srv.search(qmat, k=5)
            # both shards' segment sets exist on this host after a search
            assert len(self._segs(meta["build_id"])) >= 2 * 4
        finally:
            removed = srv.close()
        assert removed >= 2 * 4
        assert self._segs(meta["build_id"]) == []

    def test_close_purges_every_worker_handle_cache(
            self, spark, vectors, qmat, tmp_path_factory):
        """close() drops the artifact's handles from each python
        worker's own ``_CACHE``, so no worker keeps the unlinked
        segments mapped."""
        path = str(tmp_path_factory.mktemp("shard") / "flat_cache")
        meta = save_sharded(vectors, path, num_shards=2)
        sc = spark.sparkContext
        n = sc.defaultParallelism * 4

        def cached(_it):
            import importlib

            ss = importlib.import_module(
                "gofaiss_spark.operators.shard_serve")
            yield {key[1] for key in ss._CACHE}

        def seen():
            return set().union(*sc.parallelize(range(n), n)
                               .mapPartitions(cached).collect())

        srv = ShardedSearcher(spark, path)
        try:
            srv.search(qmat, k=5)
            assert meta["build_id"] in seen()
        finally:
            srv.close()
        assert meta["build_id"] not in seen()

    def test_close_idempotent_and_rewarm(self, spark, vectors, qmat,
                                         tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "flat_shm2")
        save_sharded(vectors, path, num_shards=2)
        srv = ShardedSearcher(spark, path)
        a = srv.search(qmat, k=5)
        srv.close()
        assert srv.close() == 0  # idempotent
        # a released artifact re-warms from parquet on next search
        b = srv.search(qmat, k=5)
        np.testing.assert_array_equal(a[0], b[0])
        np.testing.assert_array_equal(a[1], b[1])
        srv.close()

    def test_close_with_dead_session_frees_local_segments(
            self, spark, vectors, qmat, tmp_path_factory):
        """A crashed/stopped JVM must not leak /dev/shm on this host:
        close() falls back to a direct local unlink (a 10M artifact
        pins ~5 GB — the round-6 bench OOM left 288 segments behind
        before this fallback existed)."""

        class _DeadSparkContext:
            @property
            def defaultParallelism(self):
                raise RuntimeError("JVM gone")

        class _DeadSpark:
            sparkContext = _DeadSparkContext()

        path = str(tmp_path_factory.mktemp("shard") / "flat_dead")
        meta = save_sharded(vectors, path, num_shards=2)
        srv = ShardedSearcher(spark, path)
        srv.search(qmat, k=5)
        assert len(self._segs(meta["build_id"])) >= 2 * 4
        srv.spark = _DeadSpark()
        with pytest.warns(RuntimeWarning, match="JVM gone"):
            removed = srv.close()
        assert removed >= 2 * 4
        assert self._segs(meta["build_id"]) == []

    def test_rewrite_same_path_new_build_id(self, spark, vectors, qmat,
                                            tmp_path_factory):
        path = str(tmp_path_factory.mktemp("shard") / "flat_shm3")
        m1 = save_sharded(vectors, path, num_shards=2)
        with ShardedSearcher(spark, path) as s1:
            s1.search(qmat, k=5)
            m2 = save_sharded(vectors.limit(9), path, num_shards=2)
            assert m2["build_id"] != m1["build_id"]  # cache can't alias
            with ShardedSearcher(spark, path) as s2:
                ids, _ = s2.search(qmat[:2], k=20)
                assert ids.shape == (2, 9)  # serves the NEW 9-row build

    def test_seg_name_deterministic(self):
        assert _seg_name("abc", 3, "vecs") == _seg_name("abc", 3, "vecs")
        assert _seg_name("abc", 3, "vecs") != _seg_name("abc", 4, "vecs")


class TestRefresh:
    """refresh_sharded: atomic generation swap — a long-lived searcher
    follows the pointer per batch and never sees a torn index (r5
    verdict item 8; reference analogue hnsw.go:97-139's add-under-
    mutex, one tier up)."""

    def test_swap_serves_new_generation(self, spark, vectors, qmat,
                                        tmp_path_factory):
        import glob as _glob

        from gofaiss_spark.operators.local_serve import to_local
        from gofaiss_spark.operators.shard_serve import refresh_sharded

        root = str(tmp_path_factory.mktemp("shard") / "refresh_root")
        a = vectors.filter(F.col("id") % 2 == 0).cache()
        b = vectors.cache()
        m1 = refresh_sharded(a, root, num_shards=2)
        srv = ShardedSearcher(spark, root)
        try:
            ids1, d1 = srv.search(qmat, k=5)
            la, lda = to_local(a).search(qmat, k=5)
            np.testing.assert_array_equal(ids1, la)
            np.testing.assert_array_equal(d1, lda)

            m2 = refresh_sharded(b, root, num_shards=2)
            assert m2["build_id"] != m1["build_id"]
            # the same searcher follows the pointer to the new gen
            ids2, d2 = srv.search(qmat, k=5)
            lb, ldb = to_local(b).search(qmat, k=5)
            np.testing.assert_array_equal(ids2, lb)
            np.testing.assert_array_equal(d2, ldb)
            # old generation's segments were released on this host
            assert _glob.glob(f"/dev/shm/*{m1['build_id']}*") == []
        finally:
            srv.close()

    def test_unpublished_staging_is_invisible(self, spark, vectors, qmat,
                                              tmp_path_factory):
        import os

        from gofaiss_spark.operators.local_serve import to_local
        from gofaiss_spark.operators.shard_serve import refresh_sharded

        root = str(tmp_path_factory.mktemp("shard") / "refresh_root2")
        refresh_sharded(vectors, root, num_shards=2)
        srv = ShardedSearcher(spark, root)
        try:
            # a torn/incomplete writer: a generation directory exists
            # but the pointer was never swapped → must be invisible
            os.makedirs(os.path.join(root, "gen-deadbeef"))
            ids, d = srv.search(qmat, k=5)
            lids, ld = to_local(vectors).search(qmat, k=5)
            np.testing.assert_array_equal(ids, lids)
            np.testing.assert_array_equal(d, ld)
        finally:
            srv.close()

    def test_refresh_over_root_artifact_releases_root(
            self, spark, vectors, qmat, tmp_path_factory):
        """ADVICE r6: the FIRST refresh over a plain save_sharded
        artifact at the root (no _current.json yet) must treat the
        root artifact as the old generation — release its host-shm
        segments (otherwise up to the full index stays pinned in
        /dev/shm on every serving host) and honor drop_old for its
        on-disk shards."""
        import glob as _glob
        import os

        from gofaiss_spark.operators.local_serve import to_local
        from gofaiss_spark.operators.shard_serve import refresh_sharded

        root = str(tmp_path_factory.mktemp("shard") / "refresh_root4")
        m0 = save_sharded(vectors, root, num_shards=2)
        srv = ShardedSearcher(spark, root)
        try:
            srv.search(qmat, k=5)  # pins the root artifact's shm
            assert _glob.glob(f"/dev/shm/*{m0['build_id']}*")
            m1 = refresh_sharded(vectors, root, num_shards=2,
                                 drop_old=True)
            assert m1["build_id"] != m0["build_id"]
            # root generation released on this host + shards dropped
            assert _glob.glob(f"/dev/shm/*{m0['build_id']}*") == []
            assert not os.path.isdir(os.path.join(root, "shards"))
            # the same searcher follows the pointer to the new gen
            ids, d = srv.search(qmat, k=5)
            lids, ld = to_local(vectors).search(qmat, k=5)
            np.testing.assert_array_equal(ids, lids)
            np.testing.assert_array_equal(d, ld)
        finally:
            srv.close()

    def test_refresh_over_root_artifact_keeps_disk_by_default(
            self, spark, vectors, qmat, tmp_path_factory):
        """Without drop_old the root artifact's parquet stays on disk
        (rollback stays possible) but its shm is still released."""
        import glob as _glob
        import os

        from gofaiss_spark.operators.shard_serve import refresh_sharded

        root = str(tmp_path_factory.mktemp("shard") / "refresh_root5")
        m0 = save_sharded(vectors, root, num_shards=2)
        srv = ShardedSearcher(spark, root)
        try:
            srv.search(qmat, k=5)
            refresh_sharded(vectors, root, num_shards=2)
            assert _glob.glob(f"/dev/shm/*{m0['build_id']}*") == []
            assert os.path.isdir(os.path.join(root, "shards"))
        finally:
            srv.close()

    def test_failed_refresh_leaves_current_intact(self, spark, vectors,
                                                  qmat, tmp_path_factory):
        from gofaiss_spark.operators.shard_serve import refresh_sharded

        root = str(tmp_path_factory.mktemp("shard") / "refresh_root3")
        m1 = refresh_sharded(vectors, root, num_shards=2)
        with pytest.raises(ValueError):
            refresh_sharded(vectors, root, num_shards=0)  # invalid
        srv = ShardedSearcher(spark, root)
        try:
            assert srv.meta["build_id"] == m1["build_id"]
            ids, _ = srv.search(qmat, k=3)
            assert ids.shape == (len(qmat), 3)
        finally:
            srv.close()

    def test_swap_serves_new_generation_ivfsq(self, spark, vectors, qmat,
                                              tmp_path_factory):
        """Generation swap for the r9 quantized serving kind: IVFSQ
        codes + sidecars (centroids, vmin/step) must all roll to the
        new generation atomically — a stale sidecar under fresh codes
        would decode garbage distances, which the bit-identity check
        against the rebuilt LocalIvfSqIndex catches."""
        import glob as _glob

        from gofaiss_spark.operators.ivfsq import build_ivfsq
        from gofaiss_spark.operators.local_serve import to_local_ivfsq
        from gofaiss_spark.operators.shard_serve import refresh_sharded

        root = str(tmp_path_factory.mktemp("shard") / "refresh_ivfsq")
        half = vectors.filter(F.col("id") % 2 == 0).cache()
        idx1 = build_ivfsq(half, nlist=8, seed=42)
        idx1.codes.cache().count()
        m1 = refresh_sharded(idx1, root, num_shards=2)
        srv = ShardedSearcher(spark, root)
        try:
            assert srv.meta["kind"] == "ivfsq"
            ids1, d1 = srv.search(qmat, k=5, nprobe=3)
            l1, ld1 = to_local_ivfsq(idx1).search(qmat, k=5, nprobe=3)
            np.testing.assert_array_equal(ids1, l1)
            np.testing.assert_array_equal(d1, ld1)

            idx2 = build_ivfsq(vectors, nlist=8, seed=43)
            idx2.codes.cache().count()
            m2 = refresh_sharded(idx2, root, num_shards=2)
            assert m2["build_id"] != m1["build_id"]
            # the same searcher serves the new generation next batch —
            # including the NEW quantizer sidecars (seed differs, so
            # centroids/vmin/step all changed, not just the codes)
            ids2, d2 = srv.search(qmat, k=5, nprobe=3)
            l2, ld2 = to_local_ivfsq(idx2).search(qmat, k=5, nprobe=3)
            np.testing.assert_array_equal(ids2, l2)
            np.testing.assert_array_equal(d2, ld2)
            # old generation's segments were released on this host
            assert _glob.glob(f"/dev/shm/*{m1['build_id']}*") == []
            idx2.codes.unpersist()
        finally:
            srv.close()
            idx1.codes.unpersist()
            half.unpersist()


class TestQuantizedSharded:
    """PQ/IVFPQ/SQ sharded serving (r5 verdict item 4): per-shard ADC
    must merge bit-identically to the single-node local quantized
    kernels, and full-probe + refine-all must reduce to exact flat."""

    def test_save_sharded_vectors_missing_ids_raises(
            self, spark, vectors, tmp_path_factory):
        """ADVICE r6: an incomplete vectors= DataFrame must be a loud
        error — the old inner join silently DROPPED code rows whose
        ids were absent, shrinking the served corpus."""
        from gofaiss_spark.operators.pq import build_pq

        idx = build_pq(vectors, m=8, seed=42)
        idx.codes.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "pq_missing_vecs")
        with pytest.raises(ValueError, match="missing"):
            save_sharded(idx, path, num_shards=2,
                         vectors=vectors.filter(F.col("id") % 2 == 0))
        idx.codes.unpersist()

    def test_pq_sharded_vs_local(self, spark, vectors, qmat,
                                 tmp_path_factory):
        from gofaiss_spark.operators.local_serve import to_local_pq
        from gofaiss_spark.operators.pq import build_pq

        idx = build_pq(vectors, m=8, seed=42)
        idx.codes.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "pq3")
        save_sharded(idx, path, num_shards=3)
        with ShardedSearcher(spark, path) as srv:
            assert srv.meta["kind"] == "pq"
            sids, sd = srv.search(qmat, k=10)
        lids, ld = to_local_pq(idx).search(qmat, k=10)
        np.testing.assert_array_equal(sids, lids)
        np.testing.assert_array_equal(sd, ld)

    def test_ivfpq_sharded_vs_local(self, spark, vectors, qmat,
                                    tmp_path_factory):
        from gofaiss_spark.operators.ivfpq import build_ivfpq
        from gofaiss_spark.operators.local_serve import to_local_ivfpq

        idx = build_ivfpq(vectors, nlist=8, m=8, seed=42)
        idx.codes.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "ivfpq3")
        save_sharded(idx, path, num_shards=3)
        local = to_local_ivfpq(idx)
        with ShardedSearcher(spark, path) as srv:
            for npr in (3, 8):
                sids, sd = srv.search(qmat, k=5, nprobe=npr)
                lids, ld = local.search(qmat, k=5, nprobe=npr)
                np.testing.assert_array_equal(sids, lids)
                np.testing.assert_array_equal(sd, ld)

    def test_sq_sharded_vs_local(self, spark, vectors, qmat,
                                 tmp_path_factory):
        from gofaiss_spark.operators.local_serve import to_local_sq
        from gofaiss_spark.operators.sq import build_sq

        idx = build_sq(vectors)
        idx.codes.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "sq2")
        save_sharded(idx, path, num_shards=2)
        with ShardedSearcher(spark, path) as srv:
            sids, sd = srv.search(qmat, k=10)
        lids, ld = to_local_sq(idx).search(qmat, k=10)
        np.testing.assert_array_equal(sids, lids)
        np.testing.assert_array_equal(sd, ld)

    def test_ivfpq_fullprobe_refine_all_equals_flat(self, spark, vectors,
                                                    qmat, tmp_path_factory):
        import math

        from gofaiss_spark.operators.ivfpq import build_ivfpq
        from gofaiss_spark.operators.local_serve import to_local

        n = vectors.count()
        idx = build_ivfpq(vectors, nlist=8, m=8, seed=42)
        idx.codes.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "ivfpq_ref")
        save_sharded(idx, path, num_shards=3, vectors=vectors)
        with ShardedSearcher(spark, path) as srv:
            assert srv.meta["has_vectors"]
            sids, sd = srv.search(qmat, k=10, nprobe=8,
                                  refine=math.ceil(n / 10) + 1)
        fids, fd = to_local(vectors).search(qmat, k=10)
        np.testing.assert_array_equal(sids, fids)
        np.testing.assert_array_equal(sd, fd)

    def test_ivfsq_sharded_vs_local(self, spark, vectors, qmat,
                                    tmp_path_factory):
        """IVFSQ sharded serving (r9: the mid-Pareto quantized kind —
        decode->f32 GEMM selector + exact f64 per-pair re-score) must
        merge bit-identically to the single-node LocalIvfSqIndex."""
        from gofaiss_spark.operators.ivfsq import build_ivfsq
        from gofaiss_spark.operators.local_serve import to_local_ivfsq

        idx = build_ivfsq(vectors, nlist=8, seed=42)
        idx.codes.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "ivfsq3")
        save_sharded(idx, path, num_shards=3)
        local = to_local_ivfsq(idx)
        with ShardedSearcher(spark, path) as srv:
            assert srv.meta["kind"] == "ivfsq"
            for npr in (3, 8):
                sids, sd = srv.search(qmat, k=5, nprobe=npr)
                lids, ld = local.search(qmat, k=5, nprobe=npr)
                np.testing.assert_array_equal(sids, lids)
                np.testing.assert_array_equal(sd, ld)
        idx.codes.unpersist()

    def test_ivfsq_fullprobe_refine_all_equals_flat(self, spark, vectors,
                                                    qmat, tmp_path_factory):
        import math

        from gofaiss_spark.operators.ivfsq import build_ivfsq
        from gofaiss_spark.operators.local_serve import to_local

        n = vectors.count()
        idx = build_ivfsq(vectors, nlist=8, seed=42)
        idx.codes.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "ivfsq_ref")
        save_sharded(idx, path, num_shards=3, vectors=vectors)
        with ShardedSearcher(spark, path) as srv:
            assert srv.meta["has_vectors"]
            sids, sd = srv.search(qmat, k=10, nprobe=8,
                                  refine=math.ceil(n / 10) + 1)
        fids, fd = to_local(vectors).search(qmat, k=10)
        np.testing.assert_array_equal(sids, fids)
        np.testing.assert_array_equal(sd, fd)
        idx.codes.unpersist()

    def test_ivfsq_pool_bit_identity(self, spark, vectors, qmat):
        """LocalServerPool kind 'ivfsq' scatters bit-identically."""
        from gofaiss_spark.operators.ivfsq import build_ivfsq
        from gofaiss_spark.operators.local_serve import (
            LocalServerPool,
            to_local_ivfsq,
        )

        idx = build_ivfsq(vectors, nlist=8, seed=42)
        idx.codes.cache().count()
        local = to_local_ivfsq(idx)
        pool = LocalServerPool(local, workers=2)
        try:
            pids, pdists = pool.search(qmat, k=5, nprobe=3)
        finally:
            pool.close()
        lids, ld = local.search(qmat, k=5, nprobe=3)
        np.testing.assert_array_equal(pids, lids)
        np.testing.assert_array_equal(pdists, ld)
        idx.codes.unpersist()

    def test_refine_without_vectors_rejected(self, spark, vectors, qmat,
                                             tmp_path_factory):
        from gofaiss_spark.operators.pq import build_pq

        idx = build_pq(vectors, m=8, seed=42)
        path = str(tmp_path_factory.mktemp("shard") / "pq_noref")
        save_sharded(idx, path, num_shards=2)
        with ShardedSearcher(spark, path) as srv:
            with pytest.raises(ValueError, match="vectors"):
                srv.search(qmat, k=5, refine=2)

    def test_vectors_rejected_for_flat(self, spark, vectors):
        with pytest.raises(ValueError, match="quantized"):
            save_sharded(vectors, "/tmp/never_written_gfs", num_shards=2,
                         vectors=vectors)


class TestRobustness:
    """The ADVICE-r5 failure modes: validly-empty shards (partitionBy
    writes no directory), torn sentinels (reader attaches between
    segment creation and payload write), and object-store paths the
    POSIX sidecar plumbing can't serve."""

    def test_empty_shard_is_served_not_crashed(self, spark, vectors, qmat,
                                               tmp_path_factory):
        # all-even ids with num_shards=2 → shard 1 has ZERO rows and
        # partitionBy writes no shard_id=1 directory; the artifact is
        # still valid and search must equal the local index
        import os

        even = vectors.filter(F.col("id") % 2 == 0).cache()
        even.count()
        path = str(tmp_path_factory.mktemp("shard") / "flat_sparse")
        meta = save_sharded(even, path, num_shards=2)
        assert meta["shard_rows"][1] == 0
        assert not os.path.isdir(f"{path}/shards/shard_id=1")
        with ShardedSearcher(spark, path) as srv:
            sids, sd = srv.search(qmat, k=10)
            st = srv.stats()
        assert st["n_vectors"] == even.count()
        lids, ld = to_local(even).search(qmat, k=10)
        np.testing.assert_array_equal(sids, lids)
        np.testing.assert_array_equal(sd, ld)

    def test_empty_ivf_shard(self, spark, vectors, qmat, tmp_path_factory):
        # num_shards > nlist → shards with no list assigned are empty
        idx = build_ivf(vectors, nlist=3, seed=42)
        idx.assignments.cache().count()
        path = str(tmp_path_factory.mktemp("shard") / "ivf_sparse")
        meta = save_sharded(idx, path, num_shards=5)
        assert sorted(meta["shard_rows"], reverse=True)[3:] == [0, 0]
        local = to_local_ivf(idx)
        with ShardedSearcher(spark, path) as srv:
            for q in (qmat, qmat[:1]):  # a one-query batch leaves slices empty
                sids, sd = srv.search(q, k=10, nprobe=3)
                lids, ld = local.search(q, k=10, nprobe=3)
                np.testing.assert_array_equal(sids, lids)
                np.testing.assert_array_equal(sd, ld)

    def test_torn_sentinel_recovers(self, spark, vectors, qmat,
                                    tmp_path_factory):
        # simulate the publish race: sentinel segment exists but its
        # JSON payload was never written — attach must route to the
        # flock rebuild, not die on JSONDecodeError
        from gofaiss_spark.operators import shard_serve as ss

        path = str(tmp_path_factory.mktemp("shard") / "flat_torn")
        meta = save_sharded(vectors, path, num_shards=1)
        torn = ss._shm_open(
            _seg_name(meta["build_id"], 0, "ok"), create=True, size=64)
        torn.close()  # all-zero payload: json.loads(b"") → ValueError
        try:
            idx = ss._load_shard(path, meta["build_id"], 0, meta)
            lids, ld = to_local(vectors).search(qmat, k=5)
            sids, sd = idx.search(qmat, k=5)
            np.testing.assert_array_equal(sids, lids)
            np.testing.assert_array_equal(sd, ld)
        finally:
            ss._CACHE.clear()
            ss._unlink_shard_segments(meta["build_id"], 0)

    def test_object_store_path_rejected(self, spark, vectors):
        with pytest.raises(ValueError, match="POSIX"):
            save_sharded(vectors, "s3a://bucket/key", num_shards=2)

    def test_torn_artifact_detected(self, spark, vectors, qmat,
                                    tmp_path_factory):
        # manifest says shard 1 has rows but its directory is gone →
        # must fail loudly, not serve silently-partial results
        import shutil

        from gofaiss_spark.operators import shard_serve as ss

        path = str(tmp_path_factory.mktemp("shard") / "flat_torn2")
        meta = save_sharded(vectors, path, num_shards=2)
        assert meta["shard_rows"][1] > 0
        shutil.rmtree(f"{path}/shards/shard_id=1")
        with pytest.raises(FileNotFoundError, match="torn"):
            ss._read_shard_arrays(path, 1, meta)

    def test_serving_job_shares_the_udf_worker_pool(self, spark):
        # The serving job is an RDD job. Spark starts a separate worker
        # daemon for every distinct worker environment; get_spark gives
        # RDD jobs the environment the pandas/Arrow UDF runners use, so
        # both kinds of job run in workers forked by one daemon.
        import os

        import pandas as pd

        def parent_pid(it):
            for _ in it:
                pass
            yield pd.DataFrame({"ppid": [os.getppid()]})

        udf = {r.ppid for r in spark.range(0, 4, 1, 4)
               .mapInPandas(parent_pid, schema="ppid long").collect()}
        rdd = set(spark.sparkContext.parallelize(range(4), 4)
                  .mapPartitions(lambda it: [os.getppid()]).collect())
        assert udf == rdd and len(udf) == 1
