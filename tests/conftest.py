import os
import tempfile

import numpy as np
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _leftovers() -> set[str]:
    """Host shared-memory shard segments (``gfs*`` in /dev/shm) and
    BM25 text-index directories (``gfs_text_idx_*`` in the temp dir)."""
    found = set()
    for d, prefix in (("/dev/shm", "gfs"),
                      (tempfile.gettempdir(), "gfs_text_idx_")):
        try:
            found |= {os.path.join(d, n) for n in os.listdir(d)
                      if n.startswith(prefix)}
        except FileNotFoundError:
            pass
    return found


@pytest.fixture(scope="session", autouse=True)
def no_leaked_shard_segments():
    """Fail the session when the tests leave a host shared-memory shard
    segment or a text-index temp directory that was not there at its
    start."""
    before = _leftovers()
    yield
    leaked = sorted(_leftovers() - before)
    assert not leaked, f"tests leaked {len(leaked)} files: {leaked}"


@pytest.fixture
def pool_both_ways():
    """Search a LocalServerPool twice: split as finely as it splits
    (POOL_TASK_QUERIES = 1: min(workers × 2, nq) tasks) and as one
    task. The two answers must be bit-identical; returns the answer
    and the number of tasks the split ran."""
    from gofaiss_spark.operators import local_serve as ls

    def run(pool, q, **kw):
        tasks = []
        run, per_task = pool._run, ls.POOL_TASK_QUERIES

        def counted(batch):
            tasks.extend(fn for fn, _ in batch)
            return run(batch)

        pool._run = counted
        try:
            ls.POOL_TASK_QUERIES = 1
            split = pool.search(q, **kw)
            nsplit = len(tasks)
            ls.POOL_TASK_QUERIES = 10 ** 9
            tasks.clear()
            whole = pool.search(q, **kw)
            assert len(tasks) == 1
        finally:
            del pool._run
            ls.POOL_TASK_QUERIES = per_task
        for a, b in zip(split, whole):
            np.testing.assert_array_equal(a, b)
        return split, nsplit

    return run


@pytest.fixture(scope="session")
def spark():
    from gofaiss_spark.session import get_spark

    s = get_spark("gofaiss_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")
