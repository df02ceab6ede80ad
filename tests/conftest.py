import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _shard_segments() -> set[str]:
    try:
        return {n for n in os.listdir("/dev/shm") if n.startswith("gfs")}
    except FileNotFoundError:
        return set()


@pytest.fixture(scope="session", autouse=True)
def no_leaked_shard_segments():
    """Fail the session when the tests leave a host shared-memory shard
    segment (``gfs*`` in /dev/shm) that was not there at its start."""
    before = _shard_segments()
    yield
    leaked = sorted(_shard_segments() - before)
    assert not leaked, f"tests leaked {len(leaked)} shm segments: {leaked}"


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
