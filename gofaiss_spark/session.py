"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the configs below are the ones that
also matter on a real cluster (AQE, Arrow, shuffle partitions). The
shuffle-partition count follows the core count locally; on a cluster
it should be ~2-3x total cores (or left to AQE coalescing).
"""

from __future__ import annotations

import os
import shutil
import site
import sys

from pyspark.sql import SparkSession

WORKER_DAEMON = "gofaiss_spark.worker_daemon"


def _workers_import_package(master: str) -> bool:
    """Whether the Python workers Spark starts for ``master`` can import
    this package at start-up. Only ``local`` and ``local[...]`` are
    judged: there the workers inherit this driver's cwd (``python -m``
    puts it on ``sys.path``) and ``PYTHONPATH``, and see this
    interpreter's site-packages when ``PYSPARK_PYTHON`` names this
    interpreter. Executors of any other master (``local-cluster``
    too) start elsewhere."""
    if master != "local" and not master.startswith("local["):
        return False
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    python = shutil.which(os.environ.get("PYSPARK_PYTHON", "python3"))
    if python and os.path.realpath(python) == os.path.realpath(sys.executable):
        paths += [*site.getsitepackages(), site.getusersitepackages()]
    root = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    return any(p and os.path.realpath(p) == root for p in paths)


def get_spark(app_name: str = "gofaiss_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32 (the driver's bench
    environment). All settings are cluster-safe: AQE handles runtime
    re-planning (skew joins, partition coalescing), Arrow speeds every
    pandas-UDF boundary, and UTC avoids timezone drift vs oracles.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # On a cluster, spark-submit/--master (or $SPARK_GRAFT_MASTER)
    # wins; local[cpus] is only the standalone/test default.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Keep stdout/stderr clean: the bench driver tail-captures the
        # last ~2k chars of combined output to parse the result JSON,
        # and \r progress bars would push it out of the window.
        .config("spark.ui.showConsoleProgress", "false")
        # Vector payloads are wide; raise broadcast threshold so query
        # batches and centroid/codebook tables broadcast instead of shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let AQE rewrite sort-merge → shuffled-hash at runtime when
        # every post-shuffle partition is under 64 MB (optimization
        # guide §3.1): the rewrite is gated on MEASURED partition
        # sizes, so the in-memory hash build is bounded. The r12
        # session-global `preferSortMergeJoin=false` is GONE (r13;
        # ADVICE low): it let the planner pick SHJ from size
        # ESTIMATES on any join in any workload, and a misestimated
        # or skewed build partition cannot spill for several join
        # types — the specific full-outer diffs that benefit
        # (snapshot_diff, vocab_drift) now carry explicit
        # shuffle_hash join HINTS at the call sites instead.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # A crashed python worker reports only "exited unexpectedly"
        # without this; the traceback made the r6 bench stage-3004
        # crash adjudicable (r6 verdict item 1c). Negligible overhead.
        .config("spark.python.worker.faulthandler.enabled", "true")
        # Spark keys its Python worker pools by environment, and the SQL
        # runners (pandas/Arrow UDFs) add this variable to theirs. Giving
        # RDD jobs (the sharded tier's serving job) the same value lets
        # both share one pool of workers instead of starting a second
        # daemon with its own workers (perfbench sharded_batch on 4
        # CPUs: 250 MB more peak RSS with two pools).
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        # An artifact read lists one directory per inverted list. Past
        # this many paths Spark lists them in a distributed job: on
        # 4 CPUs a load of an nlist-128 artifact spent 0.53 s in that
        # job against 0.04 s listing on the driver (default 32).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
    )
    # Before every task PySpark calls importlib.invalidate_caches(),
    # and before CPython 3.13 that re-reads the zip directory of each
    # archive importer in the worker: 16 in a reused worker, among
    # them 2 x the 5,359-entry spark-core jar (~50 ms each) and 11
    # pyspark.zip subpackages (~11 ms each), 130-290 ms per task. The
    # worker_daemon module keeps the start-up archives' directories:
    # on 4 CPUs an empty 4-task Python job went from ~310 to ~120 ms
    # and perfbench sharded_batch's p50 from 630-690 to 360-400 ms.
    # Workers that cannot import the package would fail every task,
    # so the conf is set only when they can. Delete the module and
    # this line once the interpreter floor is CPython 3.13, whose
    # zipimport reads an archive's directory lazily.
    if _workers_import_package(master):
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
