"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload online_point --seed 1 \\
        --seconds 6 --trace 0

Run from the root of a repository checkout. The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (spans are
written to ``.bench_out/``). The lines before it print every metric by
name with its unit.
"""

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Local-mode driver JVM heap, committed and touched at start
# (-Xms, AlwaysPreTouch): a heap that grows with GC timing moved
# peak_rss_mb by 28% from run to run.
DRIVER_MEM = "1g"
TAIL_MIN_SAMPLES = 100  # ten samples beyond the tail put it at p90 or above


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of the end-to-end and of the per-layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _environment(workdir: str, cpus: int) -> None:
    """Process environment, set before pyspark is imported: the package
    importable by Spark's and the pool's Python workers, Spark sized to
    this machine, and every scratch file inside ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={workdir}/warehouse "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
        f"-Dderby.system.home={workdir}' pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it. None below TAIL_MIN_SAMPLES samples, where that
    percentile would sit under p90 (under the median below 21)."""
    s = sorted(samples)
    n = len(s)
    if n < TAIL_MIN_SAMPLES:
        return None
    return s[n - 11], 100.0 * (n - 10) / n


def print_tail(name: str, samples: list[float]) -> None:
    """Print a latency tail (ms) with its percentile and sample count,
    or why it was not measured. Not a gated metric: only some workloads
    send enough requests in one run for it."""
    t = tail(samples)
    if t is None:
        print(f"{name:32s} not measured: {len(samples)} samples, a tail "
              f"needs {TAIL_MIN_SAMPLES}")
    else:
        print(f"{name:32s} {t[0] * 1e3:14.4f} ms (p{t[1]:.1f} of "
              f"{len(samples)} samples, 10 beyond it)")


def end_to_end(run) -> dict[str, float]:
    m = dict(run.metrics)
    if run.latencies:
        m["latency_p50_ms"] = statistics.median(run.latencies) * 1e3
    if run.window_s > 0 and run.queries_answered:
        m["qps"] = run.queries_answered / run.window_s
    return m


def _jobs_per_request(run, groups: list[str]) -> tuple[float, float]:
    st = run.spark.sparkContext.statusTracker()
    jobs, tasks = [], []
    for g in groups:
        ids = st.getJobIdsForGroup(g)
        n_tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                stage = st.getStageInfo(s)
                n_tasks += stage.numCompletedTasks if stage else 0
        jobs.append(len(ids))
        tasks.append(n_tasks)
    if not jobs:
        return 0.0, 0.0
    return statistics.median(jobs), statistics.median(tasks)


def per_layer(run, tracer) -> dict[str, float]:
    """Per-layer metrics from the run's spans and direct counts."""
    from perfbench.trace import self_times

    spans = tracer.spans
    selfs = self_times(spans)
    window = [i for i, sp in enumerate(spans)
              if sp[0] == "request" and str(sp[4]).startswith("q")]
    reqs = {spans[i][4] for i in window}

    def dur(sp):
        return (sp[2] or sp[1]) - sp[1]

    def total_s(name):
        return sum(dur(sp) for sp in spans if sp[0] == name)

    def mean_ms(name, in_window=True):
        d = [dur(sp) for sp in spans if sp[0] == name
             and (not in_window or sp[4] in reqs)]
        return 1e3 * statistics.fmean(d) if d else 0.0

    def mean_s(name):
        d = [dur(sp) for sp in spans if sp[0] == name]
        return statistics.fmean(d) if d else 0.0

    def under_api(i):
        p = spans[i][3]
        while p is not None:
            if spans[p][0].startswith("api."):
                return True
            p = spans[p][3]
        return False

    tiers = {"local": 0, "sharded": 0, "distributed": 0}
    served = {}
    for sp in spans:
        if sp[4] in reqs:
            if sp[0] == "shard.search":
                served[sp[4]] = "sharded"
            elif sp[0] == "plan.build":
                served.setdefault(sp[4], "distributed")
            elif sp[0] in ("local.search", "pool.search"):
                served.setdefault(sp[4], "local")
    for t in served.values():
        tiers[t] += 1
    api_self = sum(st for sp, st in zip(spans, selfs)
                   if sp[0].startswith("api.") and sp[4] in reqs)
    shard_search = [dur(sp) for sp in spans if sp[0] == "shard.search"]
    jobs, tasks = _jobs_per_request(run, [f"perfbench-{r}" for r in reqs])
    writes = [x * 1e3 for x in run.write_latencies]
    layer = {
        "api.stale_path_reads": 0,
        "ivf.list_max_over_mean": 0.0,
        "local.rows_scanned_per_query": 0.0,
        "session.start_s": total_s("session.start"),
        "ivf.train_s": total_s("ivf.train"),
        "ivf.assign_s": total_s("ivf.assign"),
        "artifacts.save_s": total_s("artifacts.save"),
        "artifacts.load_s": total_s("artifacts.load"),
        "artifacts.remove_s": mean_s("artifacts.remove"),
        "artifacts.compact_s": mean_s("artifacts.compact"),
        "stream.add_s": mean_s("stream.add"),
        "write.p50_ms": statistics.median(writes) if writes else 0.0,
        "api.serve_s": total_s("api.serve"),
        "api.self_ms": 1e3 * api_self / max(1, len(reqs)),
        "api.reloads": sum(1 for i, sp in enumerate(spans)
                           if sp[0] == "artifacts.load" and sp[4] in reqs
                           and under_api(i)),
        "api.tier.local": tiers["local"],
        "api.tier.sharded": tiers["sharded"],
        "api.tier.distributed": tiers["distributed"],
        "local.localize_s": total_s("local.localize"),
        "local.search_ms": mean_ms("local.search"),
        "pool.spawn_s": total_s("pool.spawn"),
        "pool.search_ms": mean_ms("pool.search"),
        "plan.build_ms": mean_ms("plan.build"),
        "plan.exec_ms": mean_ms("plan.exec"),
        "spark.jobs_per_request": jobs,
        "spark.tasks_per_request": tasks,
        "shard.save_s": total_s("shard.save"),
        "shard.open_s": total_s("shard.open") + (
            shard_search[0] if shard_search else 0.0),
        "shard.search_ms": mean_ms("shard.search"),
    }
    layer.update({k: v for k, v in run.layer.items()})
    return layer


def teardown(run, shm_before: set) -> None:
    """Close what the workload opened, stop Spark and its JVM, and count
    what was left behind as failures."""
    from perfbench import host

    # each close and each residue check is one attempted operation
    for close in reversed(run.closers):
        run.attempt()
        try:
            close()
        except Exception as exc:  # keep closing the rest
            run.fail(f"close: {type(exc).__name__}: {exc}")
    run.attempt()
    leaked = sorted(host.shm_entries() - shm_before)
    run.layer["host.shm_leaked"] = len(leaked)
    if leaked:
        run.fail(f"{len(leaked)} shared-memory segments left after close: "
                 f"{', '.join(leaked[:5])}")
    spark = run.spark
    if spark is not None:
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # stuck JVM: reap_descendants kills it
                pass
    # the helper process multiprocessing starts for the pool's shared
    # memory; it would otherwise exit only with this process
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    run.attempt()
    stray = host.reap_descendants()
    if stray:
        run.fail(f"{stray} processes outlived the run")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gofaiss_spark", "api.py")):
        print(f"perfbench: no gofaiss_spark package under {ROOT}; run "
              "from the root of a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Run, cpus, start_session

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {', '.join(WORKLOADS)})", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_units()
    out_dir = os.path.join(ROOT, ".bench_out")
    workdir = os.path.join(ROOT, ".bench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(workdir)
    _environment(workdir, cpus())

    from perfbench import host

    tracer = None
    if args.trace:
        import gofaiss_spark.api  # noqa: F401  (modules to patch)
        import gofaiss_spark.operators.shard_serve  # noqa: F401
        import gofaiss_spark.plans.artifacts  # noqa: F401
        import gofaiss_spark.streaming.ops  # noqa: F401
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.instrument()
    shm_before = host.shm_entries()
    run = Run(args.seed, args.seconds, workdir, T_START, tracer)
    try:
        start_session(run)
        WORKLOADS[args.workload](run)
    except Exception as exc:  # report the failure as a result line
        import traceback

        traceback.print_exc()
        run.fail(f"workload aborted: {type(exc).__name__}: {exc}")
    e2e = end_to_end(run)
    layer = per_layer(run, tracer) if tracer is not None else {}
    teardown(run, shm_before)
    if tracer is not None:
        layer["host.shm_leaked"] = run.layer["host.shm_leaked"]
        tracer.uninstrument()
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))
    except OSError:
        pass

    chosen, values = ((layer_units, layer) if args.trace
                      else (e2e_units, e2e))
    missing = [n for n in chosen if n not in values]
    for n in missing:
        run.fail(f"metric {n} was not measured")
    for units, vals in ((e2e_units, e2e), (layer_units, layer)):
        for n, unit in units.items():
            if n in vals:
                print(f"{n:32s} {vals[n]:14.4f} {unit}")
    print_tail("latency_tail_ms", run.latencies)
    if run.write_latencies:
        print_tail("write_tail_ms", run.write_latencies)
    print(f"error_rate {run.failed / max(1, run.attempted):.6f} "
          f"({run.failed} of {run.attempted} operations)")
    for msg in run.errors:
        print(f"error: {msg}")
    metrics = {n: {"value": float(values[n]), "unit": u}
               for n, u in chosen.items() if n in values}
    result = {"correct": run.failed == 0 and not missing,
              "attempted": max(1, run.attempted), "failed": run.failed,
              "metrics": metrics}
    tag = f"{args.workload}-{args.seed}"
    if tracer is not None:
        tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"), {
            "workload": args.workload, "seed": args.seed,
            "end_to_end": {n: {"value": float(e2e[n]), "unit": u}
                           for n, u in e2e_units.items() if n in e2e},
            "per_layer": metrics})
    with open(os.path.join(out_dir, f"result-{tag}-trace{args.trace}.json"),
              "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
