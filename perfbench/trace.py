"""Spans around the calls the benchmark makes into each layer.

The tracer patches the public entry points of ``gofaiss_spark`` from
the outside (``instrument``); nothing inside the package is edited.
A span records its name, start, end, parent span and request id.
Spans stay in memory and are written out once, when the run ends.

Run as a script, it reads a span file written by a traced run and
prints the per-layer self-time and count table, plus the tracing
overhead against the result file of an untraced run:

    python3 perfbench/trace.py .bench_out/spans-online_point-1.json \\
        --untraced .bench_out/result-online_point-1-trace0.json
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time

# (module, attribute, span name): functions patched wherever a
# gofaiss_spark module holds a reference to them
FUNCTIONS = [
    ("gofaiss_spark.session", "get_spark", "session.start"),
    ("gofaiss_spark.operators.ivf", "build_ivf", "ivf.build"),
    ("gofaiss_spark.operators.ivf", "train_kmeans_centroids", "ivf.train"),
    ("gofaiss_spark.operators.ivf", "assign_to_centroids", "ivf.assign"),
    ("gofaiss_spark.operators.ivf", "search_ivf", "plan.build"),
    ("gofaiss_spark.operators.topk", "topk", "plan.topk"),
    ("gofaiss_spark.plans.artifacts", "save_index", "artifacts.save"),
    ("gofaiss_spark.plans.artifacts", "load_index", "artifacts.load"),
    ("gofaiss_spark.plans.artifacts", "remove_from_index", "artifacts.remove"),
    ("gofaiss_spark.plans.artifacts", "compact_index", "artifacts.compact"),
    ("gofaiss_spark.api", "serve", "api.serve"),
    ("gofaiss_spark.api", "search", "api.search"),
    ("gofaiss_spark.operators.local_serve", "to_local_ivf", "local.localize"),
    ("gofaiss_spark.operators.shard_serve", "save_sharded", "shard.save"),
]
# (module, class, method, span name)
METHODS = [
    ("gofaiss_spark.api", "TierServer", "search_np", "api.search_np"),
    ("gofaiss_spark.operators.local_serve", "LocalIvfIndex", "search",
     "local.search"),
    ("gofaiss_spark.operators.local_serve", "LocalServerPool", "__init__",
     "pool.spawn"),
    ("gofaiss_spark.operators.local_serve", "LocalServerPool", "search",
     "pool.search"),
    ("gofaiss_spark.operators.shard_serve", "ShardedSearcher", "__init__",
     "shard.open"),
    ("gofaiss_spark.operators.shard_serve", "ShardedSearcher", "search",
     "shard.search"),
]


class Tracer:
    """In-memory span recorder. A span is the list
    ``[name, start, end, parent, request_id]``; ``parent`` is the index
    of the enclosing span on the same thread, or of the ambient span
    (see ``span``) for work a library runs on its own threads."""

    def __init__(self):
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ambient: list | None = None  # [span index, request id]
        self._patches: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, rid=None, ambient: bool = False):
        """Record ``name`` around the block. ``ambient=True`` makes this
        span the parent of spans opened on threads that have none of
        their own open (Spark's streaming callbacks run on such a
        thread while the caller waits)."""
        st = self._stack()
        if st:
            parent = st[-1]
            rid = self.spans[parent][4] if rid is None else rid
        elif self._ambient is not None:
            parent = self._ambient[0]
            rid = self._ambient[1] if rid is None else rid
        else:
            parent = None
        rec = [name, time.perf_counter(), None, parent, rid]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        if ambient:
            self._ambient = [idx, rid]
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            st.pop()
            if ambient:
                self._ambient = None

    def _wrapped(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def instrument(self) -> None:
        """Patch every entry point in FUNCTIONS and METHODS."""
        for modname, attr, name in FUNCTIONS:
            fn = getattr(importlib.import_module(modname), attr)
            traced = self._wrapped(fn, name)
            for mname, mod in list(sys.modules.items()):
                if not mname.startswith("gofaiss_spark") or mod is None:
                    continue
                for key, val in list(vars(mod).items()):
                    if val is fn:
                        self._patch(mod, key, traced)
        for modname, cls_name, attr, name in METHODS:
            cls = getattr(importlib.import_module(modname), cls_name)
            self._patch(cls, attr, self._wrapped(cls.__dict__[attr], name))

    def uninstrument(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[list]) -> list[float]:
    """Per span: its duration minus the part of it that its child
    spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for name, s, e, parent, _rid in spans:
        if parent is not None and e is not None:
            ps, pe = spans[parent][1], spans[parent][2] or e
            kids.setdefault(parent, []).append((max(s, ps), min(e, pe)))
    out = []
    for i, (name, s, e, _p, _r) in enumerate(spans):
        dur = (e or s) - s
        out.append(dur - _union_len(kids.get(i, [])))
    return out


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def table(spans: list[list]) -> dict[str, dict]:
    """{span name: {count, total_s, self_s}} and the same per layer
    (keys ``layer:<name>``)."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for (name, s, e, _p, _r), st in zip(spans, selfs):
        for key in (name, "layer:" + layer_of(name)):
            row = out.setdefault(key, {"count": 0, "total_s": 0.0,
                                       "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += (e or s) - s
            row["self_s"] += st
    return out


def _print_table(rows: dict[str, dict]) -> None:
    print(f"{'span / layer':34s} {'count':>7s} {'self_s':>10s} {'total_s':>10s}")
    for key in sorted(rows, key=lambda k: (not k.startswith("layer:"), k)):
        r = rows[key]
        print(f"{key:34s} {r['count']:7d} {r['self_s']:10.4f} {r['total_s']:10.4f}")


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", help="span file written by a --trace 1 run")
    ap.add_argument("--untraced", help="result file of a --trace 0 run "
                    "of the same workload, for the tracing overhead")
    args = ap.parse_args(argv)
    with open(args.spans) as f:
        doc = json.load(f)
    print(f"workload {doc['workload']} seed {doc['seed']}: "
          f"{len(doc['spans'])} spans")
    _print_table(table(doc["spans"]))
    if args.untraced:
        with open(args.untraced) as f:
            base = json.load(f)["metrics"]
        print(f"\n{'tracing overhead':20s} {'traced':>12s} {'untraced':>12s} "
              f"{'delta':>12s} {'delta_%':>8s}")
        for name, m in doc["end_to_end"].items():
            if name not in base:
                continue
            t, u = m["value"], base[name]["value"]
            pct = 100.0 * (t - u) / u if u else float("nan")
            print(f"{name:20s} {t:12.4f} {u:12.4f} {t - u:12.4f} {pct:8.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
