"""A/B of the connected-components paths (operators/clustering.py).

Runs connected_components three ways on each graph shape:

  - driver: the driver pass, one bounded Arrow collect plus the numpy
    union-find (clustering._components); for a graph larger than
    clustering._DRIVER_MAX_EDGES the bound is raised to its edge count,
    which is how the crossover behind that bound is measured
  - plain: the large/small-star loop (bound forced below the graph)
  - pre_contract: the star loop after partition-local union-find
    pre-contraction (clustering._contract_partitions)

Graph shapes:

  - path: one high-diameter component
  - matcher: many small dense clusters + noise edges (this pipeline's
    actual match-graph shape)
  - dense: few large cliques (the hot-block shape)
  - matcher_long: the matcher shape with 45-character ids (a 32-digit hex
    key per cluster), for the driver pass's per-edge memory

Each timed trial is connected_components plus a count of its output; the
assignments are collected outside the timed region. Asserts identical
assignments across arms and trials, reports best and per-trial walls plus
star counts. Memory, sampled every 20 ms while an arm runs: `py_mb` is the
peak RSS of this (driver) Python process above its RSS when the arm
started, with the generated graph already freed; `jvm_mb` is the JVM's
peak RSS. `arrow_mb` is the size of the graph collected as Arrow, what the
driver pass ships to the driver. Results recorded in BENCH.md.

Usage: python tools/bench_cc_schedule.py [path_n] [trials] [shape,...]
"""

from __future__ import annotations

import gc
import json
import os
import random
import sys
import threading
import time

sys.path.insert(0, ".")

# (arm, star loop forced, pre_contract)
ARMS = (("driver", False, False), ("plain", True, False), ("pre_contract", True, True))


def _graphs(path_n: int, shapes: list[str]):
    """Yields (shape, edge list), one graph at a time."""
    rng = random.Random(23)
    if "path" in shapes:
        yield "path", [(f"p{i:06d}", f"p{i+1:06d}") for i in range(path_n - 1)]
    if "matcher" in shapes:
        matcher = []
        for c in range(path_n // 10):  # clusters of 2-6, fully wired
            size = rng.randint(2, 6)
            ids = [f"c{c:05d}x{j}" for j in range(size)]
            matcher += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        yield "matcher", matcher
    if "dense" in shapes:
        dense = []  # hot blocks: few clusters, quadratic pair counts
        for c in range(path_n // 200):
            size = rng.randint(30, 60)
            ids = [f"d{c:04d}x{j:02d}" for j in range(size)]
            dense += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        yield "dense", dense
    if "matcher_long" in shapes:
        lrng = random.Random(29)
        matcher_long = []
        for c in range(path_n // 10):
            size = lrng.randint(2, 6)
            key = f"{lrng.getrandbits(128):032x}"
            ids = [f"doc-{key}-{c:06d}x{j}" for j in range(size)]
            matcher_long += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        yield "matcher_long", matcher_long


class _PeakRss:
    """Peak RSS (MB) of the given pids, sampled from /proc while active."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20

    def rss(self) -> list[float]:
        out = []
        for pid in self.pids:
            with open(f"/proc/{pid}/statm") as f:
                out.append(int(f.read().split()[1]) * self.page_mb)
        return out

    def __enter__(self):
        self.start = self.rss()
        self.peak = list(self.start)
        self._stop = threading.Event()

        def loop():
            while not self._stop.wait(0.02):
                self.peak = [max(a, b) for a, b in zip(self.peak, self.rss())]

        self._t = threading.Thread(target=loop, daemon=True)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = [max(a, b) for a, b in zip(self.peak, self.rss())]


def main() -> None:
    path_n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    shapes = sys.argv[3].split(",") if len(sys.argv) > 3 else ["path", "matcher", "dense"]
    import pandas as pd

    from sneaky_data_matcher_spark.operators import clustering
    from sneaky_data_matcher_spark.session import get_spark

    spark = get_spark(app_name="bench-cc-schedule")
    rss = _PeakRss([os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()])
    bound = clustering._DRIVER_MAX_EDGES
    out: dict[str, dict] = {}
    try:
        for shape, edges in _graphs(path_n, shapes):
            n_edges = len(edges)
            df = spark.createDataFrame(
                pd.DataFrame(edges, columns=["doc_id_a", "doc_id_b"]),
                "doc_id_a string, doc_id_b string",
            ).localCheckpoint(eager=True)
            del edges
            gc.collect()
            res: dict[str, dict] = {}
            ref = None
            for _ in range(trials):
                for name, star, pre in ARMS:
                    clustering._DRIVER_MAX_EDGES = -1 if star else max(bound, n_edges)
                    stats: dict = {}
                    with rss:
                        t0 = time.perf_counter()
                        cc = clustering.connected_components(
                            df, pre_contract=pre, _stats=stats
                        )
                        cc.count()
                        wall = round(time.perf_counter() - t0, 2)
                    a = {(r["doc_id"], r["cluster_id"]) for r in cc.collect()}
                    ref = ref or a
                    assert a == ref, (shape, name)  # same across arms and trials
                    del a, cc
                    gc.collect()
                    cur = res.setdefault(
                        name, {"walls": [], "stats": stats, "py_mb": 0, "jvm_mb": 0}
                    )
                    cur["walls"].append(wall)
                    cur["py_mb"] = max(cur["py_mb"], round(rss.peak[0] - rss.start[0]))
                    cur["jvm_mb"] = max(cur["jvm_mb"], round(rss.peak[1]))
            out[shape] = {
                "n_edges": n_edges,
                "arrow_mb": round(df.toArrow().nbytes / 2**20, 1),
            }
            for name in res:
                out[shape][name] = {
                    "best_sec": min(res[name]["walls"]),
                    "walls": res[name]["walls"],
                    **res[name]["stats"],
                    "py_mb": res[name]["py_mb"],
                    "jvm_mb": res[name]["jvm_mb"],
                }
    finally:
        clustering._DRIVER_MAX_EDGES = bound
        spark.stop()
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
