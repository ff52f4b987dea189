"""A/B: partition-local union-find pre-contraction before the
connected-components star rounds (clustering._contract_partitions).

Runs connected_components with and without pre_contract on three graph
shapes:

  - path: one high-diameter component
  - matcher: many small dense clusters + noise edges (this pipeline's
    actual match-graph shape)
  - dense: few large cliques (the hot-block shape)

Asserts identical assignments, reports best and per-trial walls plus
star counts.
Results recorded in BENCH.md.

Usage: python tools/bench_cc_schedule.py [path_n] [trials]
"""

from __future__ import annotations

import json
import random
import sys
import time

sys.path.insert(0, ".")


def _graphs(path_n: int) -> dict[str, list[tuple[str, str]]]:
    rng = random.Random(23)
    path = [(f"p{i:06d}", f"p{i+1:06d}") for i in range(path_n - 1)]
    matcher = []
    for c in range(path_n // 10):  # clusters of 2-6, fully wired
        size = rng.randint(2, 6)
        ids = [f"c{c:05d}x{j}" for j in range(size)]
        matcher += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    dense = []  # hot blocks: few clusters, quadratic pair counts
    for c in range(path_n // 200):
        size = rng.randint(30, 60)
        ids = [f"d{c:04d}x{j:02d}" for j in range(size)]
        dense += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    return {"path": path, "matcher": matcher, "dense": dense}


def main() -> None:
    path_n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    from sneaky_data_matcher_spark.operators.clustering import connected_components
    from sneaky_data_matcher_spark.session import get_spark

    spark = get_spark(app_name="bench-cc-schedule")
    out: dict[str, dict] = {}
    try:
        for shape, edges in _graphs(path_n).items():
            df = spark.createDataFrame(
                edges, "doc_id_a string, doc_id_b string"
            ).localCheckpoint(eager=True)
            res: dict[str, dict] = {}
            assigns = {}
            for _ in range(trials):
                for name, pre in (("plain", False), ("pre_contract", True)):
                    stats: dict = {}
                    t0 = time.perf_counter()
                    a = {
                        (r["doc_id"], r["cluster_id"])
                        for r in connected_components(
                            df, pre_contract=pre, _stats=stats
                        ).collect()
                    }
                    wall = round(time.perf_counter() - t0, 2)
                    cur = res.setdefault(name, {"walls": [], "stats": stats})
                    cur["walls"].append(wall)
                    assigns.setdefault(name, a)
                    assert assigns[name] == a
            assert assigns["plain"] == assigns["pre_contract"], shape
            out[shape] = {"n_edges": len(edges)}
            for name in res:
                out[shape][name] = {
                    "best_sec": min(res[name]["walls"]),
                    "walls": res[name]["walls"],
                    **res[name]["stats"],
                }
    finally:
        spark.stop()
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
