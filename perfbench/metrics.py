"""Metric names, units and directions the benchmark reports.

BENCHMARK.json lists the same names; ``perfbench/smoke.py`` checks that they
agree. Per-layer names are ``<layer>.<metric>``, layers named after the
package's modules. ``.s`` is the wall time of the layer's span (the call plus
the action that forces its output) and ``.self_s`` that time minus the spans
inside it. Bytes, scan rows, SQL executions and Python-worker times are Spark
SQL metric totals over the executions submitted inside the span; Python
worker times are summed over tasks and can exceed the span's wall time.
"""

END_TO_END = {
    "e2e_s": "s",  # one operation: a whole batch pass, or one probe batch
    "cpu_s": "s",  # CPU-seconds of the process tree per operation, JIT compilers aside
    "peak_rss_mb": "MB",  # highest summed RSS of the process tree while timed
    "setup_s": "s",  # session start, inputs, untimed first operations
}

L, H = "lower", "higher"
_LAYERS = {
    "session": {
        "start_s": ("s", L), "inputs_s": ("s", L), "inputs_built": ("count", L),
        "warm_pass_s": ("s", L),
    },
    "canonicalize": {
        "s": ("s", L), "rows": ("count", H), "scan_bytes": ("B", L),
        "sql_executions": ("count", L),
    },
    "blocking": {
        "s": ("s", L), "key_rows": ("count", L), "hot_blocks": ("count", L),
        "pairs": ("count", L), "dedup_ratio": ("ratio", H),
        "shuffle_write_bytes": ("B", L), "spill_bytes": ("B", L),
        "partition_skew": ("ratio", L), "sql_executions": ("count", L),
    },
    "scoring": {
        "s": ("s", L), "pairs": ("count", L), "pruned_frac": ("ratio", H),
        "match_edges": ("count", H), "python_sent_bytes": ("B", L),
        "python_returned_bytes": ("B", L), "python_run_s": ("s", L),
        "python_init_s": ("s", L), "shuffle_write_bytes": ("B", L),
        "spill_bytes": ("B", L), "sql_executions": ("count", L),
    },
    "clustering": {
        "s": ("s", L), "edges_in": ("count", L), "sql_executions": ("count", L),
        "rounds": ("count", L), "large_stars": ("count", L),
        "small_stars": ("count", L), "clusters": ("count", L),
        "shuffle_write_bytes": ("B", L),
    },
    "runs": {
        "s": ("s", L), "self_s": ("s", L), "stage_s.canon": ("s", L),
        "stage_s.pairs": ("s", L), "stage_s.scored": ("s", L),
        "stage_s.clusters": ("s", L), "bytes_written": ("B", L),
        "sql_executions": ("count", L),
    },
    "incremental": {
        "s": ("s", L), "sql_executions": ("count", L), "scan_rows": ("count", L),
        "candidates": ("count", L), "matched": ("count", H),
        "python_init_s": ("s", L), "python_run_s": ("s", L),
        "shuffle_write_bytes": ("B", L),
    },
    "op": {
        "s": ("s", L), "self_s": ("s", L), "p50_s": ("s", L), "p90_s": ("s", L),
        "jit_cpu_s": ("s", L),
    },
    "trace": {"overhead_s": ("s", L)},
    "quality": {"pairwise_f1": ("ratio", H), "probe_hits": ("count", H)},
}
PER_LAYER = {f"{layer}.{k}": u for layer, ms in _LAYERS.items() for k, (u, _) in ms.items()}
PER_LAYER_BETTER = {
    f"{layer}.{k}": b for layer, ms in _LAYERS.items() for k, (_, b) in ms.items()
}
