"""Benchmark of sneaky_data_matcher_spark on local[4].

Run from the repository root:

    python3 perfbench/run.py --workload sf01_banded --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run starts a SparkSession, builds the workload's seeded inputs (cached
under .bench_build/perfbench), runs the untimed first operations, then times
as many operations as take ``--seconds`` on a quiet host (the same number on a
loaded one). Every output is checked: the first one
of each kind against single-node re-computations, the rest against the first.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations and reports per-layer metrics, the tracing
overhead, and writes the spans to .bench_build/perfbench/traces/. The last
line of standard output is one JSON object: correct, attempted, failed and
metrics. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, os.getcwd())  # the package under test, from this checkout

from perfbench import inputs  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

CPUS = 4
SHUFFLE_PARTITIONS = 16
DRIVER_MEMORY = "2g"


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", choices=("full", "tiny"), default="full",
        help="tiny: small inputs for the benchmark's own smoke test",
    )
    return ap.parse_args(argv)


def start_session():
    """local[4] session whose scratch files stay inside the checkout."""
    tmp = (inputs.WORK_DIR / "tmp").resolve()
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata_*;
    # JIT compiler threads that live as long as the JVM, so that their CPU
    # time can be told apart from the rest (trace.ProcTree.jit_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    from sneaky_data_matcher_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=CPUS,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark, tree) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(tree.pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def host_facts(spark) -> dict:
    import duckdb
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def _quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _p90(xs):
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


class Checker:
    """Output checks: the first output of each input is checked on its own
    and becomes the reference that later outputs of that input must equal."""

    def __init__(self, wl):
        self.wl, self.refs = wl, {}
        self.counts = {"independent": 0, "compared": 0}

    def __call__(self, i: int, out) -> list[str]:
        summary, slot = self.wl.summary(out), self.wl.slot(i)
        if slot not in self.refs:
            self.refs[slot] = summary
            self.counts["independent"] += 1
            return self.wl.check(out)
        self.counts["compared"] += 1
        return [] if summary == self.refs[slot] else [f"op {i}: output differs from the first"]


def measure(args) -> dict:
    from perfbench.trace import PeakRss, ProcTree, SqlStore, Tracer, host_cpu_ticks
    from perfbench.workloads import WORKLOADS

    tree = ProcTree()
    t0 = time.perf_counter()
    spark = start_session()
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(SqlStore(spark) if args.trace else None)
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, tracer)
        check = Checker(wl)
        t1 = time.perf_counter()
        built = wl.setup()
        inputs_s = time.perf_counter() - t1

        # untimed first operations; a wrong one fails every later operation
        errors, warm, check_s = [], [], 0.0
        for i in range(wl.warm_ops):
            t2 = time.perf_counter()
            out = wl.op(i)
            warm.append(time.perf_counter() - t2)
            first = wl.slot(i) not in check.refs
            errors += check(i, out)
            if args.trace and first:
                wl.layer_counts(out)
            wl.release(out)
            check_s += time.perf_counter() - t2 - warm[-1]
        setup_s = time.perf_counter() - t0 - check_s

        walls, cpus, jits, layer_samples = [], [], [], defaultdict(list)
        traced_walls, untraced_walls = [], []
        failed = 0
        steal0 = host_cpu_ticks()
        with PeakRss(tree) as rss:
            begin = time.perf_counter()
            cyc = wl.cycle
            # A fixed number of whole cycles, from --seconds and the
            # workload's nominal operation time, so that a run on a loaded
            # host times the same (equally warm) operations as on a quiet
            # one. Traced runs alternate untraced and traced cycles and need
            # one of each. Only a host many times slower cuts a run short.
            min_cycles = 2 if args.trace else 1
            cycles = max(min_cycles, int(args.seconds / (cyc * wl.op_s) + 0.5))
            for n in range(cycles * cyc):
                if n >= min_cycles * cyc and n % cyc == 0 and (
                    time.perf_counter() - begin > 5 * args.seconds
                ):
                    print(f"timed region cut after {n} operations", file=sys.stderr)
                    break
                i, traced = wl.warm_ops + n, bool(args.trace) and (n // cyc) % 2 == 1
                tracer.begin_op(f"{args.workload}-{i}", traced)
                c0, j0 = tree.cpu_s(), tree.jit_cpu_s()
                s0, p0 = time.time(), time.perf_counter()

                def spent():
                    wall, jit = time.perf_counter() - p0, tree.jit_cpu_s() - j0
                    return wall, tree.cpu_s() - c0 - jit, jit

                try:
                    out = wl.op(i)
                    wall, cpu, jit = spent()
                    ok = not check(i, out)
                    wl.release(out)
                except Exception:  # an operation that fails counts, the run goes on
                    traceback.print_exc()
                    (wall, cpu, jit), ok = spent(), False
                for k, v in tracer.end_op(s0, s0 + wall).items():
                    layer_samples[k].append(v)
                failed += not ok
                walls.append(wall)
                cpus.append(cpu)
                jits.append(jit)
                (traced_walls if traced else untraced_walls).append(wall)
        steal1 = host_cpu_ticks()
        attempted = len(walls)
        if errors:
            failed = attempted
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)

        if args.trace:
            samples = {
                **layer_samples,
                **wl.layers,
                "session.start_s": [session_start_s],
                "session.inputs_s": [inputs_s],
                "session.inputs_built": [float(built)],
                "session.warm_pass_s": warm[:1],
                "op.jit_cpu_s": jits,
                "trace.overhead_s": [
                    statistics.median(traced_walls) - statistics.median(untraced_walls)
                ],
                # latency percentiles of the untraced operations only
                "op.p50_s": [statistics.median(untraced_walls)],
                "op.p90_s": [_p90(untraced_walls)],
            }
            write_spans(tracer.spans, f"{args.workload}-seed{args.seed}")
        else:
            samples = {
                "e2e_s": walls,
                "cpu_s": cpus,
                "peak_rss_mb": [rss.peak_mb],
                "setup_s": [setup_s],
            }
        host = host_facts(spark)
        # CPU time the hypervisor gave to other guests while this run was timed
        host["steal_pct_timed"] = round(
            100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 2
        )
    finally:
        stop_session(spark, tree)

    report = {}
    for name, unit in (PER_LAYER if args.trace else END_TO_END).items():
        xs = samples.get(name) or [0.0]
        q1, med, q3 = _quartiles(xs)
        report[name] = {"value": med, "unit": unit, "n": len(xs), "iqr": q3 - q1}
    return {
        "host": host,
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "report": report,
        "checks": {**check.counts, "check_s": round(check_s, 3)},
        "ops": {
            "warm_s": [round(x, 3) for x in warm],
            "timed_s": [round(x, 3) for x in walls],
            "timed_cpu_s": [round(x, 2) for x in cpus],
            "timed_jit_cpu_s": [round(x, 2) for x in jits],
        },
    }


def write_spans(spans: list[dict], name: str) -> None:
    trace_dir = inputs.WORK_DIR / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    with open(trace_dir / f"{name}.jsonl", "w") as f:
        for span in spans:
            f.write(json.dumps(span) + "\n")


def print_result(res: dict, workload: str) -> None:
    print(f"host {json.dumps(res['host'])}")
    print(f"ops {json.dumps(res['ops'])}")
    print(f"checks {json.dumps(res['checks'])}")
    for name, m in res["report"].items():
        print(
            f"{workload:18s} {name:34s} {m['value']:14.6g} {m['unit']:6s} "
            f"median of {m['n']}, IQR {m['iqr']:.4g}"
        )
    print(
        f"{workload:18s} {'error_rate':34s} {res['failed'] / res['attempted']:14.6g} ratio  "
        f"{res['failed']} of {res['attempted']} operations failed or wrong"
    )
    metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in res["report"].items()}
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )


def run_all(args) -> int:
    """Every workload in its own process (one JVM each), one summary table."""
    from perfbench.workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [
            sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", args.scale,
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited with {proc.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import sneaky_data_matcher_spark as pkg
    except ImportError as e:
        print(f"perfbench: run from a checkout of the repository ({e})", file=sys.stderr)
        return 2
    if not Path(pkg.__file__).resolve().is_relative_to(Path.cwd().resolve()):
        print(f"perfbench: {pkg.__file__} is not this checkout's package", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    print_result(measure(args), args.workload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
