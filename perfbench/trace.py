"""Measurement helpers: process-tree CPU and RSS, and per-layer spans.

Spans are recorded by the benchmark around its calls into each layer (plus
the action that forces the layer's output). Spark's own SQL metrics are
attributed to a span by the submission time of each SQL execution, read from
the session's SQL status store, which is populated with the UI disabled.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# thread names (truncated to 15 characters) of HotSpot's JIT compilers
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """CPU-seconds and resident memory of a process and all its descendants
    (here: the benchmark process, its JVM, the PySpark daemon and Python workers)."""

    def __init__(self, root: int | None = None):
        self.root = str(root or os.getpid())

    def _stats(self) -> dict[str, list[str]]:
        """/proc/<pid>/stat fields of the root and its descendants, by pid."""
        children: dict[str, list[str]] = defaultdict(list)
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit() and (st := _stat_fields(pid)) is not None:
                stats[pid] = st
                children[st[1]].append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def pids(self) -> list[str]:
        return list(self._stats())

    def cpu_s(self) -> float:
        # utime + stime of live processes, cutime + cstime for reaped ones
        ticks = sum(sum(int(x) for x in st[11:15]) for st in self._stats().values())
        return ticks / _CLK_TCK

    def rss_mb(self) -> float:
        """Summed RSS of the tree's processes that are at least a second old.

        Younger ones are skipped: a child forked to run a short command shares
        its parent's pages until it execs, and reads as a second copy of the
        parent (one such reading summed to 6.5 GB against the usual 3.8 GB).
        """
        with open("/proc/uptime") as f:
            born_before = (float(f.read().split()[0]) - 1.0) * _CLK_TCK
        pages = sum(
            int(st[21]) for st in self._stats().values() if int(st[19]) <= born_before
        )
        return pages * _PAGE / 2**20

    def jit_cpu_s(self) -> float:
        """CPU-seconds of the JVM's JIT compiler threads in the tree."""
        ticks = 0
        for pid in self._stats():
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                task = f"{pid}/task/{tid}"
                try:
                    with open(f"/proc/{task}/comm") as f:
                        if not f.read().startswith(_JIT_THREADS):
                            continue
                except OSError:
                    continue
                if (st := _stat_fields(task)) is not None:
                    ticks += int(st[11]) + int(st[12])
        return ticks / _CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class PeakRss:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.5):
        self.tree, self.interval_s = tree, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# Spark SQL metric name -> benchmark metric suffix (summed per span)
SQL_METRICS = {
    "size of files read": "scan_bytes",
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Parse a status-store metric string ('12.3 MiB', '1,024', '950 ms',
    or 'total (min, med, max ...)\\n<total> (...)') to bytes/seconds/count."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlStore:
    """Read SQL executions (and their plan-node metrics) of one session."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def flush(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def last_id(self) -> int:
        self.flush()
        n = self._store.executionsCount()
        return self._store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def executions_after(self, first_excluded: int) -> list[dict]:
        """[{submitted: epoch s, metrics: {name: value}, scan_rows}] of every
        execution with id > first_excluded."""
        out = []
        last = self.last_id()
        for eid in range(first_excluded + 1, last + 1):
            opt = self._store.execution(eid)
            if not opt.isDefined():
                continue
            values = self._store.executionMetrics(eid)
            sums: dict[str, float] = defaultdict(float)
            nodes = self._store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    name = m.name()
                    if name in SQL_METRICS or (
                        name == "number of output rows" and node.name().startswith("Scan ")
                    ):
                        v = values.get(m.accumulatorId())
                        key = SQL_METRICS.get(name, "scan_rows")
                        sums[key] += parse_metric(v.get() if v.isDefined() else None)
            out.append({"submitted": opt.get().submissionTime() / 1000.0, "metrics": sums})
        return out


class Tracer:
    """In-memory spans of one operation (a pass or a probe batch).

    ``span`` wraps a layer call; ``add_span`` records one whose boundaries
    were observed another way; ``note`` records a per-operation count.
    ``end_op`` attributes every SQL execution submitted during the operation
    to the shortest span covering its submission time and returns per-layer
    totals. A tracer outside a traced operation records nothing.
    """

    def __init__(self, store: SqlStore | None):
        self.store = store
        self.spans: list[dict] = []
        self._op = None

    @property
    def enabled(self) -> bool:
        return self._op is not None

    def begin_op(self, op_id: str, traced: bool) -> None:
        self._op = None
        if traced:
            self._op = {"id": op_id, "first": self.store.last_id(), "spans": [], "notes": {}}

    def span(self, name: str):
        return _Span(self, name)

    def add_span(self, name: str, start: float, end: float) -> None:
        if self._op is not None:
            rec = {"name": name, "parent": self._op["id"], "start": start, "end": end}
            self._op["spans"].append(rec)

    def note(self, key: str, value: float) -> None:
        if self._op is not None:
            self._op["notes"][key] = value

    def end_op(self, start: float, end: float) -> dict[str, float]:
        """Close the operation; return {"<layer>.<metric>": value}."""
        op, self._op = self._op, None
        if op is None:
            return {}
        spans = op["spans"]
        self.spans.append({"name": "op", "parent": None, "id": op["id"], "start": start, "end": end})
        self.spans.extend(spans)
        layers: dict[str, dict[str, float]] = {
            s["name"]: defaultdict(float, s=s["end"] - s["start"]) for s in spans
        }
        for ex in self.store.executions_after(op["first"]):
            covering = [s for s in spans if s["start"] <= ex["submitted"] <= s["end"]]
            if not covering:
                continue
            layer = layers[min(covering, key=lambda s: s["end"] - s["start"])["name"]]
            layer["sql_executions"] += 1
            for k, v in ex["metrics"].items():
                layer[k] += v
        # self time: a span's duration minus the spans it encloses (layer
        # spans nest at most one level, inside the enclosing run's span)
        def dur(s):
            return s["end"] - s["start"]

        def enclosed(outer):
            return [
                s for s in spans
                if s is not outer and outer["start"] <= s["start"] and s["end"] <= outer["end"]
            ]

        for sp in spans:
            layers[sp["name"]]["self_s"] = dur(sp) - sum(map(dur, enclosed(sp)))
        top = [s for s in spans if not any(s in enclosed(o) for o in spans)]
        layers["op"] = {"s": end - start, "self_s": end - start - sum(map(dur, top))}
        out = {f"{layer}.{k}": v for layer, m in layers.items() for k, v in m.items()}
        out.update(op["notes"])
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.tracer.add_span(self.name, self.start, time.time())
