"""Smoke test of the benchmark itself, on tiny inputs.

Run from the repository root (five to ten minutes on 4 cores):

    python3 perfbench/smoke.py

It checks that the output checks catch wrong outputs, that every workload
runs in both modes and prints every metric with its unit and sample count,
that the last line is the result object, that BENCHMARK.json names the
metrics the benchmark prints, and that the benchmark fails cleanly where the
package is missing.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

sys.path.insert(0, os.getcwd())

from perfbench import inputs, workloads as W  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, PER_LAYER_BETTER  # noqa: E402

RUN = [sys.executable, "perfbench/run.py"]


def check_checks() -> None:
    """The single-node checks accept a right output and reject wrong ones."""
    cfg = SimpleNamespace(
        prefix_tokens=2, prefix_chars=4, sorted_tokens=3, threshold=0.5,
        score_prefix_len=128, banded_scoring=False, max_block_size=2,
        weights={"jw": 0.4, "lev": 0.2, "tok": 0.3, "med": 0.1},
    )
    canon = {"a": ("x y z", []), "b": ("x y w", []), "c": ("q r s", ["m:1"])}
    assert not W._check_canon(canon, {"a": "X  y z", "b": "x y w", "c": "q r s"})
    assert W._check_canon(canon, {"a": "x y", "b": "x y w", "c": "q r s"})

    def no_salts(want):
        assert not want, want
        return {}

    assert not W._check_pairs([("a", "b")], canon, cfg, no_salts)
    assert W._check_pairs([], canon, cfg, no_salts)  # a missing pair
    assert W._check_pairs([("a", "b"), ("a", "c")], canon, cfg, no_salts)
    assert W._check_pairs([("b", "a")], canon, cfg, no_salts)
    # "pfx:x_y" holds three docs, over max_block_size: two salted sub-blocks
    hot = {**canon, "d": ("x y v", [])}
    assert not W._check_pairs(
        [("a", "b")], hot, cfg, lambda want: {(d, n): int(d == "d") for d, n in want}
    )
    assert W._check_pairs([("a", "b")], hot, cfg, lambda want: dict.fromkeys(want, 0))
    assert not W._check_clusters({"a": "a", "b": "a", "c": "c"}, [("a", "b")], canon)
    assert W._check_clusters({"a": "a", "b": "b", "c": "c"}, [("a", "b")], canon)
    assert W._check_clusters({"a": "a", "b": "a"}, [("a", "b")], canon)
    row = {"doc_id_a": "a", "doc_id_b": "b"}
    # 0.4 * jw 0.92 + 0.2 * lev 0.8 + 0.3 * jaccard 0.5 + 0.1 * no-media 0.5
    right = W._check_scores([{**row, "score": 0.728}], canon, cfg, 0)
    wrong = W._check_scores([{**row, "score": 0.2}], canon, cfg, 0)
    assert wrong and not right, (right, wrong)
    probe = W._probe_scores([("p", "e", "x y z", "x y z"), ("p", "f", "x y z", "q r s")])
    assert probe["p"]["e"] == 1.0 and probe["p"]["f"] < 0.5, probe


def check_benchmark_json() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == END_TO_END, e2e
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == {k: (u, PER_LAYER_BETTER[k]) for k, u in PER_LAYER.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)


def check_runs(trace: int) -> None:
    proc = subprocess.run(
        [*RUN, "--workload", "all", "--scale", "tiny", "--seconds", "1",
         "--seed", "3", "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.returncode
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    wanted = PER_LAYER if trace else END_TO_END
    for w in W.WORKLOADS:
        for name, unit in wanted.items():
            m = result["metrics"][f"{w}.{name}"]
            assert m["unit"] == unit and isinstance(m["value"], (int, float)), (w, name, m)
            pat = rf"^{w}\s+{re.escape(name)}\s+\S+\s+{re.escape(unit)}\s+median of [1-9]"
            assert any(re.match(pat, line) for line in lines), (w, name)
    checks = [json.loads(line[len("checks "):]) for line in lines if line.startswith("checks ")]
    assert len(checks) == len(W.WORKLOADS), checks
    assert all(c["independent"] >= 1 and c["compared"] >= 1 for c in checks), checks
    assert sum(line.startswith("host ") for line in lines) == len(W.WORKLOADS)


def check_fails_without_package() -> None:
    """In a directory holding only the benchmark, it exits non-zero, silently."""
    bare = (inputs.WORK_DIR / "smoke-bare").resolve()
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copytree("perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy("BENCHMARK.json", bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "probe_incremental",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180,
    )
    shutil.rmtree(bare)
    assert proc.returncode != 0 and not proc.stdout.strip(), proc


def main() -> int:
    check_checks()
    check_benchmark_json()
    check_fails_without_package()
    for trace in (0, 1):
        check_runs(trace)
    print("perfbench smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
