#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run of every workload.

    python3 perfbench/selftest.py

Runs each workload untraced and traced on tiny inputs (DAG fixtures at
scale 0.05, key testdata at sf0.001, a 1-second window) and asserts that

- the run exits 0 and its last stdout line is the result object, with every
  ``end_to_end`` (untraced) or ``per_layer`` (traced) metric of
  BENCHMARK.json under its unit, and no failed op;
- every end-to-end metric and ``fail_ratio`` is printed with its unit and
  sample count;
- the traced run emits every per-layer name, per model and per key included;
- nothing is left under ``.perfbench_work``;
- in a directory holding only BENCHMARK.json and the benchmark, the run
  fails without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from tracing import LAYER_UNITS  # noqa: E402
from workloads import ITERATIVE_KEYS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {
    "dag_medallion": ["--scale", "0.05"],
    "keys_iterative": ["--sf", "0.001"],
}
MODELS = [
    f"{e}_{layer}" for layer in ("bronze", "silver")
    for e in ("customers", "policies", "claims", "premiums")
] + ["gold_customer_360", "gold_policy_performance", "gold_claims_operations",
     "gold_executive_summary"]


def run(cwd: Path, workload: str, trace: int, extra: list[str]) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace, TINY[workload])
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    chosen = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in chosen
    }, result["metrics"]
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float)), v
    text = "\n".join(lines[:-1])
    for m in SPEC["end_to_end"] + [{"name": "fail_ratio", "unit": "ratio"}]:
        row = [ln for ln in lines if ln.split()[:1] == [m["name"]]]
        assert row and m["unit"] in row[0].split() and " n=" in row[0], (m, text)
    if trace:
        layer_line = [ln for ln in lines if ln.startswith("perfbench per-layer ")]
        assert layer_line, text
        layer = json.loads(layer_line[0][len("perfbench per-layer "):])
        names = set(LAYER_UNITS)
        if workload == "dag_medallion":
            names |= {f"registry.model.{m}_s" for m in MODELS}
        else:
            names |= {f"key.{k}.{p}_s" for k in ITERATIVE_KEYS for p in ("build", "exec")}
        assert not names - set(layer), sorted(names - set(layer))
    assert not (ROOT / ".perfbench_work").exists(), "run left .perfbench_work behind"
    print(f"ok {workload} trace={trace} attempted={result['attempted']}")


def check_bare_directory() -> None:
    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        for workload in TINY:
            proc = run(bare, workload, 0, [])
            assert proc.returncode != 0, proc.stdout
            last = proc.stdout.strip().splitlines()[-1:] or [""]
            assert not last[0].startswith("{"), proc.stdout
    finally:
        shutil.rmtree(ROOT / ".perfbench_work", ignore_errors=True)
    print("ok bare directory fails without a result")


def main() -> int:
    for workload in TINY:
        for trace in (0, 1):
            check_run(workload, trace)
    check_bare_directory()
    return 0


if __name__ == "__main__":
    sys.exit(main())
