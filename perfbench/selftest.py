"""Self-test of the benchmark itself (not of the program).

Run from the repository root:

    python3 perfbench/selftest.py [workload ...]

For every workload in BENCHMARK.json (or the ones named), at sf0.001-sized
inputs:

- an untraced and a traced run print exactly the metric names and units
  BENCHMARK.json lists for that mode, and pass their output checks;
- a run with a deliberately corrupted program output reports failed ops;
- the same seed generates byte-identical inputs.

It also checks that the command fails without printing a result in a
directory holding only BENCHMARK.json and the benchmark's files.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))


def _run(spec: dict, cwd: Path, *extra: str) -> tuple[int, list[str]]:
    cmd = [*spec["command"], *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok   {what}")


def _check_result(spec: dict, lines: list[str], trace: int, label: str) -> dict:
    result = json.loads(lines[-1])
    _expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{label}: result keys")
    _expect(isinstance(result["attempted"], int) and result["attempted"] >= 1,
            f"{label}: attempted >= 1")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    _expect(got == want, f"{label}: metric names and units match BENCHMARK.json")
    _expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
            f"{label}: every value is a number")
    if not trace:
        _expect(all(v["value"] > 0 for v in result["metrics"].values()),
                f"{label}: every end-to-end value is non-zero")
    return result


def _inputs_deterministic() -> None:
    import numpy as np

    import gen

    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as d:
        a, b = Path(d, "a"), Path(d, "b")
        for out in (a, b):
            rng = np.random.default_rng(11)
            gen.star_tables(str(out / "tables"), rng, 0.001)
            gen.bronze_lake(str(out / "bronze"), rng, 300)
            gen.change_feed(str(out / "feed"), rng, [f"m{i}" for i in range(300)], 2, 20)
        cmp = filecmp.dircmp(a, b)
        same = all(
            not filecmp.cmpfiles(a / sub, b / sub, os.listdir(a / sub), shallow=False)[1]
            for sub in ("tables", "bronze", "feed")
        )
        _expect(same and not cmp.left_only and not cmp.right_only,
                "same seed writes byte-identical inputs")


def _fails_without_program(spec: dict) -> None:
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, Path(d, p), ignore=shutil.ignore_patterns("__pycache__"))
        w = spec["workloads"][0]["name"]
        code, lines = _run(spec, Path(d), "--workload", w, "--seed", "1",
                           "--seconds", "1", "--trace", "0")
        printed = any(line.startswith("{") for line in lines)
        _expect(code != 0 and not printed,
                "without the program the command exits non-zero and prints no result")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    _inputs_deterministic()
    _fails_without_program(spec)
    for name in names:
        base = ["--workload", name, "--seed", "7", "--seconds", "1", "--tiny"]
        for trace in (0, 1):
            code, lines = _run(spec, ROOT, *base, "--trace", str(trace))
            _expect(code == 0, f"{name} trace={trace}: exit code 0")
            r = _check_result(spec, lines, trace, f"{name} trace={trace}")
            _expect(r["correct"] and r["failed"] == 0, f"{name} trace={trace}: outputs correct")
        code, lines = _run(spec, ROOT, *base, "--trace", "0", "--inject-wrong")
        r = _check_result(spec, lines, 0, f"{name} injected wrong output")
        _expect(code == 0 and not r["correct"] and r["failed"] >= 1,
                f"{name}: injected wrong output raises failed_ratio "
                f"({r['failed']}/{r['attempted']})")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
