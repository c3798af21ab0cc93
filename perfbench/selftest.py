"""Self-test of the benchmark's output contract.

    python3 perfbench/selftest.py

Runs the benchmark command from BENCHMARK.json for every workload in
both trace modes, with a one-second window, and checks that the last line of its output is one JSON
object with exactly the keys correct/attempted/failed/metrics, that the
metric names and units are exactly the ones BENCHMARK.json lists for
that mode, that every value is a finite number and that the outputs
were correct. It also runs the command in a directory that holds only
BENCHMARK.json and the benchmark's files, where it must fail without
printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDS = 1


def run(cwd: str, spec: dict, workload: str, trace: int):
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7",
        "--seconds", str(SECONDS), "--trace", str(trace),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_result(spec: dict, trace: int, proc) -> list[str]:
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError) as exc:
        return [f"last line is not JSON: {exc}"]
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True:
        problems.append("correct is not true")
    if not (isinstance(res.get("attempted"), int) and res["attempted"] >= 1):
        problems.append(f"attempted = {res.get('attempted')!r}")
    if not isinstance(res.get("failed"), int):
        problems.append(f"failed = {res.get('failed')!r}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != want:
        problems.append(
            f"metric names/units differ: missing {sorted(set(want) - set(got))},"
            f" extra {sorted(set(got) - set(want))},"
            f" unit mismatches {sorted(k for k in set(want) & set(got) if want[k] != got[k])}"
        )
    for k, v in res.get("metrics", {}).items():
        x = v.get("value")
        if isinstance(x, bool) or not isinstance(x, (int, float)) or not math.isfinite(x):
            problems.append(f"{k}: value {x!r} is not a finite number")
    return problems


def check_bare_dir(spec: dict) -> list[str]:
    """In a directory holding only BENCHMARK.json and the benchmark's
    paths the command must exit non-zero without printing a result."""
    d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(d, spec, spec["workloads"][0]["name"], 0)
        out = proc.stdout.strip().splitlines()
        if proc.returncode == 0:
            return ["bare directory: exit code 0"]
        if out and out[-1].startswith("{"):
            return ["bare directory: printed a result"]
        return []
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)

    failures = 0
    problems = check_bare_dir(spec)
    print(f"{'FAIL' if problems else 'PASS'} bare directory {problems or ''}")
    failures += bool(problems)
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            proc = run(ROOT, spec, w, trace)
            problems = check_result(spec, trace, proc)
            print(f"{'FAIL' if problems else 'PASS'} {w} --trace {trace} {problems or ''}")
            print("    " + (proc.stdout.strip().splitlines() or [""])[-1])
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
