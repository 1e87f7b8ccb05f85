"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, from a working
directory other than the repository root, and checks that each run
exits 0, prints every named metric with its unit, and fails no row. It
also checks that a copy of the benchmark without the program refuses to
run and prints no result. Takes about ten minutes on 4 CPUs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import CACHE, END_TO_END  # noqa: E402
from perfbench.workloads import PER_LAYER, WORKLOADS  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(workload: str, trace: int, cwd: str) -> list[str]:
    p = run(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"], cwd)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    lines = p.stdout.strip().splitlines()
    result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    want = PER_LAYER if trace else END_TO_END
    errors = []
    if trace and set(context["not_applicable"]) != PER_LAYER.keys() - WORKLOADS[workload].layers.keys():
        errors.append(f"{where}: not_applicable {context['not_applicable']}")
    if set(result) != RESULT_KEYS:
        errors.append(f"{where}: result keys {sorted(result)}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{where}: metrics differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, units {got == want}")
    if result["failed"] != 0 or not result["correct"] or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} attempted={result['attempted']} "
                      f"failed={result['failed']} defects={context['defects']}")
    return errors


def check_declared() -> list[str]:
    """BENCHMARK.json, when present, names exactly the emitted metrics."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        spec = json.load(f)
    errors = []
    for key, emitted in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != emitted:
            errors.append(f"BENCHMARK.json {key} differs from run.py: "
                          f"{sorted(set(declared) ^ set(emitted))}")
    return errors


def check_refuses_without_program() -> list[str]:
    bare = os.path.join(CACHE, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "extract_text", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare copy: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
    return []


def main() -> int:
    cwd = os.path.join(CACHE, "selftest-cwd")
    os.makedirs(cwd, exist_ok=True)
    errors = check_declared() + check_refuses_without_program()
    for name in WORKLOADS:
        for trace in (0, 1):
            found = check_run(name, trace, cwd)
            print(f"{name} --trace {trace}: {'FAILED' if found else 'ok'}", flush=True)
            errors += found
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
