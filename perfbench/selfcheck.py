"""Check the benchmark's own checkers.

    python3 perfbench/selfcheck.py

1. A tiny-size run of every workload must report correct outputs; the
   untraced one also checks the dedup expectations against the DuckDB
   oracles of ``__spark_entry__.oracle_sql()``.
2. The same tiny run with one deliberately wrong expectation must report
   every run as failed.
3. In a directory holding only BENCHMARK.json and perfbench/, run.py must
   exit non-zero without printing a result.

Exits non-zero if any of these does not hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "3", "--seconds", "1", *args]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    last = (p.stdout.strip().splitlines() or [""])[-1]
    try:
        return p.returncode, json.loads(last)
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    problems = []
    for w in workloads:
        for trace in ("0", "1"):
            oracle = ["--duckdb-oracle"] if trace == "0" else []
            rc, res = run(ROOT, "--workload", w, "--size", "tiny", "--trace", trace, *oracle)
            if rc != 0 or res is None or not res["correct"] or res["failed"]:
                problems.append(f"{w} tiny --trace {trace}: exit {rc}, result {res}")
        rc, res = run(ROOT, "--workload", w, "--size", "tiny", "--wrong-expectation")
        if rc != 0 or res is None or res["correct"] or res["failed"] != res["attempted"]:
            problems.append(f"{w} with a wrong expectation was not reported as failed: exit {rc}, result {res}")
        print(f"{w}: checked", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res = run(bare, "--workload", workloads[0])
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or res is not None:
        problems.append(f"run.py without the program exited {rc} with result {res}")

    for p in problems:
        print("FAIL:", p)
    print("selfcheck:", "FAILED" if problems else "all checks behaved")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
