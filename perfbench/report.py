"""Run every workload of BENCHMARK.json once and print its end-to-end
metrics by name and unit.

    python3 perfbench/report.py [--seed 1] [--seconds N] [--trace]

Exits non-zero if any run reports a failed output check or crashes. With
``--trace`` each workload also gets a traced run, whose per-layer metrics
are printed after its end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"{workload}: run.py exited {p.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    ok = True
    for w in bench["workloads"]:
        for trace in (0, 1) if args.trace else (0,):
            res = run(w["name"], args.seed, args.seconds, trace)
            if res is None:
                ok = False
                continue
            ok = ok and res["correct"] and res["failed"] == 0
            print(f"{w['name']}{' (traced)' if trace else ''}:")
            for name, v in res["metrics"].items():
                print(f"  {name:<44} {v['value']:>16.6g} {v['unit']}")
            frac = res["failed"] / res["attempted"]
            print(f"  {'failed_frac':<44} {frac:>16.6g} ({res['failed']} of {res['attempted']} runs)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
