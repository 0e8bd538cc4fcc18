"""Tiny-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

1. Generates the tiny inputs of every workload for two seeds; generation
   itself fails unless the DuckDB recount of every planted violation agrees
   with the generator's manifest, per check and per micro-batch file.
2. Runs every workload end to end at the tiny size, untraced and traced,
   and checks that each run exits 0, reports ``correct`` with no failed
   attempt, and prints exactly the metrics BENCHMARK.json names.

Takes a few minutes on 4 cores. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import gen

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cache = os.path.join(ROOT, ".bench_build", "perfbench", "selfcheck")
    shutil.rmtree(cache, ignore_errors=True)
    workloads = [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for seed in (1, 2):
            d = gen.ensure(cache, "tiny", w, seed)
            print(f"inputs {w} seed {seed}: manifest and DuckDB recount agree ({d})")
    shutil.rmtree(cache, ignore_errors=True)

    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                print(p.stdout[-2000:], p.stderr[-4000:], file=sys.stderr)
                raise SystemExit(f"{w} trace={trace}: exit code {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"] for m in bench[key]}
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"{w} trace={trace}: outputs failed the check: {p.stdout[-3000:]}")
            if set(res["metrics"]) != want:
                raise SystemExit(f"{w} trace={trace}: metrics {sorted(set(res['metrics']) ^ want)} differ")
            print(f"run {w} trace={trace}: correct, {res['attempted']} attempted, 0 failed")
    print("self-check passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
