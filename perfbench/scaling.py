#!/usr/bin/env python3
"""Scaling of the realistic crawl dedup from local[1] to local[N].

    python3 perfbench/scaling.py --seed 1 [--repeats 1]

Runs ``perfbench/run.py --workload web_bootstrap`` in a fresh process at
local[1] and at local[N], N = the CPUs this process may run on (run.py pins
each process to that many CPUs), alternating which runs first when
``--repeats`` > 1, and prints one JSON line with each level's median
``docs_per_s`` and ``scaling.eff_1_to_n`` =
(docs_per_s at N / docs_per_s at 1) / N.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=1)
    args = ap.parse_args(argv)
    n = len(os.sched_getaffinity(0))
    levels = [1, n]
    rates: dict[int, list[float]] = {lv: [] for lv in levels}
    for rep in range(args.repeats):
        for lv in levels if rep % 2 == 0 else levels[::-1]:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", "web_bootstrap",
                 "--seed", str(args.seed), "--seconds", "5", "--trace", "0",
                 "--cpus", str(lv)],
                cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=1800,
            )
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            if not result or not result["correct"]:
                print(f"local[{lv}] run failed:\n{proc.stdout}\n{proc.stderr[-4000:]}",
                      file=sys.stderr)
                return 1
            rates[lv].append(result["metrics"]["docs_per_s"]["value"])
    med = {lv: statistics.median(v) for lv, v in rates.items()}
    print(json.dumps({
        "workload": "web_bootstrap",
        "seed": args.seed,
        "docs_per_s": {f"local[{lv}]": med[lv] for lv in levels},
        "samples": {f"local[{lv}]": rates[lv] for lv in levels},
        "n": n,
        "scaling.eff_1_to_n": med[n] / med[1] / n,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
