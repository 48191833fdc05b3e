"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread (inter-quartile range over the median, the
statistic the acceptance rule uses), next to the metric's bound.

    python3 perfbench/steadiness.py --workload crawl_table --seeds 1-10

Runs are sequential; results go to stdout, one line per run, then the
summary. Needs the same environment as run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict = {}
    for seed in _seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        lines = out.stdout.strip().splitlines()
        info = next((ln for ln in lines if ln.startswith("perfbench ")), "")
        print(f"seed {seed} exit {out.returncode} wall "
              f"{time.time() - t0:.1f}s {info[10:]}", flush=True)
        if out.returncode != 0 or not lines:
            print(out.stderr[-2000:], flush=True)
            continue
        res = json.loads(lines[-1])
        print("   ", json.dumps(res), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:32s} median {med:12.4f} spread {(q3 - q1) / med:7.4f} "
              f"bound {bounds.get(k)} n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
