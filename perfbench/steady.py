"""Run-to-run spread of the end-to-end metrics, one fresh process per run.

    python3 perfbench/steady.py --workload analytics_txn --seeds 1-10

For each seed it runs ``perfbench/run.py`` once (tracing off, for
BENCHMARK.json's ``run_seconds``), then prints, per metric, the median
and the distance between the first and third quartile as a share of
the median -- the spread each metric's ``bound`` in BENCHMARK.json
must stay above -- and the wall time of the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()

    values, walls = {}, []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=180)
        walls.append(time.perf_counter() - t)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med
        print(f"{k:12s} median {med:10.4f}  spread {spread:6.3f}  "
              f"bound {bounds.get(k, float('nan')):.2f}  "
              f"(bound/3 {bounds.get(k, float('nan')) / 3:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
