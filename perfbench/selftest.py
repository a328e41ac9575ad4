"""Self-test of the benchmark's repeatable counters.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json: two traced runs with one seed
must report identical values for the deterministic counters below,
and a run with a second seed must report the same counter shape (the
same counters zero and non-zero). Every run must pass its output checks and report exactly
the per-layer metrics BENCHMARK.json lists. Exits non-zero on any
mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DETERMINISTIC = (
    "exec.stages",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "sources.rest.page_gets",
    "operators.txn.files_per_commit",
)
SEEDS = (11, 12)


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    names = {m["name"] for m in bench["per_layer"]}
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        a1, a2, b = (traced_run(wl, s, bench["run_seconds"]) for s in (SEEDS[0], SEEDS[0], SEEDS[1]))
        for label, res in (("seed A", a1), ("seed A again", a2), ("seed B", b)):
            if not res["correct"] or res["failed"]:
                problems.append(f"{wl} {label}: output checks failed")
            if set(res["metrics"]) != names:
                problems.append(f"{wl} {label}: metrics differ from BENCHMARK.json per_layer")
        val = lambda res, k: res["metrics"][k]["value"]  # noqa: E731
        for k in DETERMINISTIC:
            same = val(a1, k) == val(a2, k)
            shape = (val(a1, k) == 0) == (val(b, k) == 0)
            print(f"{wl:14s} {k:32s} A={val(a1, k):<14g} A'={val(a2, k):<14g} "
                  f"B={val(b, k):<14g} {'ok' if same and shape else 'MISMATCH'}")
            if not same:
                problems.append(f"{wl} {k}: {val(a1, k)} != {val(a2, k)} on one seed")
            if not shape:
                problems.append(f"{wl} {k}: zero on one seed only")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
