"""Closed-loop benchmark of the engine: one workload per process.

    python3 perfbench/run.py --workload backfill|analytics_txn \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run starts a Spark session sized
to this host, generates its inputs from ``--seed``, warms up, then
issues ops one after another for ``--seconds`` of op time, checking
each op's output outside the timed region. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``; with
``--trace 1`` the per-layer metrics of a traced run (spans and Spark
status-store counters around every call into a layer), whose spans
are written to ``.perfbench_out/`` when the run ends. Everything else
the run writes lives in ``.perfbench_tmp/`` and is removed on exit.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PREPARE_REPEATS = 3

# What each per-layer metric should move: an end-to-end metric and
# workload. BENCHMARK.json holds the metric names and units.
SHOULD_MOVE = {
    "session.start_s": "setup_s, all workloads",
    "sources.rest.scan_s": "ops_per_s and op_p50_s on backfill; nothing on analytics_txn",
    "sources.rest.page_gets": "ops_per_s and op_p50_s on backfill",
    "sources.rest.page_gets_per_needed": "ops_per_s and op_p50_s on backfill",
    "sources.rest.retries_429": "op_p90_s on backfill",
    "sources.rest.token_requests": "op_p50_s on backfill",
    "sources.rest.self_s": "op_p50_s on backfill",
    "pipeline.load_s": "op_p50_s and op_p90_s on backfill",
    "pipeline.rerun_s": "op_p50_s and op_p90_s on backfill",
    "pipeline.self_s": "ops_per_s on backfill",
    "operators.sink.probe_s": "op_p50_s on backfill (reruns)",
    "operators.sink.files_written": "op_p50_s on backfill",
    "operators.sink.bytes_written": "op_p50_s on backfill",
    "plans.build_s": "op_p50_s on analytics_txn (queries)",
    "plans.build_sum_s": "ops_per_s on analytics_txn (queries)",
    "plans.plan_s": "op_p50_s on analytics_txn (queries)",
    "plans.plan_sum_s": "ops_per_s on analytics_txn (queries)",
    "plans.exec_s": "op_p50_s on analytics_txn (queries)",
    "plans.exec_sum_s": "ops_per_s on analytics_txn (curation queries)",
    "plans.self_s": "op_p50_s on analytics_txn (queries)",
    "exec.stages": "op_p50_s on analytics_txn (queries)",
    "exec.tasks": "op_p50_s on analytics_txn (queries)",
    "exec.run_ms": "ops_per_s, all workloads",
    "exec.cpu_ms": "ops_per_s, all workloads",
    "exec.gc_ms": "op_p90_s, all workloads",
    "exec.shuffle_read_bytes": "ops_per_s on analytics_txn (curation and txn ops)",
    "exec.shuffle_write_bytes": "ops_per_s on analytics_txn (curation and txn ops)",
    "exec.spill_bytes": "op_p90_s, all workloads",
    "exec.self_s": "ops_per_s on analytics_txn",
    "operators.txn.append_s": "ops_per_s on analytics_txn (txn ops)",
    "operators.txn.upsert_s": "ops_per_s and op_p90_s on analytics_txn (txn ops)",
    "operators.txn.delete_s": "ops_per_s on analytics_txn (txn ops)",
    "operators.txn.read_s": "ops_per_s on analytics_txn (txn ops)",
    "operators.txn.files_per_commit": "ops_per_s on analytics_txn (txn ops)",
    "operators.txn.bytes_per_commit": "ops_per_s on analytics_txn (txn ops)",
    "operators.txn.self_s": "ops_per_s on analytics_txn (txn ops)",
    "sources.txn_cdf.read_s": "op_p50_s on analytics_txn (txn ops)",
    "sources.txn_cdf.rows": "op_p50_s on analytics_txn (txn ops)",
    "sources.txn_cdf.self_s": "op_p50_s on analytics_txn (txn ops)",
    "operators.dedup.ngram_jaccard_s": "ops_per_s on analytics_txn (curation queries)",
    "operators.text.trigram_perplexity_s": "ops_per_s on analytics_txn (curation queries)",
    "operators.text.quality_scores_s": "ops_per_s on analytics_txn (curation queries)",
    "bench.self_s": "nothing: the benchmark's own work per op",
    "trace.self_s": "nothing: counter reads per traced op",
    "trace.overhead_pct": "nothing: traced vs untraced ops_per_s",
}


def units(section: str) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json's ``section`` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cpus() -> int:
    # what `nproc` reports: the CPUs this process may run on
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_ops(spark, ops, seconds: float, group: int = 1, traced=None) -> list[dict]:
    """Issue ops back to back until ``seconds`` of op time have passed
    at the end of a group of ``group`` ops. ``traced`` is the
    (tracer, counter helper) pair of a traced run, or None. Returns one
    record per op attempted."""
    from trace import NullTracer
    from workloads import CheckFailed, reset_catalog

    null, records, busy = NullTracer(), [], 0.0
    for i, op in enumerate(ops):
        if busy >= seconds and i % group == 0:
            break
        rec = {"kind": op.kind, "ok": True}
        if traced is None:
            t0 = time.perf_counter()
            try:
                result = op.call(null)
            except Exception:  # an op that raises is a failed op; go on
                rec["ok"], result = False, traceback.print_exc()
            rec["latency"] = time.perf_counter() - t0
        else:
            result = traced_call(*traced, op, rec)
        busy += rec["latency"]
        if rec["ok"]:
            try:
                op.check(result)
            except CheckFailed as e:
                rec["ok"] = False
                log(f"check failed on op {i} ({op.kind}): {e}")
        rec["result"] = result
        reset_catalog(spark)
        records.append(rec)
    return records


def traced_call(tr, counters, op, rec):
    rec["op_id"] = tr.op_id = first = len(tr.spans)
    result = None
    with tr.span(op.kind, "bench") as span:
        with tr.span("trace.before", "trace", traced_only=True):
            counters.take()
            before = op.counters()
        try:
            result = op.call(tr)
        except Exception:
            rec["ok"] = False
            traceback.print_exc()
        with tr.span("trace.after", "trace", traced_only=True):
            rec["exec"] = counters.take()
            after = op.counters()
            rec["layer"] = {k: after[k] - before[k] for k in after}
    tr.op_id = None
    rec["latency"] = span["end"] - span["start"]
    # the op's own time: without the counter reads and the other work
    # only a traced op does (none of these spans nest in one another)
    rec["untraced"] = rec["latency"] - sum(
        s["end"] - s["start"] for s in tr.spans[first:] if s.get("traced_only"))
    return result


def end_to_end(records: list[dict], setup_s: float, jvm_pid: int) -> dict:
    lat = [r["latency"] for r in records]
    ok = sum(r["ok"] for r in records)
    return {
        "setup_s": setup_s,
        "ops_per_s": ok / sum(lat),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
        "peak_rss_mb": vm_hwm_mb(jvm_pid) + vm_hwm_mb("self"),
    }


def per_layer(tr, census: list[dict], loop: list[dict], session_s: float, wl) -> dict:
    """Per-layer metrics of a traced run: after its timed phase, which
    runs untraced, the census pass (one canonical pass from fresh
    state) runs traced. Counters are census totals, so they repeat
    exactly for a seed; times are census medians."""
    from workloads import CURATION, Analytics, Backfill, Txn, median

    m = dict.fromkeys(units("per_layer"), 0.0)
    m["session.start_s"] = session_s
    m["trace.overhead_pct"] = overhead_pct(census, loop)
    for layer, secs in tr.self_times().items():
        if f"{layer}.self_s" in m:
            m[f"{layer}.self_s"] = secs / len(census)
    for r in census:
        for k, v in r["exec"].items():
            m[f"exec.{k}"] += v

    kind_of = {r["op_id"]: r["kind"] for r in census}

    def spans(name, kind=None):
        return [s["end"] - s["start"] for s in tr.spans if s["name"] == name
                and kind in (None, kind_of.get(s["op"]))]

    def total(kinds, counter):
        return sum(r["layer"][counter] for r in census if r["kind"] in kinds)

    def latencies(kind):
        return [r["untraced"] for r in census if r["kind"] == kind]

    parts = getattr(wl, "parts", [wl])
    if any(isinstance(p, Backfill) for p in parts):
        runs = ("first_load", "load", "rerun")
        m["sources.rest.page_gets"] = total(runs, "page_gets")
        # GETs per page a run_backfill call needs (one scan's pages)
        m["sources.rest.page_gets_per_needed"] = (
            m["sources.rest.page_gets"] / (len(census) * wl.pages))
        m["sources.rest.retries_429"] = total(runs, "retries_429")
        m["sources.rest.token_requests"] = total(runs, "token_requests")
        m["sources.rest.scan_s"] = median(spans("sources.rest.scan"))
        m["pipeline.load_s"] = median(spans("pipeline.run_backfill", "load"))
        m["pipeline.rerun_s"] = median(spans("pipeline.run_backfill", "rerun"))
        m["operators.sink.probe_s"] = median(spans("operators.sink.probe"))
        m["operators.sink.files_written"] = total(runs, "files")
        m["operators.sink.bytes_written"] = total(runs, "bytes")
    if any(isinstance(p, Analytics) for p in parts):
        for phase, name in (("build", "plans.build"), ("plan", "plans.plan"),
                            ("exec", "exec.noop_write")):
            d = spans(name)
            m[f"plans.{phase}_s"] = median(d)
            m[f"plans.{phase}_sum_s"] = sum(d)
        for query, (layer, metric) in CURATION.items():
            m[f"{layer}.{metric}_s"] = median(latencies(query))
    if any(isinstance(p, Txn) for p in parts):
        commits = ("append", "upsert", "delete")
        n_commits = sum(r["kind"] in commits for r in census)
        m["operators.txn.files_per_commit"] = total(commits, "files") / n_commits
        m["operators.txn.bytes_per_commit"] = total(commits, "bytes") / n_commits
        for kind in ("append", "upsert", "delete", "read"):
            m[f"operators.txn.{kind}_s"] = median(latencies(kind))
        m["sources.txn_cdf.read_s"] = median(latencies("cdf"))
        m["sources.txn_cdf.rows"] = sum(
            sum(r["result"].values()) for r in census if r["kind"] == "cdf")
    return m


def overhead_pct(census: list[dict], loop: list[dict]) -> float:
    """Traced vs untraced ops/s of one op mix in one process: the
    census ops' traced time against the untraced timed phase, taking
    each op kind at its mean latency and the timed phase's count."""
    def means(records):
        by_kind = {}
        for r in records:
            by_kind.setdefault(r["kind"], []).append(r["latency"])
        return {k: statistics.fmean(v) for k, v in by_kind.items()}

    traced, untraced = means(census), means(loop)
    n = {k: sum(r["kind"] == k for r in loop) for k in untraced.keys() & traced.keys()}
    return (sum(traced[k] * c for k, c in n.items())
            / sum(untraced[k] * c for k, c in n.items()) - 1.0) * 100.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The engine is imported from the checkout this file sits in; a
    # tree without it is an error, never a fallback.
    sys.path.insert(0, ROOT)
    try:
        import qb_data_pipeline_backfill_spark  # noqa: F401
    except ImportError as e:
        log(f"engine package not importable from {ROOT}: {e}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    tempfile.tempdir = os.path.join(work, "tmp")  # e.g. the py4j handshake file
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host_cpus()),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # Python workers import the engine too
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    spark = gateway = wl = None
    try:
        from qb_data_pipeline_backfill_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms2g -Xmn256m",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # shuffled rows carry random data-file names (txn deletion
            # vectors); compressed, their size varies from run to run,
            # uncompressed the shuffle byte counters repeat exactly
            "spark.shuffle.compress": "false",
        })
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        wl = WORKLOADS[args.workload](spark, args.seed)

        prep = []
        for k in range(PREPARE_REPEATS):
            t = time.perf_counter()
            wl.prepare(os.path.join(work, f"inputs{k}"))
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        from trace import NullTracer, StageCounters, Tracer

        wl.warm_up(NullTracer())
        warm_s = time.perf_counter() - t
        setup_s = (t0 - T_PROCESS) + session_s + statistics.median(prep) + warm_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, prepare {prep}, warm-up {warm_s:.2f})")

        loop = run_ops(spark, wl.ops(), args.seconds, wl.PASS)
        log(f"timed phase {sum(r['latency'] for r in loop):.2f}s, ended "
            f"{time.perf_counter() - T_PROCESS:.2f}s into the run; op latencies: "
            + " ".join(f"{r['kind']}={r['latency']:.3f}" for r in loop))
        census = []
        if args.trace:
            tr, counters = Tracer(), StageCounters(spark)
            census = run_ops(spark, iter(wl.census()), float("inf"),
                             traced=(tr, counters))
            wl.layer_probes(tr)
        records = loop + census
        failed = sum(not r["ok"] for r in records)
        try:
            wl.final_check()
        except Exception as e:  # noqa: BLE001 -- reported as a failed check
            log(f"final check failed: {e}")
            failed += 1

        if args.trace:
            metrics = per_layer(tr, census, loop, session_s, wl)
            unit = units("per_layer")
            out = {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tr.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"trace-{args.workload}-seed{args.seed}.json"),
                    {"metrics": metrics, "should_move": SHOULD_MOVE,
                     "self_s": tr.self_times()})
            for k, v in metrics.items():
                log(f"{k:40s} {v:14.4f}  moves: {SHOULD_MOVE[k]}")
        else:
            metrics = end_to_end(loop, setup_s, gateway.proc.pid)
            unit = units("end_to_end")
            out = {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}
        result = {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": out,
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
        if gateway is not None:
            # the JVM exits when its stdin closes; wait for it
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    log(f"done {time.perf_counter() - T_PROCESS:.2f}s into the run")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
