"""The benchmark's workloads: seeded inputs, an endless op cycle, checks.

Each workload is one closed-loop client: the benchmark issues an op,
waits for it, checks its output outside the timed region, then issues
the next. An op is a call into the engine's public functions; spans
name the layer each call enters (``tr`` is the run's tracer, or one
that records nothing when tracing is off).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import statistics
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from bench import R01_SUBSET  # the repo bench's round-1 query set
from pyspark.sql import functions as F

import gen


class CheckFailed(AssertionError):
    pass


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


@dataclass
class Op:
    kind: str
    call: Callable[[Any], Any]  # tracer -> result
    check: Callable[[Any], None] = lambda result: None
    # engine-independent counters read around a traced op (stub GETs,
    # files and bytes a commit wrote); diffed by the runner
    counters: Callable[[], dict] = field(default=lambda: {})


def dir_usage(path: str) -> dict:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}


def reset_catalog(spark) -> None:
    """Per-op hygiene, as the repo's bench.py does between queries."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()


def side_by_side(fn, items) -> list:
    """``fn`` over ``items`` from one thread per core; results in order."""
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        return list(pool.map(fn, items))


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """prepare() may run several times (set-up is timed as the median
    of its repetitions); only the last prepared state is used."""

    # ops in one pass of the op cycle; the timed phase runs whole
    # passes, so every run times the same op mix
    PASS = 1

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def prepare(self, work_dir: str) -> None: ...

    def warm_up(self, tr) -> None: ...

    def pass_ops(self) -> list[Op]:
        """One pass of the op cycle, from fresh state."""
        return []

    def ops(self) -> Iterator[Op]:
        while True:
            yield from self.pass_ops()

    def census(self) -> list[Op]:
        """One canonical pass from fresh state, for the traced run's
        deterministic counters."""
        return self.pass_ops()

    def layer_probes(self, tr) -> None:
        """Extra traced calls into single layers (traced run only)."""

    def final_check(self) -> None:
        """Checks over the run's accumulated output; raises CheckFailed."""

    def close(self) -> None: ...


# --------------------------------------------------------------- backfill
class Backfill(Workload):
    """REST extract → validate/dedup → idempotent partitioned load, one
    date window per op, each loaded window re-run once (inserts 0)."""

    PASS = 4  # two windows, each loaded then re-run
    N_ENTITIES = 1500  # the customer entity set at sf0.01
    N_DAYS = 30        # one backfill window per day
    PAGE_SIZE = 100
    BASE = dt.date(2024, 1, 1)

    def prepare(self, work_dir):
        from qb_data_pipeline_backfill_spark.sources import stub_qbo

        self.close()
        self.dir = work_dir
        os.makedirs(work_dir)
        path = os.path.join(work_dir, "customer.parquet")
        ids = gen.customer_entities(path, self.seed, self.N_ENTITIES)
        self.n_records = int(self.N_ENTITIES * 1.05)
        self.pages = -(-self.n_records // self.PAGE_SIZE)
        self.distinct = [int((ids % self.N_DAYS == w).sum()) for w in range(self.N_DAYS)]
        self.srv = stub_qbo.StubQboServer(path)
        self.n_targets = 0

    def _day(self, w: int) -> str:
        return (self.BASE + dt.timedelta(days=w)).isoformat()

    def _source(self, tr):
        from qb_data_pipeline_backfill_spark.sources import read_qbo
        from qb_data_pipeline_backfill_spark.sources import stub_qbo

        with tr.span("sources.rest.read_qbo", "sources.rest"):
            return read_qbo(
                self.spark,
                base_url=self.srv.base_url,
                client_id=stub_qbo.STUB_CLIENT_ID,
                client_secret=stub_qbo.STUB_CLIENT_SECRET,
                refresh_token=stub_qbo.STUB_REFRESH_TOKEN,
                entity="Customer",
                page_size=str(self.PAGE_SIZE),
                page_pause_s="0.0",
                pages_per_partition="8",
            )

    def _run(self, tr, target: str, w: int) -> dict:
        from qb_data_pipeline_backfill_spark.pipeline import run_backfill

        src = self._source(tr)
        # the stub's payload has no date field: derive one from the id
        day = F.date_add(
            F.lit(self.BASE.isoformat()).cast("date"),
            (F.col("id").cast("bigint") % self.N_DAYS).cast("int"),
        )
        with tr.span("pipeline.run_backfill", "pipeline"):
            return run_backfill(
                self.spark, src, target,
                id_col="id",
                date_col=F.date_format(day, "yyyy-MM-dd"),
                window_start=self._day(w),
                window_end=self._day(w),
                entity_type="customer",
                payload_cols=["payload"],
                order_cols=["payload"],
                ingested_at=F.to_timestamp(F.lit("2025-01-01 00:00:00")),
                page_number_col=F.col("page_number"),
            )

    def _check(self, w: int, rerun: bool):
        def check(m):
            expect("extracted", m["extracted"], self.n_records)
            expect(f"inserted (window {w})", m["inserted"], 0 if rerun else self.distinct[w])

        return check

    def _target_ops(self, windows, track: bool = True) -> Iterator[Op]:
        """Loads and reruns of ``windows`` into a fresh target; a tracked
        target is the one the final check and the probes look at."""
        self.n_targets += 1
        target = os.path.join(self.dir, f"target{self.n_targets}")
        loaded = []
        if track:
            self.target, self.loaded = target, loaded
        counters = lambda: {  # noqa: E731
            "page_gets": self.srv.n_page_requests,
            "token_requests": self.srv.n_token_requests,
            "retries_429": self.srv.n_429_sent,
            **dir_usage(target),
        }
        def load(tr, w):
            m = self._run(tr, target, w)
            loaded.append(w)
            return m

        for w in windows:
            # a target's first load skips the existing-key probe
            yield Op("first_load" if w == windows[0] else "load",
                     lambda tr, w=w: load(tr, w), self._check(w, False), counters)
            yield Op("rerun", lambda tr, w=w: self._run(tr, target, w),
                     self._check(w, True), counters)

    def warm_up(self, tr):
        """The first window of the timed target, so every timed load
        probes; then a window into a throwaway target per core, side by
        side. On a 4-core host the first window alone left the first
        timed pass about 25% slower than the second."""
        def run(ops):
            for op in ops:
                op.check(op.call(tr))

        self._ops = self._targets()
        run([next(self._ops), next(self._ops)])
        side_by_side(run, [list(self._target_ops(range(1), track=False))
                           for _ in range(len(os.sched_getaffinity(0)))])

    def _targets(self):
        while True:
            yield from self._target_ops(range(self.N_DAYS))

    def ops(self):
        return self._ops

    def census(self):
        return list(self._target_ops(range(self.PASS // 2)))

    def layer_probes(self, tr):
        from qb_data_pipeline_backfill_spark.operators.sink import existing_keys_probe

        for _ in range(3):
            src = self._source(tr)
            with tr.span("sources.rest.scan", "sources.rest"):
                noop_write(src)
        for w in self.loaded:
            with tr.span("operators.sink.probe", "operators.sink"):
                probe = existing_keys_probe(
                    self.spark, self.target, "id", "window_date", [self._day(w)])
                expect(f"probe rows (window {w})", probe.count(), self.distinct[w])

    def final_check(self):
        if not self.loaded:
            return
        t = self.spark.read.parquet(self.target)
        row = t.agg(F.count(F.lit(1)), F.countDistinct("id")).first()
        want = sum(self.distinct[w] for w in self.loaded)
        expect("target rows", row[0], want)
        expect("target distinct ids", row[1], want)

    def close(self):
        if getattr(self, "srv", None) is not None:
            self.srv.close()
            self.srv = None


# -------------------------------------------------------------- analytics
# Curation queries (registry, plans/llm.py) -> the operator layer each
# one runs, and the name of its per-layer metric.
CURATION = {
    "dedup_ngram_jaccard": ("operators.dedup", "ngram_jaccard"),
    "text_trigram_perplexity": ("operators.text", "trigram_perplexity"),
    "text_quality_scores": ("operators.text", "quality_scores"),
}


class Analytics(Workload):
    """The round-1 registry subset (verification SQL, windows, pivots)
    and curation queries (near-duplicate pairs, text scoring), each
    query run to the noop sink."""

    SF = 0.002
    QUERIES = (*R01_SUBSET, *CURATION)
    PASS = len(QUERIES)

    def prepare(self, work_dir):
        self.dir = work_dir
        gen.star_schema(work_dir, self.seed, self.SF)

    def warm_up(self, tr):
        """Every query collected and compared with its DuckDB oracle
        (row count + order-insensitive hash), then run as its timed op,
        from one thread per core. Timed ops of a query that failed here
        count as failed. The cost is first-run plan code generation and
        JIT compilation in the session's JVM, which the threads share
        out."""
        from qb_data_pipeline_backfill_spark import oracle, plans

        self.queries = {n: plans.REGISTRY[n] for n in self.QUERIES}
        con = oracle.duckdb_connection(self.dir)

        def warm(name):
            q, cur = self.queries[name], con.cursor()
            try:
                verdict = oracle.compare(q.spark(self.spark, self.dir), cur, q.oracle)
            finally:
                cur.close()
            self._op(name).call(tr)
            return name, verdict

        try:
            results = side_by_side(warm, self.QUERIES)
        finally:
            con.close()
        reset_catalog(self.spark)
        self.bad = {name: detail for name, (ok, detail) in results if not ok}

    def _op(self, name: str) -> Op:
        q = self.queries[name]
        layer = CURATION[name][0] if name in CURATION else None

        def call(tr):
            # a curation query's plan is built by its operator layer
            with tr.span(f"{layer}.{name}", layer) if layer else contextlib.nullcontext():
                with tr.span("plans.build", "plans", query=name):
                    df = q.spark(self.spark, self.dir)
                if tr.enabled:
                    # the noop write plans the query again: this span is
                    # tracing cost, left out of the op's untraced time
                    with tr.span("plans.plan", "plans", query=name, traced_only=True):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("exec.noop_write", "exec", query=name):
                    noop_write(df)

        def check(_):
            if name in self.bad:
                raise CheckFailed(f"{name} failed its check: {self.bad[name]}")

        return Op(name, call, check)

    def pass_ops(self):
        return [self._op(n) for n in self.QUERIES]


# -------------------------------------------------------------------- txn
class Txn(Workload):
    """Commit path of the manifest-committed table: per pass, a fresh
    table gets a change-feed append, keyed upserts and a merge-on-read
    delete, then a change-feed read and a snapshot aggregate."""

    N_BASE, N_UPSERTS, UPSERT_ROWS, DELETE_ROWS = 7500, 3, 750, 375
    PASS = N_UPSERTS + 4  # append, upserts, delete, change-feed read, snapshot read

    def prepare(self, work_dir):
        self.dir = work_dir
        inputs = os.path.join(work_dir, "inputs")
        self.inputs = inputs
        self.want = gen.txn_batches(inputs, self.seed, self.N_BASE, self.N_UPSERTS,
                                    self.UPSERT_ROWS, self.DELETE_ROWS)
        self.n_tables = 0

    def pass_ops(self) -> list[Op]:
        from qb_data_pipeline_backfill_spark.operators import txn
        from qb_data_pipeline_backfill_spark.sources.txn_cdf import read_cdf_log

        self.n_tables += 1
        path = os.path.join(self.dir, f"table{self.n_tables}")
        spark, key = self.spark, "o_orderkey"
        if self.n_tables == 1:
            read = lambda n: spark.read.parquet(os.path.join(self.inputs, f"{n}.parquet"))  # noqa: E731
            self.base = read("base")
            self.upserts = [read(f"upsert{i}") for i in range(self.N_UPSERTS)]
            self.deletes = read("delete")
        counters = lambda: dir_usage(path)  # noqa: E731

        def version(v):
            return lambda got: expect("committed version", got, v)

        def append(tr):
            with tr.span("operators.txn.commit_append_with_stats", "operators.txn"):
                return txn.commit_append_with_stats(spark, self.base, path, key=key,
                                                    change_feed=True)

        def upsert(i):
            def call(tr):
                with tr.span("operators.txn.commit_upsert", "operators.txn"):
                    return txn.commit_upsert(spark, self.upserts[i], path, key=key)
            return call

        def delete(tr):
            with tr.span("operators.txn.commit_delete_mor", "operators.txn"):
                return txn.commit_delete_mor(spark, self.deletes, path, key=key)

        def cdf(tr):
            with tr.span("sources.txn_cdf.read_cdf_log", "sources.txn_cdf"):
                df = read_cdf_log(spark, path)
            with tr.span("exec.collect", "exec"):
                return {r[0]: r[1] for r in df.groupBy("_change_type").count().collect()}

        def read(tr):
            with tr.span("operators.txn.read_table", "operators.txn"):
                df = txn.read_table(spark, path)
            with tr.span("exec.collect", "exec"):
                r = df.agg(F.count(F.lit(1)), F.sum("o_custkey")).first()
            return (r[0], r[1])

        return [
            Op("append", append, version(0), counters),
            *[Op("upsert", upsert(i), version(i + 1), counters)
              for i in range(self.N_UPSERTS)],
            Op("delete", delete, version(self.N_UPSERTS + 1), counters),
            Op("cdf", cdf, lambda got: expect("change feed rows", got, self.want["cdf"])),
            Op("read", read, lambda got: expect(
                "snapshot (rows, sum o_custkey)", got,
                (self.want["rows"], self.want["sum_custkey"]))),
        ]

    def warm_up(self, tr):
        # two passes: they run beside the analytics warm-up, which
        # outlasts them
        for _ in range(2):
            for op in self.pass_ops():
                op.check(op.call(tr))


class AnalyticsTxn(Workload):
    """A pass of the analytics queries, then a pass of the txn commit
    path: the two read/write sides of the table layer in one client."""

    def __init__(self, spark, seed: int):
        super().__init__(spark, seed)
        self.parts = [Analytics(spark, seed), Txn(spark, seed)]
        self.PASS = sum(p.PASS for p in self.parts)

    def prepare(self, work_dir):
        for p in self.parts:
            p.prepare(os.path.join(work_dir, type(p).__name__.lower()))

    def warm_up(self, tr):
        # the parts share no tables: their warm-ups overlap
        with ThreadPoolExecutor(len(self.parts)) as pool:
            for done in [pool.submit(p.warm_up, tr) for p in self.parts]:
                done.result()

    def pass_ops(self):
        return [op for p in self.parts for op in p.pass_ops()]


WORKLOADS = {"backfill": Backfill, "analytics_txn": AnalyticsTxn}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
