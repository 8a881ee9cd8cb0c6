"""The three workloads. Each takes a ``Context`` and returns a ``Result``.

Untraced runs time only the operations themselves. Traced runs add
spans and counters around the calls into each layer (see trace.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from database_migration_engine_spark.analyzer.analyze import (
    analyze, extract_statements, severity_rollup,
)
from database_migration_engine_spark.executor import orchestrator as orch
from database_migration_engine_spark.operators import graph, kmeans, ranks
from database_migration_engine_spark.plans import QUERIES
from database_migration_engine_spark.session import persist_bounded
from database_migration_engine_spark.sources.migrations import load_from_dir

from . import histgen
from .stats import percentile
from .trace import (
    JobClock, Py4jCounter, StreamStats, Tracer, stage_totals, unwrap, wrap_functions,
)

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

# migrate: history size, deploy batch and rollback depth
MIGRATE_N, MIGRATE_K, MIGRATE_R = 6, 3, 3

# etl: build-bound queries (driver actions while building: connected
# components, rank selection, k-means rounds), then a collect-bound one
# (TPC-H Q1 style aggregate)
ETL_QUERIES = [
    "dedup_clusters", "mad_outliers", "kmeans_embeddings", "revenue_agg",
]

# stream: the index-maintaining dedup drain beside a run_to_memory drain
STREAM_QUERIES = ["dedup_incremental_stream", "events_tumbling_stream"]


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    tmp: str
    jobs: JobClock | None = None  # traced runs only
    py4j: Py4jCounter | None = None  # traced runs only


@dataclass
class Result:
    wall_s: float  # the timed region
    op_ms: list[float]  # per-operation latencies
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)  # workload-level layer values
    problems: list[str] = field(default_factory=list)  # failed output checks


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result's values, compared as strings
    (the same canonical form the repo's oracle checks use)."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    raw = pd.util.hash_pandas_object(pdf.astype(str), index=False).values.tobytes()
    return hashlib.sha256(raw).hexdigest()[:16]


def _timed(ctx: Context, key: str, fn, layer: str, on_done=None):
    """Wrap a bound method so traced runs record a span, its wall time and
    the Spark jobs it started under ``key``."""
    tr = ctx.tracer

    def wrapper(*args, **kwargs):
        with tr.probe():
            j0 = ctx.jobs.now()
        with tr.span(key, layer):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
        with tr.probe():
            jobs = ctx.jobs.now() - j0
            tr.add(key + ".s", dt)
            tr.add(key + ".jobs", jobs)
            tr.counters.setdefault(key + ".ms_list", []).append(dt * 1000)
            if on_done:
                on_done(out, jobs)
        return out

    return wrapper


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --- migrate ----------------------------------------------------------------


def migrate(ctx: Context) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(ctx.tmp, "migrate")
    mig_dir = os.path.join(root, "migrations")
    history = histgen.generate(mig_dir, ctx.seed, MIGRATE_N)
    ledger = orch.ParquetLedger(spark, os.path.join(root, "schema_migrations"))
    runner = orch.CollectingRunner()
    stamps: list[tuple[float, orch.ProgressEvent]] = []
    ex = orch.Executor(
        ledger, runner, progress=lambda e: stamps.append((time.perf_counter(), e))
    )
    problems: list[str] = []
    phases: dict[str, float] = {}
    restore = _trace_executor(ctx, ledger, runner) if tr.enabled else (lambda: None)

    @contextmanager
    def phase(name):
        with tr.span(name, "operation"):
            t0 = time.perf_counter()
            yield
            phases[name] = time.perf_counter() - t0

    def load():
        with tr.span("load_from_dir", "sources"):
            t0 = time.perf_counter()
            df = load_from_dir(spark, mig_dir)
            tr.add("sources.load_s", time.perf_counter() - t0)
            tr.add("sources.files", sum(f.endswith(".sql") for f in os.listdir(mig_dir)))
        return df

    try:
        with tr.span("migrate", "workload"):
            # 1. lint
            with phase("lint"):
                migs = load()
                if tr.enabled:
                    with tr.span("extract_statements", "analyzer"):
                        t0 = time.perf_counter()
                        stmts = persist_bounded("analyzer.stmts", extract_statements(migs))
                        tr.add("analyzer.statements", stmts.count())
                        tr.add("analyzer.parse_s", time.perf_counter() - t0)
                with tr.span("analyze", "analyzer"):
                    t0 = time.perf_counter()
                    findings = analyze(migs)
                    found = findings.select("version", "rule").collect()
                    rollup = severity_rollup(migs, findings).collect()
                    tr.add("analyzer.rules_s", time.perf_counter() - t0)
                    tr.add("analyzer.findings", len(found))
            if sorted((r.version, r.rule) for r in found) != histgen.expected_findings(history):
                problems.append("lint: findings differ from the manifest")
            if len(rollup) != MIGRATE_N:
                problems.append(f"lint: rollup has {len(rollup)} rows")

            # 2. apply the whole history
            mark = len(stamps)
            with phase("apply"):
                ex.apply(migs, force=True)
            applies = _apply_latencies(stamps[mark:])
            problems += _check_applied(ledger, runner, history, MIGRATE_N)

            # 3. deploy K new migrations on top
            history += histgen.generate(mig_dir, ctx.seed, MIGRATE_K, start=MIGRATE_N + 1)
            mark, calls0 = len(stamps), len(runner.calls)
            with phase("deploy"):
                migs = load()
                ex.apply(migs, force=True)
            events = [e for _, e in stamps[mark:]]
            applies += _apply_latencies(stamps[mark:])
            done = [e.version for e in events if e.status == orch.COMPLETED]
            skipped = [e.version for e in events if e.status == orch.SKIPPED]
            if done != [m["version"] for m in history[MIGRATE_N:]] or len(skipped) != MIGRATE_N:
                problems.append("deploy: did not apply exactly the new migrations")
            if len(runner.calls) - calls0 != MIGRATE_K:
                problems.append("deploy: runner calls differ from the new migrations")

            # 4. status
            with phase("status"):
                with tr.span("applied", "ledger"):
                    t0 = time.perf_counter()
                    applied = ledger.applied().collect()
                    tr.add("ledger.applied_s", time.perf_counter() - t0)
                pending = migs.join(ledger.applied(), "version", "left_anti").collect()
            if len(applied) != len(history) or pending:
                problems.append("status: ledger and files disagree")

            # 5. rollback
            mark, calls0 = len(stamps), len(runner.calls)
            with phase("rollback"):
                ex.rollback(migs, steps=MIGRATE_R)
            rollbacks = _rollback_latencies(stamps[mark:])
            problems += _check_rollback(ledger, runner, history, calls0)
    finally:
        restore()

    layers = {
        "migrate.analyze_s": phases["lint"],
        "migrate.apply_p50_ms": percentile(applies, 50),
        "migrate.apply_p90_ms": percentile(applies, 90),
        "migrate.deploy_s": phases["deploy"],
        "migrate.status_s": phases["status"],
        "migrate.rollback_p50_ms": percentile(rollbacks, 50),
    }
    attempted = 1 + len(history) + MIGRATE_N + 1 + MIGRATE_R
    return Result(sum(phases.values()), applies, attempted,
                  min(len(problems), attempted), layers, problems)


def _apply_latencies(stamps) -> list[float]:
    """Per applied migration: from the end of the previous migration (the
    first: from its start event) to its completion, in ms."""
    out, prev = [], None
    for t, e in stamps:
        if e.status == orch.STARTING and prev is None:
            prev = t
        elif e.status in (orch.COMPLETED, orch.SKIPPED):
            if e.status == orch.COMPLETED and prev is not None:
                out.append((t - prev) * 1000)
            prev = t
    return out


def _rollback_latencies(stamps) -> list[float]:
    out, start = [], None
    for t, e in stamps:
        if e.status == orch.ROLLING_BACK:
            start = t
        elif e.status == orch.COMPLETED and start is not None:
            out.append((t - start) * 1000)
            start = None
    return out


def _check_applied(ledger, runner, history, n) -> list[str]:
    problems = []
    rows = {r.version: r for r in ledger.df().collect()}
    if len(rows) != n or any(r.status != "applied" for r in rows.values()):
        problems.append(f"apply: ledger holds {len(rows)} rows, want {n} applied")
    if any(rows.get(m["version"]) is None or rows[m["version"]].checksum != m["checksum"]
           for m in history[:n]):
        problems.append("apply: ledger checksums differ from sha256(up_sql)")
    want = [(m["up_sql"], not m["concurrent"]) for m in history[:n]]
    if runner.calls != want:
        problems.append("apply: runner calls out of order or misrouted")
    return problems


def _check_rollback(ledger, runner, history, calls0) -> list[str]:
    problems = []
    undone = history[-MIGRATE_R:][::-1]
    if runner.calls[calls0:] != [(m["down_sql"], True) for m in undone]:
        problems.append("rollback: runner calls differ from the down files")
    status = {r.version: r.status for r in ledger.df().collect()}
    want = {m["version"]: "applied" for m in history}
    want.update({m["version"]: "rolled_back" for m in undone})
    if status != want:
        problems.append("rollback: ledger statuses differ")
    return problems


def _trace_executor(ctx: Context, ledger, runner):
    """Instance-level wrappers on the ledger and runner, and a class-level
    one on the executor's lock; returns the function that removes them."""
    tr = ctx.tracer

    def probed(out, jobs):
        # a hit is a skip check, a miss the first step of an apply
        tr.add("executor.skip_jobs" if out else "executor.apply_jobs", jobs)

    def checksum_read(out, jobs):
        tr.add("executor.skip_jobs", jobs)
        tr.add("executor.skips")

    def recorded(out, jobs):
        tr.add("executor.apply_jobs", jobs)
        tr.add("executor.applies")
        tr.add("ledger.bytes_rewritten", _dir_bytes(ledger.path))

    def rolled_back(out, jobs):
        tr.add("ledger.bytes_rewritten", _dir_bytes(ledger.path))

    wrapped = [("is_applied", probed), ("get_checksum", checksum_read),
               ("record_applied", recorded), ("record_rolled_back", rolled_back)]
    for name, done in wrapped:
        setattr(ledger, name, _timed(ctx, "ledger." + name, getattr(ledger, name),
                                     "ledger", done))
    runner.run = _timed(ctx, "runner.run", runner.run, "runner")

    lock_cls = orch.AdvisoryFileLock
    orig_enter = lock_cls.__enter__

    def enter(self):
        with tr.span("lock", "executor"):
            t0 = time.perf_counter()
            out = orig_enter(self)
            tr.add("executor.lock_s", time.perf_counter() - t0)
        return out

    lock_cls.__enter__ = enter

    def restore():
        lock_cls.__enter__ = orig_enter
        del runner.run
        for name, _ in wrapped:
            delattr(ledger, name)

    return restore


# --- etl and stream ---------------------------------------------------------

OPERATORS = {
    "cc": (graph, "connected_components"),
    "cc_star": (graph, "connected_components_star"),
    "label_propagation": (graph, "label_propagation"),
    "kmeans": (kmeans, "kmeans_fixed_point"),
    "ranks": (ranks, "select_at_ranks"),
}
_CC_FAMILY = {"cc", "cc_star", "label_propagation"}


def _trace_operators(ctx: Context) -> list:
    tr = ctx.tracer
    depth = {"cc": 0}

    def on_call(key, fn, args, kwargs):
        family = "cc" if key in _CC_FAMILY else key
        outer = depth.get(family, 0) == 0
        depth[family] = depth.get(family, 0) + 1
        try:
            with tr.span(key, "operators"):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                dt = time.perf_counter() - t0
        finally:
            depth[family] -= 1
        if outer:
            tr.add(f"operators.{family}_s", dt)
            tr.add(f"operators.{family}_calls")
        return out

    return wrap_functions("database_migration_engine_spark", OPERATORS, on_call)


def _registry(ctx: Context, workload: str, names: list[str],
              listener: StreamStats | None) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    undo = _trace_operators(ctx) if tr.enabled else []
    op_ms, problems, job_ranges, failed = [], [], [], set()
    wall = 0.0
    try:
        with tr.span(workload, "workload"):
            for name in names:
                with tr.span(name, "operation"):
                    if tr.enabled:
                        with tr.probe():
                            j0 = ctx.jobs.now()
                            p0 = ctx.py4j.calls
                    t0 = time.perf_counter()
                    try:
                        with tr.span("build", "plans"):
                            df = QUERIES[name](spark, SF_DIR)
                        t1 = time.perf_counter()
                        if tr.enabled:
                            with tr.probe():
                                j1 = ctx.jobs.now()
                        with tr.span("collect", "plans"):
                            pdf = df.toPandas()
                    except Exception as exc:  # a failed query counts, the run goes on
                        problems.append(f"{name}: {type(exc).__name__}: {exc}")
                        failed.add(name)
                        continue
                    t2 = time.perf_counter()
                    wall += t2 - t0
                    op_ms.append((t2 - t0) * 1000)
                    if tr.enabled:
                        with tr.probe():
                            j2 = ctx.jobs.now()
                            tr.add("plans.py4j_calls", ctx.py4j.calls - p0)
                            tr.add("plans.build_s", t1 - t0)
                            tr.add("plans.collect_s", t2 - t1)
                            tr.add("plans.build_jobs", j1 - j0)
                            tr.add("plans.collect_jobs", j2 - j1)
                            job_ranges.append((j0, j2))
                            if listener and not listener.wait_terminated():
                                problems.append(f"{name}: stream termination not seen")
                                failed.add(name)
                wrong = _check_result(name, pdf, expected[name])
                if wrong:
                    problems.append(wrong)
                    failed.add(name)
    finally:
        unwrap(undo)
    layers = {}
    if tr.enabled:
        with tr.probe():
            stages, tasks, shuffle = stage_totals(spark, job_ranges)
        tr.add("spark.stages", stages)
        tr.add("spark.tasks", tasks)
        tr.add("spark.shuffle_bytes", shuffle)
    if listener:
        layers.update(listener.totals())
    return Result(wall, op_ms, len(names), len(failed), layers, problems)


def _check_result(name: str, pdf, want: dict) -> str | None:
    if sorted(pdf.columns) != want["columns"] or len(pdf) != want["rows"]:
        return f"{name}: {len(pdf)} rows {sorted(pdf.columns)}, want {want['rows']}"
    if value_hash(pdf) != want["hash"]:
        return f"{name}: value hash differs from the oracle's"
    return None


def etl(ctx: Context) -> Result:
    return _registry(ctx, "etl", ETL_QUERIES, None)


def stream(ctx: Context) -> Result:
    listener = None
    if ctx.tracer.enabled:
        listener = StreamStats()
        ctx.spark.streams.addListener(listener)
    try:
        res = _registry(ctx, "stream", STREAM_QUERIES, listener)
    finally:
        if listener:
            ctx.spark.streams.removeListener(listener)
    if listener:
        # drain wall time not spent inside a micro-batch trigger
        res.layers["stream.outside_batch_s"] = (
            res.wall_s - res.layers.pop("stream.trigger_ms") / 1000
        )
    return res


WORKLOADS = {"migrate": migrate, "etl": etl, "stream": stream}
