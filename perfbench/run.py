"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate|etl|stream --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. One process starts its own
Spark session on ``local[<nproc>]``, runs the workload once, checks every
output, and prints one JSON object as the last line of stdout. With
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer ones. Everything the run writes stays under the checkout: a
scratch directory that is removed at exit, and a result file per run in
``.perfbench_out/`` (host, metrics, and the spans of a traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
NPROC = len(os.sched_getaffinity(0))


def _env(tmp: str) -> None:
    """Pin the core count and keep every temp path the run controls
    inside the checkout. Must run before pyspark or the package load."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
        return self.peak_kb / 1024.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_values(tracer, res, session_s: float) -> dict[str, float]:
    """Per-layer values of a traced run; a layer the workload does not
    touch reads 0."""
    c, lay = tracer.counters, res.layers

    def per_call_ms(key):
        return statistics.median(c.get(key + ".ms_list") or [0.0])

    values = {
        "session.start_s": session_s,
        "ledger.is_applied_ms": per_call_ms("ledger.is_applied"),
        "ledger.get_checksum_ms": per_call_ms("ledger.get_checksum"),
        "ledger.record_applied_ms": per_call_ms("ledger.record_applied"),
        "ledger.record_rolled_back_ms": per_call_ms("ledger.record_rolled_back"),
        "runner.run_ms": per_call_ms("runner.run"),
        "executor.jobs_per_skip": c["executor.skip_jobs"] / max(c["executor.skips"], 1),
        "executor.jobs_per_apply": c["executor.apply_jobs"] / max(c["executor.applies"], 1),
        "executor.lock_ms": c["executor.lock_s"] * 1000,
        "stream.rows_per_s": lay.get("stream.input_rows", 0) / res.wall_s,
        "trace.wall_s": res.wall_s,
        "trace.overhead_s": tracer.overhead_s,
    }
    # time inside operation and workload spans that no layer span covers
    self_s = tracer.layer_self_s()
    values["trace.unattributed_s"] = self_s.get("operation", 0.0) + self_s.get("workload", 0.0)
    for m in BENCH["per_layer"]:
        if m["name"] not in values:
            values[m["name"]] = lay.get(m["name"], c[m["name"]])
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["migrate", "etl", "stream"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    _env(tmp)
    sys.path.insert(0, ROOT)
    # the package comes from this checkout's sources; without them the
    # import fails and the run exits non-zero before printing a result
    try:
        import pyspark

        from database_migration_engine_spark.session import build_session
        from perfbench import workloads as W
        from perfbench.stats import geomean, percentile
        from perfbench.trace import JobClock, Py4jCounter, Tracer
    except ImportError:
        shutil.rmtree(tmp, ignore_errors=True)
        raise

    rss = RssSampler()
    rss.start()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        # set-up: imports and a cold session (a JVM is launched once per
        # process). Nothing is warmed: every CLI invocation starts cold.
        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                    " -XX:-UsePerfData",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        session_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START
        ctx = W.Context(spark, tracer, args.seed, tmp)

        py4j = None
        if tracer.enabled:
            py4j = ctx.py4j = Py4jCounter()
            ctx.jobs = JobClock(spark, py4j)
            py4j.install()
        try:
            res = W.WORKLOADS[args.workload](ctx)
        finally:
            if py4j:
                py4j.restore()
        host = {
            "nproc": NPROC,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "sf": os.path.basename(W.SF_DIR),
            "seed": args.seed,
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
        }
    finally:
        if spark is not None:
            _stop(spark)
        peak_mb = rss.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    if tracer.enabled:
        values = _layer_values(tracer, res, session_s)
        names = [m["name"] for m in BENCH["per_layer"]]
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": res.wall_s,
            "op_p50_ms": percentile(res.op_ms, 50),
            "op_p90_ms": percentile(res.op_ms, 90),
            "op_geomean_ms": geomean(res.op_ms),
            "peak_rss_mb": peak_mb,
        }
        names = [m["name"] for m in BENCH["end_to_end"]]
    metrics = {n: {"value": values[n], "unit": UNITS[n]} for n in names}

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    extra = {"host": host, "metrics": metrics, "op_ms": res.op_ms,
             "problems": res.problems}
    if tracer.enabled:
        tracer.write(stem + ".json", extra)
    else:
        with open(stem + ".json", "w") as fh:
            json.dump(extra, fh, indent=1)
    for problem in res.problems:
        print("FAILED CHECK:", problem, file=sys.stderr)
    print(json.dumps({
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
