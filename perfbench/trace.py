"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans nest workload -> operation -> layer call. They are kept in memory
and written out once at the end; each span's self time is its duration
minus the time its children cover. Counters sit at the same boundaries.

The probes here never change what the program computes:

* ``JobClock`` reads the DAG scheduler's job-id counter, so jobs started
  on a streaming thread are counted too (a job-group probe misses them);
* ``Py4jCounter`` counts py4j ``send_command`` round trips;
* ``wrap_functions`` swaps module attributes for timing wrappers and
  puts the originals back;
* ``StreamStats`` is a ``StreamingQueryListener`` aggregating micro-batch
  progress, read only after every started query has terminated.

Time spent inside the probes themselves is added up as ``overhead_s``.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from py4j.clientserver import JavaClient
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
            "name": name, "layer": layer, "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float = 1.0) -> None:
        self.counters[key] += value

    @contextmanager
    def probe(self):
        """Bracket the tracer's own work so it counts as overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def layer_self_s(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s, own in zip(self.spans, self.self_times()):
            out[s["layer"]] += own
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        spans = [
            dict(s, self_s=own, dur_s=s["end"] - s["start"])
            for s, own in zip(self.spans, self.self_times())
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "counters": dict(self.counters), **extra},
                      fh, indent=1)


class JobClock:
    """Spark jobs submitted so far, from the DAG scheduler's id counter.
    Its own py4j round trip is kept out of ``py4j``'s count."""

    def __init__(self, spark, py4j: "Py4jCounter"):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._py4j = py4j

    def now(self) -> int:
        self._py4j.paused = True
        try:
            return int(self._dag.numTotalJobs())
        finally:
            self._py4j.paused = False


class Py4jCounter:
    """Counts py4j commands sent from Python to the JVM while installed."""

    def __init__(self):
        self.calls = 0
        self.paused = False
        self._orig = None

    def install(self) -> None:
        orig = self._orig = JavaClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if not counter.paused:
                counter.calls += 1
            return orig(client, command, *args, **kwargs)

        JavaClient.send_command = send_command

    def restore(self) -> None:
        if self._orig is not None:
            JavaClient.send_command = self._orig
            self._orig = None


def wrap_functions(package: str, targets: dict[str, tuple], on_call) -> list:
    """Replace each ``targets[key] = (module, attr)`` function, wherever a
    module under ``package`` holds it, with a wrapper calling
    ``on_call(key, fn, args, kwargs)``. Returns the undo list for
    ``unwrap``."""
    undo = []
    for key, (module, attr) in targets.items():
        orig = getattr(module, attr)

        def wrapper(*args, __key=key, __orig=orig, **kwargs):
            return on_call(__key, __orig, args, kwargs)

        for mod in [m for n, m in list(sys.modules.items())
                    if m is not None and (n == package or n.startswith(package + "."))]:
            for name, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, name, wrapper)
                    undo.append((mod, name, orig))
    return undo


def unwrap(undo: list) -> None:
    for mod, name, orig in reversed(undo):
        setattr(mod, name, orig)


class StreamStats(StreamingQueryListener):
    """Aggregates streaming progress events per query."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "id": str(p.id),
            "duration_ms": dict(p.durationMs or {}),
            "input_rows": int(p.numInputRows or 0),
            "state_commit_ms": sum(int(s.commitTimeMs or 0) for s in p.stateOperators),
            "state_rows": sum(int(s.numRowsTotal or 0) for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.id))

    def wait_terminated(self, timeout_s: float = 30.0) -> bool:
        """Block until every started query's termination event arrived."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.started <= self.terminated:
                    return True
            time.sleep(0.02)
        return False

    def totals(self) -> dict[str, float]:
        with self._lock:
            progress = list(self.progress)

        def d(key):
            return sum(p["duration_ms"].get(key, 0) for p in progress)

        return {
            "stream.batches": len(progress),
            "stream.planning_ms": d("queryPlanning"),
            "stream.add_batch_ms": d("addBatch"),
            "stream.wal_commit_ms": d("walCommit"),
            "stream.commit_offsets_ms": d("commitOffsets"),
            "stream.latest_offset_ms": d("latestOffset"),
            "stream.trigger_ms": d("triggerExecution"),
            "stream.state_commit_ms": sum(p["state_commit_ms"] for p in progress),
            "stream.state_rows": sum(p["state_rows"] for p in progress),
            "stream.input_rows": sum(p["input_rows"] for p in progress),
        }


def stage_totals(spark, job_ranges: list[tuple[int, int]]) -> tuple[int, int, int]:
    """Stages run, tasks run and shuffle bytes written by the jobs whose
    ids fall in any of ``job_ranges`` (half-open), from the UI's REST API
    on this host."""
    sc = spark.sparkContext
    base = "http://localhost:" + sc.uiWebUrl.rsplit(":", 1)[1]
    app = f"{base}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(app + path, timeout=30) as fh:
            return json.loads(fh.read().decode())

    wanted = set()
    for job in get("/jobs"):
        if any(lo <= job["jobId"] < hi for lo, hi in job_ranges):
            wanted.update(job.get("stageIds", []))
    stages = tasks = shuffle = 0
    for st in get("/stages"):
        if st["stageId"] in wanted and st.get("status") != "SKIPPED":
            stages += 1
            tasks += st.get("numCompleteTasks", 0)
            shuffle += st.get("shuffleWriteBytes", 0)
    return stages, tasks, shuffle
