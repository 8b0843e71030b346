"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both read from outside the engine:

* Spans. ``Tracer.wrap`` replaces a public module attribute with a thin
  wrapper that records a span around each call; for functions that
  return a lazy DataFrame it also times that frame's ``collect``. Spans
  carry (name, start, end, parent, request) and live in memory until the
  run writes them out. The untraced run installs no wrapper at all.
* Spark's own status store. Each traced request runs under its own job
  group; ``spark_usage`` sums the jobs, task metrics and executed-plan
  metrics of every group after the listener has drained.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Spans are recorded only while ``on`` is true, so a
    wrapper left installed during an untraced phase costs one attribute
    read per call."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def request(self, rid: str, spark=None):
        """Tag spans opened in this thread with request id `rid`; with
        `spark`, also run the thread's Spark jobs under job group `rid`."""
        if not self.on:
            yield
            return
        prev = getattr(self._tls, "request", None)
        self._tls.request = rid
        if spark is not None:
            sc = spark.sparkContext
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(rid, rid)
        try:
            yield
        finally:
            self._tls.request = prev
            if spark is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "request": getattr(self._tls, "request", None),
            "start": time.perf_counter(),
            "cpu_start": time.process_time(),
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = time.process_time() - rec.pop("cpu_start")
            with self._lock:
                self.spans.append(rec)

    def _install(self, module, attr: str, wrapper) -> None:
        self._undo.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapper)

    def wrap(self, module, attr: str, name: str, collect_name: str | None = None) -> None:
        """Record span `name` around every call of ``module.attr``; with
        `collect_name`, the returned DataFrame's ``collect`` records a
        span of that name (the frame's execution)."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if collect_name is not None:
                tracer._time_collect(out, collect_name)
            return out

        self._install(module, attr, wrapper)

    def _time_collect(self, df, name: str) -> None:
        collect = df.collect
        tracer = self

        def timed_collect():
            with tracer.span(name):
                return collect()

        df.collect = timed_collect

    def wrap_factory(self, module, attr: str, name: str, spark) -> None:
        """``module.attr`` returns a callable (a batcher probe_fn): wrap
        each returned callable so every call records span `name` and runs
        under its own Spark job group."""
        factory = getattr(module, attr)
        tracer = self
        calls = itertools.count(1)

        @functools.wraps(factory)
        def wrapped_factory(*args, **kwargs):
            inner = factory(*args, **kwargs)

            def probe(qpdf):
                if not tracer.on:
                    return inner(qpdf)
                with tracer.request(f"{name}-{next(calls)}", spark):
                    with tracer.span(name):
                        return inner(qpdf)

            return probe

        self._install(module, attr, wrapped_factory)

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._undo):
            setattr(module, attr, original)
        self._undo.clear()

    def named(self, name: str, since: float = float("-inf")) -> list[dict]:
        """Spans called `name` that started at or after `since`."""
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span that its
        child spans cover (children's intervals are merged first, so two
        overlapping children are not subtracted twice)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(
                {"spans": spans, "self_seconds": self.self_times(), **extra}, fh, indent=1
            )


# ------------------------------------------------------------ status store

_USAGE_KEYS = (
    "jobs", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "python_bytes_sent", "scan_rows", "files_read", "shuffle_records",
)


def _metric_value(raw: str) -> float:
    """Status-store SQL metric strings are display text: "12,489",
    "total (min, med, max ...)\\n410.1 KiB (...)", "8 ms". Return the
    leading total (bytes for sizes)."""
    s = str(raw)
    if "\n" in s:
        s = s.split("\n", 1)[1]
    parts = s.split("(")[0].split()
    units = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
    try:
        value = float(parts[0].replace(",", ""))
    except (ValueError, IndexError):
        return 0.0
    return value * units.get(parts[1], 1) if len(parts) == 2 else value


def _drain(spark, timeout_s: float = 10.0) -> None:
    """Wait until the async listener has recorded every job as finished
    and the job and execution counts hold still for three polls."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    prev, stable = None, 0
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        jobs = store.jobsList(None)
        running = sum(
            1 for i in range(jobs.size()) if jobs.apply(i).status().toString() == "RUNNING"
        )
        state = (jobs.size(), sql.executionsList().size(), running)
        stable = stable + 1 if state == prev and running == 0 else 0
        if stable >= 3:
            return
        prev = state
        time.sleep(0.1)


def spark_usage(spark, prefix: str) -> dict[str, float]:
    """Summed over the job groups whose id starts with `prefix`: jobs,
    tasks, executor run/CPU/GC milliseconds (from the stages the groups'
    jobs ran), and from their SQL executions: bytes sent to Python
    workers, scan output rows, files read and shuffle records written."""
    _drain(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    u = dict.fromkeys(_USAGE_KEYS, 0.0)
    matched_jobs: set[int] = set()
    seen_stages: set[int] = set()
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if not group.isDefined() or not str(group.get()).startswith(prefix):
            continue
        matched_jobs.add(int(job.jobId()))
        u["jobs"] += 1
        ids = job.stageIds()
        for j in range(ids.size()):
            sid = ids.apply(j)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage evicted or never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            u["tasks"] += st.numTasks()
            u["run_ms"] += st.executorRunTime()
            u["cpu_ms"] += st.executorCpuTime() / 1e6
            u["gc_ms"] += st.jvmGcTime()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        if not any(int(j) in matched_jobs for j in _scala_keys(ex.jobs())):
            continue
        values = sql.executionMetrics(ex.executionId())
        nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                key = None
                if m.name() == "data sent to Python workers":
                    key = "python_bytes_sent"
                elif name.startswith("Scan") and m.name() == "number of output rows":
                    key = "scan_rows"
                elif name.startswith("Scan") and m.name() == "number of files read":
                    key = "files_read"
                elif name.startswith("Exchange") and m.name() == "shuffle records written":
                    key = "shuffle_records"
                if key is not None:
                    u[key] += _metric_value(v.get())
    return u


def _scala_keys(scala_map) -> list:
    it = scala_map.keysIterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
