"""Shared machinery of a benchmark run: the metric tables, the Bench
object that owns one run's session, tracer, counters and result, and the
host readings printed as context.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import sys
import time
from collections import namedtuple

import numpy as np

from tracing import Tracer, spark_usage

# two task threads on a 4-vCPU host: with four, the tasks, the JVM, the
# driver process and the client threads oversubscribe the host (interleaved
# serve_graph2 runs measured local[4] 15-35% slower than local[2])
SPARK_CPUS = 2

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "recall": "fraction",
    "setup_s": "s",
}

PER_LAYER = {
    "trace.overhead_pct": "%",
    "session.start_s": "s",
    "sources.read_fvecs_s": "s",
    "graph.build_s": "s",
    "graph.materialize_s": "s",
    "graph.route_ms": "ms",
    "graph.walk_ms": "ms",
    "graph.index_bytes_per_vector_byte": "ratio",
    "serving.queue_wait_ms": "ms",
    "serving.probe_ms": "ms",
    "serving.convert_ms": "ms",
    "serving.queries_per_probe": "count",
    "serving.submits_per_probe": "count",
    "ivfpq.build_s": "s",
    "ivfpq.route_ms": "ms",
    "ivfpq.exec_ms": "ms",
    "ivfpq.delete_ms": "ms",
    "ivfpq.insert_ms": "ms",
    "ivfpq.compact_ms": "ms",
    "ivfpq.update_rows_per_s": "1/s",
    "ivfpq.delta_generations_peak": "count",
    "ivfpq.compactions": "count",
    "ivfpq.bytes_written_per_update_byte": "ratio",
    "ivfpq.index_bytes_per_vector_byte": "ratio",
    "knn.call_ms": "ms",
    "knn.exec_ms": "ms",
    "text.bm25_search_s": "s",
    "text.dsir_logweights_s": "s",
    "text.lm_surprisal_s": "s",
    "text.tfidf_keywords_s": "s",
    "text.minhash_lsh_dedup_s": "s",
    "spark.jobs_per_request": "jobs/request",
    "spark.tasks_per_request": "tasks/request",
    "spark.executor_run_ms_per_request": "ms/request",
    "spark.executor_cpu_ms_per_request": "ms/request",
    "spark.gc_ms_per_request": "ms/request",
    "spark.python_bytes_sent_per_query": "B/query",
    "spark.scan_rows_per_query": "rows/query",
    "spark.files_read_per_request": "files/request",
    "spark.shuffle_records_per_doc": "records/doc",
    "spark.python_bytes_sent_per_doc": "B/doc",
    "driver.cpu_ms_per_request": "ms/request",
}


# one client request: submit and reply times, the query ids sent (None for
# a text pass), the reply (None when the request raised) and, on
# churn_ivfpq, the maintenance step it followed
Request = namedtuple("Request", "t0 t1 ids res step", defaults=(0,))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def median_ms(spans) -> float:
    """Median span duration in milliseconds."""
    return 1000.0 * median([s["end"] - s["start"] for s in spans])


def p50_ms(log: list[Request]) -> float:
    return median([1000.0 * (r.t1 - r.t0) for r in log if r.res is not None])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def host_reading() -> dict:
    """Load average plus a short GEMM and memory-copy reading. Context
    for the run only: it never gates or discards a result."""
    a = np.random.default_rng(0).random((384, 384))
    t = time.perf_counter()
    for _ in range(8):
        a @ a
    gemm = 8 * 2 * 384**3 / (time.perf_counter() - t) / 1e9
    src = np.ones(8 << 20)
    dst = np.empty_like(src)
    t = time.perf_counter()
    for _ in range(4):
        np.copyto(dst, src)
    bw = 4 * 2 * src.nbytes / (time.perf_counter() - t) / 1e9
    return {
        "loadavg_1m": os.getloadavg()[0],
        "gemm_gflops": round(gemm, 2),
        "copy_gb_per_s": round(bw, 2),
    }


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except OSError:
        return False
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    """One run: its session, tracer, counters and result assembly."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.seed = args.seed
        self.cap_s = args.seconds
        self.trace = bool(args.trace)
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.context = {"start": host_reading(), "phase_s": {}}
        self.setup_t0 = 0.0
        self.setup_s = 0.0
        self._mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall since the previous mark under `phase` (context
        for reading a run, not a metric)."""
        now = time.perf_counter()
        self.context["phase_s"][phase] = round(now - self._mark, 3)
        self._mark = now

    # ---------------------------------------------------------------- setup

    def start_session(self):
        from cs598vectordb_spark import session

        self.mark("inputs")
        if self.trace:
            self._install_wrappers()
            self.tracer.on = True
        self.setup_t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark("perfbench", cpus=SPARK_CPUS)
        self.layer["session.start_s"] = time.perf_counter() - self.setup_t0
        return self.spark

    def _install_wrappers(self) -> None:
        from cs598vectordb_spark.operators import graph, ivfpq, knn, serving

        tr = self.tracer
        tr.wrap(graph, "build_layered_graph2", "graph.build")
        tr.wrap(graph, "materialize_layered2", "graph.materialize")
        tr.wrap(graph, "knn_graph_layered2", "graph.route", "graph.walk")
        tr.wrap(ivfpq, "build_ivfpq", "ivfpq.build")
        tr.wrap(ivfpq, "knn_ivfpq_refined", "ivfpq.route", "ivfpq.exec")
        tr.wrap(ivfpq, "delete_from_ivfpq", "ivfpq.delete")
        tr.wrap(ivfpq, "insert_into_ivfpq", "ivfpq.insert")
        tr.wrap(ivfpq, "auto_compact_ivfpq", "ivfpq.compact")
        tr.wrap(knn, "knn_exact", "knn.call", "knn.exec")
        # the session-dependent factory wrappers need the session: they
        # are installed lazily by probe_factory()

    def probe_factory(self, name: str):
        """serving.<name> (a probe_fn factory), wrapped in a traced run so
        that each probe call records a span and its own job group."""
        from cs598vectordb_spark.operators import serving

        if self.trace:
            self.tracer.wrap_factory(serving, name, "serving.probe", self.spark)
        return getattr(serving, name)

    def read_base(self, path: str):
        """sources layer: fvecs shards -> persisted, counted frame."""
        from cs598vectordb_spark.sources import vecfiles

        with self.tracer.span("sources.read_fvecs"):
            df = vecfiles.read_fvecs(self.spark, path).persist()
            df.count()
        return df

    # ------------------------------------------------------------- requests

    def attempt(self, fn, *args):
        """One counted operation; a raise counts as failed and yields None
        (the checks then see no output for it)."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # the run keeps going and reports it
            self.failed += 1
            print(f"perfbench: operation failed: {type(exc).__name__}: {exc}",
                  file=sys.stderr, flush=True)
            return None

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.problems.append(message)

    def timed_phase(self, run_phase):
        """Close set-up (setup_s runs from get_spark to here) and run the
        timed phase untraced; in a traced run, run it traced as well,
        after the untraced one on even seeds and before it on odd seeds,
        so that drift over a run does not read as tracing overhead.
        Returns (untraced, traced-or-None) phase results."""
        self.setup_s = time.perf_counter() - self.setup_t0
        self.mark("setup")
        was_on, phases = self.tracer.on, {}
        for traced in (True, False) if self.seed % 2 else (False, True):
            if traced and not self.trace:
                continue
            self.tracer.on = traced
            phases[traced] = run_phase(traced)
        self.tracer.on = was_on
        self.mark("timed")
        return phases[False], phases.get(True)

    def spark_layer(self, prefix: str, requests: int, queries_per_request: int = 0,
                    docs_per_request: int = 0) -> None:
        """spark.* per-layer numbers from the traced phase's job groups
        whose id starts with `prefix`, per request (and per query answered
        or document processed)."""
        usage = spark_usage(self.spark, prefix)
        n = max(requests, 1)
        L = self.layer
        L["spark.jobs_per_request"] = usage["jobs"] / n
        L["spark.tasks_per_request"] = usage["tasks"] / n
        L["spark.executor_run_ms_per_request"] = usage["run_ms"] / n
        L["spark.executor_cpu_ms_per_request"] = usage["cpu_ms"] / n
        L["spark.gc_ms_per_request"] = usage["gc_ms"] / n
        L["spark.files_read_per_request"] = usage["files_read"] / n
        if queries_per_request:
            queries = n * queries_per_request
            L["spark.python_bytes_sent_per_query"] = usage["python_bytes_sent"] / queries
            L["spark.scan_rows_per_query"] = usage["scan_rows"] / queries
        if docs_per_request:
            docs = n * docs_per_request
            L["spark.python_bytes_sent_per_doc"] = usage["python_bytes_sent"] / docs
            L["spark.shuffle_records_per_doc"] = usage["shuffle_records"] / docs

    def driver_layer(self, spans: list[dict], requests: int) -> None:
        """driver.cpu_ms_per_request: this process's CPU time over `spans`."""
        self.layer["driver.cpu_ms_per_request"] = (
            1000.0 * sum(s["cpu_s"] for s in spans) / max(requests, 1)
        )

    # --------------------------------------------------------------- result

    def finish(self, plain, traced, units: int, recall: float, checked: int) -> dict:
        """The run's result line. `plain` and `traced` are timed-phase
        results ({"log": [Request], "t0": start, "wall": s}); each
        answered request is worth `units` (queries, or documents ×
        stages)."""
        answered = [r for r in plain["log"] if r.res is not None]
        self.context["timed_requests"] = len(answered)
        self.context["timed_request_ms"] = [round(1000.0 * (r.t1 - r.t0)) for r in answered]
        e2e = {
            "throughput_per_s": units * len(answered) / max(plain["wall"], 1e-9),
            "latency_p50_ms": p50_ms(answered),
            "recall": recall,
            "setup_s": self.setup_s,
        }
        if traced is not None and e2e["latency_p50_ms"] > 0:
            self.layer["trace.overhead_pct"] = (
                100.0 * (p50_ms(traced["log"]) / e2e["latency_p50_ms"] - 1.0)
            )
        self.mark("checks")
        self.context["end"] = host_reading()
        if checked == 0:
            self.problems.append("no output was checked")
        correct = not self.problems
        if self.trace:
            out_dir = os.path.join(os.path.dirname(self.work), "traces")
            os.makedirs(out_dir, exist_ok=True)
            self.tracer.write(
                os.path.join(out_dir, f"{self.args.workload}-seed{self.seed}.json"),
                {"per_layer": self.layer, "end_to_end": e2e, "context": self.context,
                 "problems": self.problems},
            )
        for p in self.problems[:20]:
            print(f"perfbench: check failed: {p}", file=sys.stderr, flush=True)
        print("perfbench: context " + json.dumps(self.context), file=sys.stderr, flush=True)
        values, table = (self.layer, PER_LAYER) if self.trace else (e2e, END_TO_END)
        return {
            "correct": correct,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {
                name: {"value": float(values[name]), "unit": unit}
                for name, unit in table.items()
            },
        }

    def close(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait for
        each to end."""
        self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids = descendants(proc.pid) if proc is not None else []
        try:
            self.spark.stop()
        finally:
            if proc is not None:
                try:
                    gateway.shutdown()
                except Exception:  # already closed; the JVM exit below is what matters
                    pass
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            deadline = time.monotonic() + 30
            while any(alive(p) for p in kids) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in kids:
                if alive(p):
                    os.kill(p, signal.SIGKILL)
