"""The benchmark's workloads.

Every workload is a closed loop (a client sends its next request only
after the previous reply) in one fresh process with ``local[2]``, and
runs the same phases:

1. inputs: generated from the seed, written as files, ground truth
   computed in numpy (not timed, not part of set-up);
2. set-up (``setup_s``): start the Spark session, prepare the serving
   state from the files (ingest, build, open) in a fresh directory, then
   run a fixed number of warm-up requests;
3. the timed phase: a fixed amount of work (``--seconds`` only caps it);
4. the checks, scored against the numpy truth after the timed phase.

``--trace 1`` runs the timed phase twice, untraced and traced, and
reports per-layer numbers from the traced one (see tracing.py).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import inputs
from harness import Bench, Request, dir_bytes, median, median_ms

K = 10
POOL = 2000  # held-out query pool per vector workload
REQUEST_QUERIES = 50


def _query_frame(ids: np.ndarray, vectors: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"q_id": ids.astype(np.int64), "embedding": list(vectors)})


def _by_query(res: pd.DataFrame) -> dict[int, list[int]]:
    """{q_id: vec_ids in rank order} of a (q_id, rank, vec_id, dist) reply."""
    res = res.sort_values(["q_id", "rank"], kind="stable")
    q = res["q_id"].to_numpy(np.int64)
    v = res["vec_id"].to_numpy(np.int64)
    cuts = np.flatnonzero(np.diff(q)) + 1
    return {int(g[0]): ids.tolist() for g, ids in zip(np.split(q, cuts), np.split(v, cuts))}


def _fvecs_input(bench: Bench, n_base: int):
    base, pool = inputs.vector_mixture(bench.seed, n_base, POOL)
    path = os.path.join(bench.work, "base")
    inputs.write_fvecs_shards(path, base, rows_per_shard=max(n_base // 8, 1))
    return base, pool, path


def _check_answer(bench: Bench, got: dict[int, list[int]], q_ids) -> None:
    """A request gets exactly its own q_ids back, K distinct ids each."""
    bench.check(
        set(got) == {int(q) for q in q_ids},
        f"q_ids returned {sorted(got)[:5]}... differ from those sent {list(q_ids)[:5]}...",
    )
    short = [q for q, ids in got.items() if len(set(ids)) != K or len(ids) != K]
    bench.check(not short, f"q_ids {short[:5]} did not get {K} distinct ids")


def _check_exact(bench: Bench, got: dict[int, list[int]], base, queries, q_ids, truth_d) -> None:
    """Exact search must return the true top-K distances; an id may
    differ from the truth's only on a tie."""
    _check_answer(bench, got, q_ids)
    bad = 0
    for i, q in enumerate(q_ids):
        found = got.get(int(q), [])
        d = ((base[found].astype(np.float64) - queries[i].astype(np.float64)) ** 2).sum(1)
        bad += len(found) != K or not np.allclose(np.sort(d), truth_d[i], rtol=1e-5, atol=1e-4)
    bench.check(bad == 0, f"exact search: {bad} of {len(q_ids)} queries differ from the truth")


def _exact_call(bench: Bench, df, qdf, q_ids, rid: str) -> Request:
    """One knn.knn_exact call, collected; its own job group when traced."""
    from cs598vectordb_spark.operators import knn

    with bench.tracer.request(rid, bench.spark), bench.tracer.span("client.request"):
        t0 = time.perf_counter()
        rows = bench.attempt(lambda: knn.knn_exact(df, qdf, K).collect())
        t1 = time.perf_counter()
    res = None if rows is None else pd.DataFrame(rows, columns=["q_id", "rank", "vec_id", "dist"])
    return Request(t0, t1, q_ids, res)


def _answered(*phases):
    return [r for phase in phases if phase for r in phase["log"] if r.res is not None]


# ------------------------------------------------------------ serve_graph2

SERVE_BASE = 10_000
SERVE_CLIENTS = 4
SERVE_WARMUP = 1  # warm-up requests per client
SERVE_REQUESTS = 8  # timed requests per client
SERVE_PROBE = dict(nprobe1=6, nprobe2=10, beam=32, rounds=4, n_entry=12)


def serve_graph2(bench: Bench) -> dict:
    base, pool, path = _fvecs_input(bench, SERVE_BASE)
    slice_len = POOL // SERVE_CLIENTS
    if (SERVE_WARMUP + SERVE_REQUESTS) * REQUEST_QUERIES > slice_len:
        raise ValueError("serve_graph2: the query pool is too small for the schedule")
    truth, _ = inputs.exact_topk(base, np.arange(len(base)), pool, K)

    spark = bench.start_session()
    from cs598vectordb_spark.operators import graph, serving

    df = bench.read_base(path)
    built = graph.build_layered_graph2(df, *graph.default_grid2(SERVE_BASE), degree=16)
    index_dir = os.path.join(bench.work, "graph2")
    with bench.tracer.span("graph.materialize_open"):
        graph.materialize_layered2(built, os.path.join(index_dir, "index"), pinned=False)
        served = graph.open_layered2(spark, os.path.join(index_dir, "index"), served=True)
    built.close()
    probe_fn = bench.probe_factory("layered2_probe_fn")(spark, served, K, **SERVE_PROBE)
    batcher = serving.DynamicBatcher(probe_fn, max_wait_ms=50)

    def client(c: int, first: int, count: int, deadline: float) -> list[Request]:
        log = []
        for i in range(first, first + count):
            if time.perf_counter() > deadline:
                break
            start = c * slice_len + i * REQUEST_QUERIES
            ids = np.arange(start, start + REQUEST_QUERIES)
            with bench.tracer.request(f"client{c}-{i}"), bench.tracer.span("client.request"):
                t0 = time.perf_counter()
                res = bench.attempt(batcher.submit, _query_frame(ids, pool[ids]))
                log.append(Request(t0, time.perf_counter(), ids, res))
        return log

    def run_clients(first: int, count: int, deadline: float) -> list[Request]:
        with ThreadPoolExecutor(SERVE_CLIENTS) as ex:
            futs = [ex.submit(client, c, first, count, deadline) for c in range(SERVE_CLIENTS)]
            return [r for f in futs for r in f.result()]

    warm = run_clients(0, SERVE_WARMUP, float("inf"))

    def run_phase(traced: bool):
        submits, probes = batcher.n_submits, batcher.n_probe_calls
        t0 = time.perf_counter()
        log = run_clients(SERVE_WARMUP, SERVE_REQUESTS, t0 + bench.cap_s)
        return {
            "log": log,
            "t0": t0,
            "wall": max(r.t1 for r in log) - t0,
            "submits": batcher.n_submits - submits,
            "probes": batcher.n_probe_calls - probes,
        }

    plain, traced = bench.timed_phase(run_phase)

    recalls = []
    for r in _answered({"log": warm}, plain, traced):
        got = _by_query(r.res)
        _check_answer(bench, got, r.ids)
        recalls.append(inputs.recall_at_k(got, truth[r.ids], r.ids, K))
    timed_recall = [
        inputs.recall_at_k(_by_query(r.res), truth[r.ids], r.ids, K) for r in _answered(plain)
    ]

    checked = len(recalls)
    L = bench.layer
    L["graph.index_bytes_per_vector_byte"] = dir_bytes(index_dir) / base.nbytes
    if traced:
        tr = bench.tracer
        since = traced["t0"]
        L["sources.read_fvecs_s"] = median_ms(tr.named("sources.read_fvecs")) / 1000
        L["graph.build_s"] = median_ms(tr.named("graph.build")) / 1000
        L["graph.materialize_s"] = median_ms(tr.named("graph.materialize_open")) / 1000
        probes = tr.named("serving.probe", since)
        routes, walks = tr.named("graph.route", since), tr.named("graph.walk", since)
        L["graph.route_ms"] = median_ms(routes)
        L["graph.walk_ms"] = median_ms(walks)
        L["serving.probe_ms"] = median_ms(probes)
        inner: dict[int, float] = {}
        for s in routes + walks:
            inner[s["parent"]] = inner.get(s["parent"], 0.0) + s["end"] - s["start"]
        L["serving.convert_ms"] = 1000.0 * median(
            [p["end"] - p["start"] - inner.get(p["id"], 0.0) for p in probes]
        )
        # a request is served by the last probe that ended before its reply
        waits = []
        for r in _answered(traced):
            done = [p for p in probes if p["end"] <= r.t1 + 1e-3]
            if done:
                p = max(done, key=lambda s: s["end"])
                waits.append(1000.0 * ((r.t1 - r.t0) - (p["end"] - p["start"])))
        L["serving.queue_wait_ms"] = median(waits)
        n_probes = max(traced["probes"], 1)
        L["serving.queries_per_probe"] = traced["submits"] * REQUEST_QUERIES / n_probes
        L["serving.submits_per_probe"] = traced["submits"] / n_probes
        bench.spark_layer("serving.probe", traced["submits"], REQUEST_QUERIES)
        bench.driver_layer(probes, traced["submits"])

        # the ivfpq and knn layers, after timing and after the serve
        # numbers above are taken: one churn cycle (one read per step) and
        # one exact search over the same base, traced and checked. Only
        # the traced run reports per-layer numbers, so only it pays for them
        churn = IvfpqChurn(bench, base, pool, reads=1)
        churn.open(df)
        cycle = churn.cycle(True)
        checked += churn.check([cycle])[1]
        churn.layers(cycle, cycle)
    return bench.finish(
        plain, traced, REQUEST_QUERIES, float(np.mean(timed_recall or [0.0])), checked
    )


# -------------------------------------------------------------- churn_ivfpq

CHURN_BASE = 10_000
CHURN_IVFPQ = dict(nlist=32, m=16, ksub=64, train_sample=2_500)
CHURN_PROBE = dict(nprobe=8, mult=10)
CHURN_TAIL = 0.25
CHURN_SLICES = 2
CHURN_READS = 3  # read requests after each maintenance step


class IvfpqChurn:
    """One churn cycle on a path-backed ``keep_vectors`` IVF-PQ index over
    a base: tombstone the CHURN_TAIL of ids (``delete_from_ivfpq``),
    re-insert it in CHURN_SLICES ``vec_id``-mod slices (one delta
    generation each), ``auto_compact_ivfpq``; `reads` 50-query probes
    through ``serving.ivfpq_probe_fn`` after every step. Then one
    ``knn.knn_exact`` search of the pre-churn batch over the final live
    set. The constructor computes the numpy truth of every step's live
    set, so it runs before set-up or after timing.

    ``churn_ivfpq`` times the cycle; a traced ``serve_graph2`` run runs
    it once after its own timed phase, so the ivfpq and knn layers are
    measured on a workload in BENCHMARK.json."""

    def __init__(self, bench: Bench, base: np.ndarray, pool: np.ndarray, reads: int):
        self.bench, self.base, self.pool, self.reads = bench, base, pool, reads
        self.ids = np.arange(len(base))
        self.cut = int(len(base) * (1 - CHURN_TAIL))
        ids, cut = self.ids, self.cut
        tail_slices = [ids[(ids >= cut) & (ids % CHURN_SLICES == j)] for j in range(CHURN_SLICES)]
        self.steps = [("delete", None)] + [("insert", j) for j in range(CHURN_SLICES)] + [("compact", None)]
        self.live_after = [ids[:cut]]
        for part in tail_slices:
            self.live_after.append(np.concatenate([self.live_after[-1], part]))
        self.live_after.append(ids)
        self.last = len(self.steps) - 1
        self.truth_after = [
            [
                inputs.exact_topk(base[live], live, pool[self.read_ids(s, r)], K)[0]
                for r in range(reads)
            ]
            for s, live in enumerate(self.live_after)
        ]
        self.warm_ids = self.read_ids(self.last, 0)
        self.warm_truth, self.warm_d = inputs.exact_topk(base, ids, pool[self.warm_ids], K)

    def read_ids(self, step: int, r: int) -> np.ndarray:
        """Query batch of read r after `step`: the last step's first read
        repeats batch 0, the pre-churn warm-up batch."""
        b = 0 if (step, r) == (self.last, 0) else 1 + step * self.reads + r
        return np.arange(b * REQUEST_QUERIES, (b + 1) * REQUEST_QUERIES) % POOL

    def open(self, df) -> Request:
        """Build the index over `df` in a fresh directory and send the
        pre-churn read; returns that read."""
        from cs598vectordb_spark.operators import ivfpq

        bench = self.bench
        self.df = df
        self.index_dir = os.path.join(bench.work, "ivfpq")
        self.index = ivfpq.build_ivfpq(
            df, path=os.path.join(self.index_dir, "index"), keep_vectors=True, **CHURN_IVFPQ
        )
        self.make_probe = bench.probe_factory("ivfpq_probe_fn")
        self.probe = self.make_probe(bench.spark, self.index, df, K, **CHURN_PROBE)
        self.warm = self.read(self.warm_ids, -1)
        return self.warm

    def read(self, q: np.ndarray, step: int) -> Request:
        with self.bench.tracer.request(f"read-{step}"), self.bench.tracer.span("client.request"):
            t0 = time.perf_counter()
            res = self.bench.attempt(self.probe, _query_frame(q, self.pool[q]))
            return Request(t0, time.perf_counter(), q, res, step)

    def maintain(self, kind: str, j) -> bool:
        from cs598vectordb_spark.operators import ivfpq

        df, index, fired = self.df, self.index, False
        if kind == "delete":
            deleted = df.filter(df.vec_id >= self.cut).select("vec_id")
            index = ivfpq.delete_from_ivfpq(index, df.filter(df.vec_id < self.cut), deleted=deleted)
        elif kind == "insert":
            delta = df.filter((df.vec_id >= self.cut) & (df.vec_id % CHURN_SLICES == j))
            index = ivfpq.insert_into_ivfpq(index, delta)
        else:
            index, fired = ivfpq.auto_compact_ivfpq(index, max_generations=CHURN_SLICES)
        self.index = index
        self.probe = self.make_probe(self.bench.spark, index, df, K, **CHURN_PROBE)
        return fired

    def cycle(self, traced: bool, deadline: float = float("inf")) -> dict:
        """One cycle; `deadline` stops it between steps."""
        from cs598vectordb_spark.operators import ivfpq

        bench = self.bench
        out = {"log": [], "maint_s": 0.0, "peak_bytes": 0, "peak_gens": 0,
               "compactions": 0, "written": 0}
        size = dir_bytes(self.index_dir)
        t0 = time.perf_counter()
        for s, (kind, j) in enumerate(self.steps):
            if time.perf_counter() > deadline:
                break
            m0 = time.perf_counter()
            with bench.tracer.request(f"maint-{int(traced)}-{s}", bench.spark):
                out["compactions"] += bool(bench.attempt(self.maintain, kind, j))
            out["maint_s"] += time.perf_counter() - m0
            now = dir_bytes(self.index_dir)
            out["written"] += max(now - size, 0)
            out["peak_bytes"] = max(out["peak_bytes"], now)
            gens = len(ivfpq.delta_generations(self.index.path or ""))
            out["peak_gens"] = max(out["peak_gens"], gens)
            size = now
            out["log"] += [self.read(self.read_ids(s, r), s) for r in range(self.reads)]
        out["t0"], out["wall"] = t0, time.perf_counter() - t0
        return out

    def check(self, cycles: list[dict]) -> tuple[list[list[float]], int]:
        """Run the exact search, then check it, the pre-churn read and
        every read of `cycles`. Returns (recall@10 of each read, per
        cycle; outputs checked)."""
        bench, pool, warm_ids = self.bench, self.pool, self.warm_ids
        qdf = bench.spark.createDataFrame(
            _query_frame(warm_ids, pool[warm_ids]), "q_id long, embedding array<float>"
        )
        exact = _exact_call(bench, self.df, qdf, warm_ids, "exact")
        checked, pre_recall = 0, None
        if exact.res is not None:
            _check_exact(bench, _by_query(exact.res), self.base, pool[warm_ids], warm_ids, self.warm_d)
            checked += 1
        if self.warm.res is not None:
            got = _by_query(self.warm.res)
            _check_answer(bench, got, warm_ids)
            pre_recall = inputs.recall_at_k(got, self.warm_truth, warm_ids, K)
            checked += 1
        recalls = []
        for cyc in cycles:
            recalls.append([])
            for i, r in enumerate(cyc["log"]):
                if r.res is None:
                    continue
                got = _by_query(r.res)
                _check_answer(bench, got, r.ids)
                deleted = np.setdiff1d(self.ids, self.live_after[r.step])
                leaked = np.intersect1d(np.concatenate(list(got.values())), deleted)
                bench.check(not len(leaked), f"step {r.step}: tombstoned ids returned: {leaked[:5]}")
                rec = inputs.recall_at_k(got, self.truth_after[r.step][i % self.reads], r.ids, K)
                recalls[-1].append(rec)
                if (r.step, i % self.reads) == (self.last, 0) and pre_recall is not None:
                    bench.check(
                        rec >= pre_recall,
                        f"recall after the last re-insert {rec:.4f} is below pre-churn {pre_recall:.4f}",
                    )
                checked += 1
        return recalls, checked

    def layers(self, cyc: dict, traced: dict | None) -> None:
        """ivfpq.* and knn.* per-layer numbers: counts and bytes from
        `cyc`, spans from the `traced` cycle."""
        L = self.bench.layer
        raw = self.base.shape[1] * 4
        moved = len(self.ids) - self.cut  # rows deleted, then re-inserted
        L["ivfpq.index_bytes_per_vector_byte"] = cyc["peak_bytes"] / (len(self.ids) * raw)
        L["ivfpq.delta_generations_peak"] = cyc["peak_gens"]
        L["ivfpq.compactions"] = cyc["compactions"]
        L["ivfpq.update_rows_per_s"] = 2 * moved / cyc["maint_s"]
        L["ivfpq.bytes_written_per_update_byte"] = cyc["written"] / (moved * raw)
        if traced:
            tr = self.bench.tracer
            since = traced["t0"]  # the cycle opens with the delete, before any read
            L["ivfpq.build_s"] = median_ms(tr.named("ivfpq.build")) / 1000
            for name in ("route", "exec", "delete", "insert", "compact"):
                L[f"ivfpq.{name}_ms"] = median_ms(tr.named(f"ivfpq.{name}", since))
            L["knn.call_ms"] = median_ms(tr.named("knn.call"))
            L["knn.exec_ms"] = median_ms(tr.named("knn.exec"))


def churn_ivfpq(bench: Bench) -> dict:
    base, pool, path = _fvecs_input(bench, CHURN_BASE)
    churn = IvfpqChurn(bench, base, pool, CHURN_READS)

    bench.start_session()
    churn.open(bench.read_base(path))

    def run_phase(traced: bool):
        return churn.cycle(traced, time.perf_counter() + bench.cap_s)

    plain, traced = bench.timed_phase(run_phase)
    recalls, checked = churn.check([plain] + ([traced] if traced else []))
    churn.layers(plain, traced)
    if traced:
        tr, L = bench.tracer, bench.layer
        L["sources.read_fvecs_s"] = median_ms(tr.named("sources.read_fvecs")) / 1000
        probes = tr.named("serving.probe", traced["t0"])
        L["serving.probe_ms"] = median_ms(probes)
        L["serving.queries_per_probe"] = REQUEST_QUERIES
        L["serving.submits_per_probe"] = 1.0
        bench.spark_layer("serving.probe", len(probes), REQUEST_QUERIES)
        bench.driver_layer(probes, len(probes))
    return bench.finish(plain, traced, REQUEST_QUERIES, float(np.mean(recalls[0] or [0.0])), checked)


# -------------------------------------------------------------- batch_exact

BATCH_BASE = 30_000
BATCH_QUERIES = 2000
BATCH_WARMUP = 2
BATCH_CALLS = 4


def batch_exact(bench: Bench) -> dict:
    base, pool, path = _fvecs_input(bench, BATCH_BASE)
    q_ids = np.arange(BATCH_QUERIES)
    truth, truth_d = inputs.exact_topk(base, np.arange(len(base)), pool[q_ids], K)

    spark = bench.start_session()
    df = bench.read_base(path)
    qdf = spark.createDataFrame(
        _query_frame(q_ids, pool[q_ids]), "q_id long, embedding array<float>"
    )

    def call(rid: str) -> Request:
        return _exact_call(bench, df, qdf, q_ids, rid)

    warm = [call(f"warm-{i}") for i in range(BATCH_WARMUP)]

    def run_phase(traced: bool):
        deadline = time.perf_counter() + bench.cap_s
        log = []
        t0 = time.perf_counter()
        for i in range(BATCH_CALLS):
            if time.perf_counter() > deadline:
                break
            log.append(call(f"req-{int(traced)}-{i}"))
        return {"log": log, "t0": t0, "wall": time.perf_counter() - t0}

    plain, traced = bench.timed_phase(run_phase)

    answers = _answered({"log": warm}, plain, traced)
    for r in answers:
        _check_exact(bench, _by_query(r.res), base, pool[q_ids], q_ids, truth_d)
    recalls = [inputs.recall_at_k(_by_query(r.res), truth, q_ids, K) for r in _answered(plain)]

    if traced:
        tr = bench.tracer
        since = traced["t0"]
        bench.layer["sources.read_fvecs_s"] = median_ms(tr.named("sources.read_fvecs")) / 1000
        bench.layer["knn.call_ms"] = median_ms(tr.named("knn.call", since))
        bench.layer["knn.exec_ms"] = median_ms(tr.named("knn.exec", since))
        calls = tr.named("client.request", since)
        bench.spark_layer("req-1-", len(calls), BATCH_QUERIES)
        bench.driver_layer(calls, len(calls))
    return bench.finish(
        plain, traced, BATCH_QUERIES, float(np.mean(recalls or [0.0])), len(answers)
    )


# -------------------------------------------------------------- text_curate

TEXT_DOCS = 2000
TEXT_STAGES = ("bm25_search", "dsir_logweights", "lm_surprisal", "tfidf_keywords", "minhash_lsh_dedup")
TEXT_PASSES = 3


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.6f}"
    return str(v)


def _rows_differ(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """Order-insensitive comparison, floats at 6 decimals; None if equal."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)}"
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    a = sorted("|".join(_canon(r[i]) for i in ia) for r in rows_a)
    b = sorted("|".join(_canon(r[i]) for i in ib) for r in rows_b)
    diff = [(x, y) for x, y in zip(a, b) if x != y]
    return f"{len(diff)} rows differ, e.g. {diff[0]}" if diff else None


def text_curate(bench: Bench) -> dict:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, planted = inputs.text_corpus(bench.seed, TEXT_DOCS)
    corpus = os.path.join(bench.work, "corpus")
    os.makedirs(corpus)
    table_path = os.path.join(corpus, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), table_path)

    spark = bench.start_session()
    from cs598vectordb_spark import queries_text, registry
    from cs598vectordb_spark.operators import textops
    from cs598vectordb_spark.sources import tables

    stages = {name: registry.queries()[name] for name in TEXT_STAGES}

    n = tables.load_table(spark, corpus, "documents").count()
    bench.check(n == TEXT_DOCS, f"corpus read {n} documents of {TEXT_DOCS}")

    def run_stage(name: str, collect: bool):
        df = stages[name](spark, corpus)
        if collect:
            return df.columns, [tuple(r) for r in df.collect()]
        df.write.format("noop").mode("overwrite").save()
        return True

    def run_pass(rid: str, collect: bool) -> Request:
        out = {}
        with bench.tracer.request(rid, spark), bench.tracer.span("client.request"):
            t0 = time.perf_counter()
            for name in TEXT_STAGES:
                with bench.tracer.span(f"text.{name}"):
                    out[name] = bench.attempt(run_stage, name, collect)
            t1 = time.perf_counter()
        return Request(t0, t1, None, out if all(v is not None for v in out.values()) else None)

    # one warm-up pass, collected for the checks
    warm = run_pass("warm", collect=True)

    def run_phase(traced: bool):
        deadline = time.perf_counter() + bench.cap_s
        log = []
        t0 = time.perf_counter()
        for p in range(TEXT_PASSES):
            if time.perf_counter() > deadline:
                break
            log.append(run_pass(f"pass-{int(traced)}-{p}", collect=False))
        return {"log": log, "t0": t0, "wall": time.perf_counter() - t0}

    plain, traced = bench.timed_phase(run_phase)

    # checks on the warm-up pass, whose outputs were collected.
    # dsir_logweights' DuckDB twin joins the corpus's (feature -> bucket)
    # map, since DuckDB has no xxhash64: export it now, after timing
    checked, found = 0, set()
    if warm.res is not None:
        map_path = os.path.join(bench.work, "dsir_map")
        docs_df = tables.load_table(spark, corpus, "documents")
        textops.dsir_bucket_map(docs_df).write.parquet(map_path)
        oracles = {**registry.oracle_sql(), "dsir_logweights": queries_text.dsir_oracle_sql(map_path)}
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{table_path}')")
            for name in TEXT_STAGES:
                cols, rows = warm.res[name]
                cur = con.execute(oracles[name])
                problem = _rows_differ(cols, rows, [d[0] for d in cur.description], cur.fetchall())
                bench.check(problem is None, f"{name} vs DuckDB: {problem}")
                checked += 1
        finally:
            con.close()
        cols, rows = warm.res["minhash_lsh_dedup"]
        ia, ib = cols.index("doc_a"), cols.index("doc_b")
        found = {(min(r[ia], r[ib]), max(r[ia], r[ib])) for r in rows}
    dup_recall = len(found & set(planted)) / max(len(planted), 1)

    if traced:
        tr = bench.tracer
        since = traced["t0"]
        for name in TEXT_STAGES:
            bench.layer[f"text.{name}_s"] = median_ms(tr.named(f"text.{name}", since)) / 1000
        passes = tr.named("client.request", since)
        bench.spark_layer("pass-1-", len(passes), docs_per_request=TEXT_DOCS * len(TEXT_STAGES))
        bench.driver_layer(passes, len(passes))
    return bench.finish(plain, traced, TEXT_DOCS * len(TEXT_STAGES), dup_recall, checked)


WORKLOADS = {
    "serve_graph2": serve_graph2,
    "churn_ivfpq": churn_ivfpq,
    "batch_exact": batch_exact,
    "text_curate": text_curate,
}
