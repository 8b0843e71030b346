"""Dynamic micro-batching for concurrent ANN serving (W3 at high
client counts).

The r14 1M multi-tenant sweep measured the problem this module solves:
N ∈ {10..50} concurrent clients probing 200-query batches against one
shared worker-served graph saturate at ~200-285 aggregate QPS while a
single 1,000-query batch serves 536 QPS — per-probe FIXED driver work
(probe selection, the probe's Spark jobs, the final merge)
dominates at small batch sizes, so concurrency multiplies overhead
instead of throughput. A served layered2 probe runs one Spark job, the
segment walk; its tasks' top-k rows are merged on the driver.
Model-serving systems solve exactly this with dynamic batching (merge
requests that arrive within a short window, execute once, split the
results); the same idea is Spark-native here because
the engine's probes are already BATCH operators whose per-query cost
falls with batch size (bench extra.knn_exact_qps_scaling measures that
curve every run for the exact kernel; the graph probe shares the
shape).

Design: leader-election batching with no background thread. The first
submitter into an empty queue becomes the LEADER: it waits up to
``max_wait_ms`` for co-arrivals, drains the queue, remaps every
tenant's q_ids into a disjoint slot range, runs ONE probe over the
union batch, and fulfills each tenant's future with its slice (q_ids
unmapped). Followers just wait on their futures. Correctness is
slot-arithmetic only — results are the probe's own rows — pinned
row-equal to solo probes in tests/test_serving.py.

Scale shape: the merged batch stays the one BY-DESIGN driver-sized
collect the probe already makes (house rule), capped at
``max_batch_queries``; everything distributed about the probe is
unchanged. Reference analog: multi_tenant_script.py:121-180 runs N
independent clients against one index process — a native in-process
index gets request interleaving for free from threads; a job-scheduled
engine has to merge explicitly, which is what this operator does.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import Future

import numpy as np
import pandas as pd

# q_ids are remapped to slot*_SLOT_STRIDE + q_id so tenant result rows
# can be split back without a tag column reaching the probe kernel.
# Callers' q_ids must be < _SLOT_STRIDE (the engine's fixtures and
# bench batches use small dense ids; asserted on submit).
_SLOT_STRIDE = 1 << 40


class DynamicBatcher:
    """Merge concurrently-submitted query frames into one probe call.

    probe_fn: (queries_pdf: pd.DataFrame[q_id, <vec_col>]) ->
        pd.DataFrame[q_id, rank, vec_id, dist] — the caller wraps its
        index probe; see layered2_probe_fn and ivfpq_probe_fn (the
        probe's output frame of the merged batch, collected).

    CONTRACT: probe_fn must treat q_id as an OPAQUE label — echo it on
    output rows, never derive result values from it — because the
    batcher remaps q_ids into slot ranges before the call and unmaps
    them after. Every real probe satisfies this (q_id only labels the
    query vector); the property test pins the contract with a
    payload-derived fake.
    """

    def __init__(
        self,
        probe_fn,
        max_wait_ms: float = 25.0,
        max_batch_queries: int = 20_000,
    ):
        self._probe = probe_fn
        self._wait_s = max_wait_ms / 1000.0
        self._cap = max_batch_queries
        self._lock = threading.Lock()
        self._pending: list[tuple[pd.DataFrame, Future]] = []
        self.n_probe_calls = 0  # observability: batches actually executed
        self.n_submits = 0

    def submit(self, qpdf: pd.DataFrame) -> pd.DataFrame:
        """Blocking: returns this tenant's (q_id, rank, vec_id, dist)."""
        # ValueError, not assert: a negative q_id floor-divides to slot
        # -1 in _run_chunk and its rows would silently vanish from every
        # tenant; an assert also disappears under -O (ADVICE r14)
        if len(qpdf) and (
            int(qpdf["q_id"].min()) < 0
            or int(qpdf["q_id"].max()) >= _SLOT_STRIDE
        ):
            raise ValueError(
                "q_id out of range [0, %d): min=%s max=%s"
                % (_SLOT_STRIDE, qpdf["q_id"].min(), qpdf["q_id"].max())
            )
        fut: Future = Future()
        with self._lock:
            self._pending.append((qpdf, fut))
            self.n_submits += 1
            leader = len(self._pending) == 1
        if leader:
            # co-arrival window: tiny vs a probe wall (~seconds at 1M),
            # decisive for merging a thundering herd of tenants
            time.sleep(self._wait_s)
            self._execute()
        return fut.result()

    def _execute(self) -> None:
        with self._lock:
            batch, self._pending = self._pending, []
        if not batch:
            return
        # respect the driver-sized cap: execute in chunks of whole
        # tenant frames (a single tenant frame larger than the cap
        # still executes — solo, as it would have unbatched)
        chunk: list[tuple[pd.DataFrame, Future]] = []
        n_q = 0
        for item in batch:
            if chunk and n_q + len(item[0]) > self._cap:
                self._run_chunk(chunk)
                chunk, n_q = [], 0
            chunk.append(item)
            n_q += len(item[0])
        if chunk:
            self._run_chunk(chunk)

    def _run_chunk(self, chunk: list[tuple[pd.DataFrame, Future]]) -> None:
        frames = []
        for slot, (qpdf, _) in enumerate(chunk):
            f = qpdf.copy()
            f["q_id"] = f["q_id"].astype(np.int64) + slot * _SLOT_STRIDE
            frames.append(f)
        merged = pd.concat(frames, ignore_index=True)
        try:
            self.n_probe_calls += 1
            res = self._probe(merged)
            slot_of = (res["q_id"].to_numpy(np.int64) // _SLOT_STRIDE).astype(
                np.int64
            )
            base = res["q_id"].to_numpy(np.int64) % _SLOT_STRIDE
            res = res.assign(q_id=base)
            for slot, (_, fut) in enumerate(chunk):
                fut.set_result(
                    res[slot_of == slot].reset_index(drop=True)
                )
        except BaseException as exc:  # every waiter must wake
            for _, fut in chunk:
                if not fut.done():
                    fut.set_exception(exc)


def _spark_queries(spark, qpdf: pd.DataFrame, vec_col: str):
    """Merged pandas batch -> Spark (q_id, <vec_col> array<float>) frame,
    for probes that take only a Spark frame."""
    schema = f"q_id long, {vec_col} array<float>"
    try:
        # Arrow pandas conversion: handles ndarray AND list cells,
        # measured 2× the per-element python-list form at 10k×128
        # (~1 s saved per merged probe)
        return spark.createDataFrame(qpdf[["q_id", vec_col]], schema=schema)
    except Exception:  # degraded-Arrow session: exact fallback
        return spark.createDataFrame(
            [
                (int(q), [float(x) for x in v])
                for q, v in zip(qpdf["q_id"], qpdf[vec_col])
            ],
            schema,
        )


def _collected_probe(search):
    """The shared body of the probe_fn factories: merged pandas batch ->
    `search(batch)` (a DataFrame of q_id, rank, vec_id, dist) ->
    collected pandas. The collect is the probe's own by-design
    driver-sized result traffic, just for the union batch."""

    def probe(qpdf: pd.DataFrame) -> pd.DataFrame:
        rows = search(qpdf).collect()
        return pd.DataFrame(
            {
                "q_id": [r.q_id for r in rows],
                "rank": [r.rank for r in rows],
                "vec_id": [r.vec_id for r in rows],
                "dist": [r.dist for r in rows],
            }
        )

    return probe


def layered2_probe_fn(
    spark,
    index,
    k: int = 10,
    nprobe1: int = 2,
    nprobe2: int = 6,
    beam: int = 24,
    rounds: int = 3,
    n_entry: int = 8,
    vec_col: str = "embedding",
):
    """A DynamicBatcher probe_fn over a layered2 index: the merged pandas
    batch goes straight into knn_graph_layered2 (no Spark frame is built
    for it), and the returned frame is collected to pandas. Vectors are
    rounded to float32 first, the array<float> a Spark query frame
    would carry, so rows equal a probe over the Spark frame."""
    from cs598vectordb_spark.operators.graph import knn_graph_layered2

    def float32_queries(qpdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "q_id": qpdf["q_id"].to_numpy(np.int64),
                vec_col: [np.asarray(v, dtype=np.float32) for v in qpdf[vec_col]],
            }
        )

    return _collected_probe(
        lambda qpdf: knn_graph_layered2(
            index, float32_queries(qpdf), k, nprobe1=nprobe1,
            nprobe2=nprobe2, beam=beam, rounds=rounds, n_entry=n_entry,
            vec_col=vec_col,
        )
    )


def ivfpq_probe_fn(
    spark,
    index,
    base=None,
    k: int = 10,
    nprobe: int = 8,
    mult: int = 5,
    vec_col: str = "embedding",
):
    """A DynamicBatcher probe_fn over an IVF-PQ index (fused refined
    probe when the layout keeps vectors, shortlist+join otherwise —
    knn_ivfpq_refined picks): merged pandas batch -> Spark frame ->
    probe -> collected pandas. The same by-design driver-sized result
    collect as layered2_probe_fn; the batcher is family-agnostic slot
    arithmetic, so generalizing costs only this wrapper (VERDICT r14
    item 4 — the reference's multi-tenant experiment spans backends,
    multi_tenant_script.py:130-136)."""
    from cs598vectordb_spark.operators.ivfpq import knn_ivfpq_refined

    return _collected_probe(
        lambda qpdf: knn_ivfpq_refined(
            index, base, _spark_queries(spark, qpdf, vec_col), k=k,
            nprobe=nprobe, mult=mult, vec_col=vec_col,
        )
    )


def probe_fn_for(
    spark,
    family: str,
    index,
    base=None,
    k: int = 10,
    vec_col: str = "embedding",
    **probe_kwargs,
):
    """Probe-fn factory keyed on the index family — the one switch the
    batching layer needs to span backends."""
    if family == "graph2":
        return layered2_probe_fn(
            spark, index, k=k, vec_col=vec_col, **probe_kwargs
        )
    if family == "ivfpq":
        return ivfpq_probe_fn(
            spark, index, base, k=k, vec_col=vec_col, **probe_kwargs
        )
    raise ValueError(f"unknown index family for batched serving: {family!r}")


def multi_tenant_batched(
    spark,
    base,
    index,
    n_clients: int = 4,
    n_queries: int = 50,
    k: int = 10,
    max_wait_ms: float = 25.0,
    probe_kwargs: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    family: str = "graph2",
):
    """W3 with dynamic batching: N concurrent clients submit their
    query frames through ONE DynamicBatcher over a shared index of
    the given `family` (layered2 graph or IVF-PQ). Returns a summary
    DataFrame (one row): clients, submits, probe_calls (the batching
    evidence: < submits when co-arrivals merged), sum_qps,
    avg_latency_ms, and recall vs the exact oracle (identical for
    every tenant by construction — same queries, same index).
    Rows-only by nature (wall-clock); result-equality with solo
    probes is the pytest pin (tests/test_serving.py)."""
    from concurrent.futures import ThreadPoolExecutor

    from cs598vectordb_spark.operators.knn import knn_exact
    from cs598vectordb_spark.operators.metrics import recall_at_k

    probe_kwargs = probe_kwargs or {}
    qdf = (
        base.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_queries)
        .withColumnRenamed(id_col, "q_id")
    )
    qpdf = qdf.toPandas()
    batcher = DynamicBatcher(
        probe_fn_for(
            spark, family, index, base, k=k, vec_col=vec_col, **probe_kwargs
        ),
        max_wait_ms=max_wait_ms,
    )

    def client(i: int) -> tuple[float, pd.DataFrame]:
        t0 = time.time()
        out = batcher.submit(qpdf)
        return max(time.time() - t0, 1e-9), out

    with ThreadPoolExecutor(max_workers=n_clients) as pool:
        results = list(pool.map(client, range(n_clients)))
    walls = [w for w, _ in results]

    one = spark.createDataFrame(results[0][1])
    truth = knn_exact(base, qdf, k)
    rec = recall_at_k(one, truth, k).collect()[0]["recall"]
    return spark.createDataFrame(
        [
            (
                n_clients,
                n_queries,
                batcher.n_submits,
                batcher.n_probe_calls,
                round(sum(n_queries / w for w in walls), 1),
                round(1000.0 * sum(walls) / len(walls), 1),
                rec,
            )
        ],
        "n_clients int, n_queries int, n_submits int, n_probe_calls int, "
        "sum_qps double, avg_latency_ms double, avg_recall double",
    )
