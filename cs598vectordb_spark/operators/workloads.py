"""Workload protocols — the reference's experiment drivers re-expressed
as deterministic batch phases (SURVEY.md §2.5 W1-W3).

* W2 dynamic protocol (dynamic_script_faiss.py:75-117): the reference
  interleaves a background search thread with delete/insert on a shared
  index. Here phases are explicit and snapshots are immutable, so the
  same measurements (qps/latency/recall per interval, per phase) come out
  of a deterministic schedule: baseline → post-delete → post-insert.

* W3 multi-tenant (multi_tenant_script.py:121-180): N driver threads
  submit the same kNN job concurrently under the FAIR scheduler — Spark's
  equivalent of N clients sharing one index; per-client metrics aggregate
  with tenant_summary (mean latency/qps, SUM qps as throughput).

Metrics rows follow FIXTURES.md's metrics schema (phase as a column
replacing the reference's −1..−4 sentinel intervals).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, UPDATE_PERCENTS
from cs598vectordb_spark.operators import updates as upd
from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.metrics import recall_at_k

METRICS_SCHEMA = (
    "run_id string, backend string, phase string, interval int, n_queries long, "
    "qps double, latency_ms double, recall double, update_pct int, n_clients int, "
    "exclusive boolean"
)


def _build_probe(backend: str, scratch_dir: str | None = None):
    """(build, probe) dispatch by backend name — the analog of the
    reference's per-backend build/search closures
    (multi_tenant_script.py:130-136). Build runs ONCE per snapshot (the
    reference builds its index before the search loop,
    dynamic_script_faiss.py:53-57); probe is what the measured intervals
    time. For 'exact' the snapshot IS the index. `scratch_dir` switches
    the ivfpq backend to the PATH-BACKED list-partitioned layout —
    inserts then land as delta generations (the LSM chain the
    auto-compaction policy bounds) instead of in-memory regroups."""
    if backend == "exact":
        return (lambda base: base), (lambda base, idx, queries, k: knn_exact(base, queries, k))
    if backend == "ivf":
        from cs598vectordb_spark.operators.index import build_ivf_index, knn_ivf

        def build(base: DataFrame):
            idx = build_ivf_index(base, nlist=16)
            idx.assigned = idx.assigned.persist()
            idx.assigned.count()
            return idx

        return build, (lambda base, idx, queries, k: knn_ivf(idx, queries, k, nprobe=8))
    if backend == "graph2":
        from cs598vectordb_spark.operators.graph import (
            build_layered_graph2,
            knn_graph_layered2,
        )

        return (
            lambda base: build_layered_graph2(base, nlist1=4, nlist2=4, degree=16),
            lambda base, idx, queries, k: knn_graph_layered2(
                idx, queries, k, nprobe1=4, nprobe2=12, beam=32, rounds=4, n_entry=12
            ),
        )
    if backend == "ivfpq":
        from cs598vectordb_spark.operators.ivfpq import build_ivfpq, knn_ivfpq_refined

        # serve REFINED (shortlist + exact re-rank): raw ADC at nprobe=8
        # sits below the engine's ≥0.70 approximate floor on this data
        # (VERDICT r9 defect 2) — the refined probe is the configuration
        # of record, same as the static knn_ivfpq_refined entry
        def _ivfpq_build(base: DataFrame):
            # keep_vectors → the refined probe re-ranks map-side (fused
            # path) instead of joining the shortlist back to the base;
            # insert/delete maintenance carries the vector column
            # through. A scratch_dir materializes the builder's
            # list-partitioned layout so updates take the
            # tombstone/delta paths.
            path = None
            if scratch_dir is not None:
                import os as _os

                n = 0
                while _os.path.exists(
                    _os.path.join(scratch_dir, f"ivfpq_main{n}")
                ):
                    n += 1
                path = _os.path.join(scratch_dir, f"ivfpq_main{n}")
            return build_ivfpq(
                base, nlist=16, m=16, ksub=256, keep_vectors=True, path=path
            )

        return (
            _ivfpq_build,
            lambda base, idx, queries, k: knn_ivfpq_refined(
                idx, base, queries, k, nprobe=8
            ),
        )
    raise ValueError(f"unknown backend {backend}")


def _maintenance(backend: str):
    """(apply_delete, apply_insert) incremental index-maintenance closures,
    or None when the backend only supports full rebuild. The graph backend
    is the reference's core dynamic story: FAISS HNSW tombstones, NGT
    stalls minutes post-insert (logs/dynamic_updates_ngt.txt:10-13) — the
    layered index instead semi-joins deletes out (dangling edges masked at
    probe time) and repairs only the delta's segments on insert."""
    if backend == "graph2":
        from cs598vectordb_spark.operators.graph import (
            delete_from_layered2,
            insert_into_layered2,
        )

        return (
            lambda idx, keep: delete_from_layered2(idx, keep),
            lambda idx, delta: insert_into_layered2(idx, delta),
        )
    if backend == "ivfpq":
        from cs598vectordb_spark.operators.ivfpq import (
            delete_from_ivfpq,
            insert_into_ivfpq,
        )

        return (
            # deleted= engages the broadcast-tombstone path, which
            # preserves a materialized index's list-partitioned layout
            # (dynamic_protocol passes it for path-backed indexes)
            lambda idx, keep, deleted=None: delete_from_ivfpq(
                idx, keep, deleted=deleted
            ),
            lambda idx, delta: insert_into_ivfpq(idx, delta),
        )
    return None


def _apply_delete(maint, idx, keep, deleted):
    """Delete maintenance with the layout-preserving hint: a
    path-backed index gets the deleted-ids frame (broadcast tombstone,
    no re-layout) when the backend's closure accepts it; everything
    else keeps the 2-arg form."""
    if getattr(idx, "path", None) is not None:
        try:
            return maint[0](idx, keep, deleted=deleted)
        except TypeError:
            pass
    return maint[0](idx, keep)


def _close_index(idx) -> None:
    """Release a superseded index's persisted state, if the backend has
    any (LayeredGraph2Index.close(); the 'exact' backend's index IS the
    snapshot DataFrame — nothing to release)."""
    close = getattr(idx, "close", None)
    if callable(close):
        close()


def _measure(search_df: DataFrame, truth: DataFrame, n_queries: int, k: int) -> tuple[float, float, float]:
    t0 = time.time()
    search_df.count()
    elapsed = max(time.time() - t0, 1e-9)
    rec = recall_at_k(search_df, truth, k).collect()[0][0]
    return n_queries / elapsed, elapsed * 1000.0, rec


def dynamic_protocol(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    backend: str = "exact",
    update_percents: list[int] | None = None,
    intervals_per_phase: int = 2,
    k: int = DEFAULT_K,
    run_id: str = "run0",
    exclusive: bool = True,
    scratch_dir: str | None = None,
    chain: bool = False,
    auto_compact_every: int | None = None,
) -> DataFrame:
    """W2: measure → delete pct → measure → insert → measure, per pct.
    Returns the metrics table. Recall is scored against the *baseline*
    truth, reproducing the reference's fixed ground-truth scoring
    (gt loaded once, dynamic_script_faiss.py:21).

    `exclusive` mirrors the reference's two protocol modes
    (dynamic_script_faiss.py:75-117):

    * exclusive=True — searches and updates alternate; every interval
      sees a settled snapshot (deterministic, the oracle-friendly mode).
    * exclusive=False — each update phase MATERIALIZES the new snapshot
      (parquet write) AND builds its index in a background thread while
      the search loop keeps PROBING the still-serving index of the
      previous snapshot; those intervals are tagged phase='during_delete'/
      'during_insert'. The qps dip in during-rows vs baseline is the
      engine's analog of the reference's −52%-QPS-during-rebuild headline
      (BASELINE.md FAISS row) — and with an index backend the background
      work is a genuine index rebuild (k-means/hashing), not just a file
      copy. Requires concurrent job scheduling — FAIR in the engine's
      session builder; under a FIFO session the during-rows still
      measure, serialized behind rebuild stages.

    The serving index is built ONCE per settled snapshot; measured
    intervals are probe-only, matching the reference's loop (index built
    before the search thread starts, dynamic_script_faiss.py:53-57).

    `chain=True` turns the per-pct sweep into an ENDURANCE run: each
    cycle's post-insert index becomes the next cycle's serving index
    (the reference loops updates against one live index,
    dynamic_script_faiss.py:75-117) instead of re-deriving every pct
    from the pristine baseline. With the path-backed ivfpq backend
    (scratch_dir set) each chained cycle appends one delta generation —
    the LSM chain — and `auto_compact_every=K` applies the
    auto_compact_ivfpq policy after each insert, folding the chain
    whenever it reaches K generations; compactions are recorded as
    measured 'post_compact' phases (the value-identity of the fold is
    pinned in tests/test_pq.py and tests/test_updates_metrics.py).
    """
    import os
    import tempfile
    from concurrent.futures import ThreadPoolExecutor as _TPE

    update_percents = update_percents or UPDATE_PERCENTS
    if scratch_dir is None and (not exclusive or auto_compact_every):
        os.makedirs("/tmp/cs598_spark_io", exist_ok=True)
        scratch_dir = tempfile.mkdtemp(prefix="dyn_", dir="/tmp/cs598_spark_io")
    build, probe = _build_probe(backend, scratch_dir)
    maint = _maintenance(backend)
    n_q = queries.count()
    truth = knn_exact(base, queries, k).cache()
    truth.count()

    rows = []
    interval = 0

    def record(phase: str, pct: int, snapshot: DataFrame, idx=None) -> object:
        nonlocal interval
        if idx is None:
            idx = build(snapshot)
        for _ in range(intervals_per_phase):
            qps, lat, rec = _measure(probe(snapshot, idx, queries, k), truth, n_q, k)
            rows.append((run_id, backend, phase, interval, n_q, qps, lat, rec, pct, 1, exclusive))
            interval += 1
        return idx

    def record_during(phase: str, pct: int, serving: DataFrame, serving_idx, rebuild):
        """Probe the serving index while `rebuild()` (snapshot write +
        index build) runs concurrently; at least one interval even if the
        rebuild wins the race. Returns rebuild's result."""
        nonlocal interval
        with _TPE(max_workers=1) as ex:
            fut = ex.submit(rebuild)
            while True:
                qps, lat, rec = _measure(probe(serving, serving_idx, queries, k), truth, n_q, k)
                rows.append((run_id, backend, phase, interval, n_q, qps, lat, rec, pct, 1, exclusive))
                interval += 1
                if fut.done():
                    break
            return fut.result()

    serving_idx = record("baseline", 0, base)
    serving_snap = base
    for cycle, pct in enumerate(update_percents):
        v1 = upd.delete_tail_pct(serving_snap, pct)
        delta = upd.deleted_tail_slice(serving_snap, pct)
        idx1 = None
        if not exclusive:
            # cycle-indexed scratch paths: under chain the previous
            # cycle's snapshot is still serving, and rewriting its
            # directory would overwrite a still-lazy scan's input
            p1 = os.path.join(scratch_dir, f"del{pct}_{cycle}")

            def rebuild_del(v=v1, p=p1):
                v.write.mode("overwrite").parquet(p)
                snap = spark.read.parquet(p)
                # incremental path when the backend has one: the
                # background work is maintenance, not a full rebuild
                return snap, (maint[0](serving_idx, snap) if maint else build(snap))

            v1, idx1 = record_during("during_delete", pct, serving_snap, serving_idx, rebuild_del)
        elif maint:
            idx1 = _apply_delete(maint, serving_idx, v1, delta)
        idx1 = record("post_delete", pct, v1, idx1)
        v2 = upd.insert_rows(v1, delta)
        idx2 = None
        if not exclusive:
            p2 = os.path.join(scratch_dir, f"ins{pct}_{cycle}")

            def rebuild_ins(v=v2, p=p2, d=delta, i1=idx1):
                v.write.mode("overwrite").parquet(p)
                snap = spark.read.parquet(p)
                return snap, (maint[1](i1, d) if maint else build(snap))

            v2, idx2 = record_during("during_insert", pct, v1, idx1, rebuild_ins)
        elif maint:
            idx2 = maint[1](idx1, delta)
        idx2 = record("post_insert", pct, v2, idx2)
        if auto_compact_every and hasattr(idx2, "path"):
            from cs598vectordb_spark.operators.ivfpq import (
                IvfPqIndex,
                auto_compact_ivfpq,
            )

            if isinstance(idx2, IvfPqIndex):
                idx_c, compacted = auto_compact_ivfpq(
                    idx2, max_generations=auto_compact_every
                )
                if compacted:
                    # measured post-compaction phase: same snapshot,
                    # folded layout — value-identity is the pytest pin,
                    # the wall/recall rows are the endurance evidence
                    idx2 = record("post_compact", pct, v2, idx_c)
        if chain:
            # this cycle's settled state serves the next cycle
            stale = [i for i in (serving_idx, idx1) if i is not idx2]
            serving_idx, serving_snap = idx2, v2
        else:
            # the next pct derives from the baseline serving index —
            # this pct's maintenance chain is no longer serving
            stale = [i for i in (idx1, idx2) if i is not serving_idx]
        closed: set[int] = set()
        for s in stale:
            if s is not None and id(s) not in closed:
                closed.add(id(s))
                _close_index(s)
    _close_index(serving_idx)
    truth.unpersist()
    return spark.createDataFrame(rows, METRICS_SCHEMA)


def bench_loop(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    backend: str = "exact",
    intervals: int = 3,
    k: int = DEFAULT_K,
    run_id: str = "run0",
) -> DataFrame:
    """W1: the reference's background search loop
    (dynamic_script_faiss.py:31-43) as a bounded driver loop — re-run the
    full query batch `intervals` times against one immutable snapshot,
    appending a (qps, latency, recall) metrics row per interval. No
    threads needed: without concurrent updates the loop is just repeated
    measurement, and snapshot immutability is what the reference's
    commented-out lock failed to guarantee. The index builds once before
    the loop (as the reference's does); intervals time probes only."""
    build, probe = _build_probe(backend)
    n_q = queries.count()
    truth = knn_exact(base, queries, k).cache()
    truth.count()
    idx = build(base)
    rows = []
    for interval in range(intervals):
        qps, lat, rec = _measure(probe(base, idx, queries, k), truth, n_q, k)
        rows.append((run_id, backend, "steady", interval, n_q, qps, lat, rec, 0, 1, True))
    _close_index(idx)
    truth.unpersist()
    return spark.createDataFrame(rows, METRICS_SCHEMA)


def multi_tenant(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    backend: str = "exact",
    client_counts: list[int] | None = None,
    k: int = DEFAULT_K,
    run_id: str = "run0",
) -> DataFrame:
    """W3: for each N in client_counts, N concurrent driver threads each
    run the full query batch once against the shared snapshot — the
    reference's 10..50-client sweep (multi_tenant_script.py:121).

    Scheduler note: per-pool FAIR sharing requires spark.scheduler.mode=
    FAIR, which is a SparkContext-CREATION config — the engine's session
    builder (session.py) sets it; setting it as a local property after
    startup silently does nothing (round-1 bug). Each client thread tags
    its jobs with its own pool; under a FAIR context the pools share the
    executor fairly, under a bare FIFO context concurrency still exists
    via free task slots but large jobs can head-of-line-block."""
    client_counts = client_counts or [10, 20, 30, 40, 50]
    build, probe = _build_probe(backend)
    n_q = queries.count()
    truth = knn_exact(base, queries, k).cache()
    truth.count()
    idx = build(base)  # N clients share ONE served index, as the reference's do

    rows = []
    for n_clients in client_counts:
        def client(i: int) -> tuple[float, float, float]:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"pool{i}")
            try:
                return _measure(probe(base, idx, queries, k), truth, n_q, k)
            finally:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(max_workers=n_clients) as ex:
            results = list(ex.map(client, range(n_clients)))
        for i, (qps, lat, rec) in enumerate(results):
            rows.append(
                (run_id, backend, f"client{i}", i, n_q, qps, lat, rec, 0, n_clients, True)
            )
    _close_index(idx)
    truth.unpersist()
    return spark.createDataFrame(rows, METRICS_SCHEMA)


def recall_degradation(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    backends: list[str] | None = None,
    update_percents: list[int] | None = None,
    k: int = DEFAULT_K,
) -> DataFrame:
    """The reference's headline dynamic artifact re-expressed: per
    (backend, update_percent), the post-recovery QPS/latency/recall
    summary row — the results_summary table of
    /root/reference/dynamic_script_faiss.py:68-73,120-125 (baseline row
    at update_percent=0, then one row per percent averaging the final
    intervals after the delete+insert cycle), plus post_delete_recall so
    the degradation dip itself is visible, not only the recovery.

    Runs the exclusive (settled-snapshot, deterministic) protocol on the
    engine's incremental-maintenance indexes; the recovery invariant —
    final_recall >= baseline_recall - 0.02 — is pinned in
    tests/test_updates_metrics.py. Summary aggregation happens on the
    already-driver-sized metrics table (a few rows per phase)."""
    backends = backends or ["graph2"]
    update_percents = update_percents or UPDATE_PERCENTS

    metrics = None
    for b in backends:
        m = dynamic_protocol(
            spark, base, queries, backend=b, update_percents=update_percents,
            k=k, run_id=f"degrade_{b}", exclusive=True,
        )
        metrics = m if metrics is None else metrics.unionByName(m)

    final = (
        metrics.filter(F.col("phase").isin("baseline", "post_insert"))
        .withColumn(
            "update_percent",
            F.when(F.col("phase") == "baseline", 0).otherwise(F.col("update_pct")),
        )
        .groupBy("backend", "update_percent")
        .agg(
            F.round(F.avg("qps"), 4).alias("final_qps"),
            F.round(F.avg("latency_ms"), 4).alias("final_latency"),
            F.round(F.avg("recall"), 4).alias("final_recall"),
        )
    )
    dips = (
        metrics.filter(F.col("phase") == "post_delete")
        .groupBy("backend", F.col("update_pct").alias("update_percent"))
        .agg(F.round(F.avg("recall"), 4).alias("post_delete_recall"))
    )
    return final.join(dips, ["backend", "update_percent"], "left").orderBy(
        "backend", "update_percent"
    )


def multi_tenant_stream(
    spark: SparkSession,
    sf_dir: str,
    probe,
    work_root: str,
    client_counts: list[int] | None = None,
    k: int = DEFAULT_K,
    n_queries: int = 100,
    run_id: str = "run0",
) -> DataFrame:
    """W3 over the STREAMING serving path: N concurrent clients each run
    a full query-stream serving job (ordered micro-batches probed inside
    foreachBatch against one shared warm index — streaming.jobs.stream_knn
    with the layered2 probe) to completion, under the FAIR scheduler.
    This is the reference's multi-tenant experiment
    (multi_tenant_script.py:121-180) composed with its online-serving
    loop (dynamic_script_faiss.py:31-43): tenants are not just N copies
    of a batch job but N independent serving pipelines sharing executors
    and one resident index.

    Per-client wall covers the WHOLE serving run (micro-batch scheduling
    included — that is the cost a streaming tenant actually pays), so
    qps here is end-to-end serving throughput, lower by construction
    than the batch multi_tenant numbers. Each client drains into its own
    work dir (checkpoint/results are per-tenant state); the index stays
    shared and is the only large resident object."""
    import os

    from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings
    from cs598vectordb_spark.streaming.jobs import stream_knn

    client_counts = client_counts or [4, 8]
    base = load_table(spark, sf_dir, "embeddings")
    queries = queries_from_embeddings(base, n_queries)
    truth = knn_exact(base, queries, k).cache()
    truth.count()

    rows = []
    for n_clients in client_counts:
        def client(i: int) -> tuple[float, float, float]:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"pool{i}")
            try:
                t0 = time.time()
                res = stream_knn(
                    spark,
                    sf_dir,
                    os.path.join(work_root, f"n{n_clients}_c{i}"),
                    n_splits=3,
                    k=k,
                    n_queries=n_queries,
                    probe=probe,
                )
                res.count()
                elapsed = max(time.time() - t0, 1e-9)
                rec = recall_at_k(res, truth, k).collect()[0][0]
                return n_queries / elapsed, elapsed * 1000.0, rec
            finally:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(max_workers=n_clients) as ex:
            results = list(ex.map(client, range(n_clients)))
        for i, (qps, lat, rec) in enumerate(results):
            rows.append(
                (run_id, "stream_graph2", f"client{i}", i, n_queries, qps, lat, rec, 0, n_clients, True)
            )
    truth.unpersist()
    return spark.createDataFrame(rows, METRICS_SCHEMA)
