"""ANN-index + workload queries() entries (SURVEY.md §2.3 T2/T4, §2.5).

These are the genuinely non-SQL-expressible ops (seeded k-means
centroids, graph adjacency, wall-clock metrics) — registered without
oracle_sql, so the driver records the weaker rows-only check. Their
correctness contract lives in tests/test_index.py: recall floors vs the
exact oracle (≥0.70, the reference's Annoy floor; autotuned target 0.9 —
BASELINE.md) and protocol invariants (recall returns to baseline after
insert, phases ordered).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, DEFAULT_N_QUERIES
from cs598vectordb_spark.operators import workloads
from cs598vectordb_spark.operators.index import build_ivf_index, knn_ivf
from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.metrics import (
    phase_regions,
    recall_at_k,
    summary_last5,
    tenant_summary,
)
from cs598vectordb_spark.registry import register
from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings

_K = DEFAULT_K
_NQ = DEFAULT_N_QUERIES


def _setup(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb, queries_from_embeddings(emb, _NQ)


# ---- warm index registry -------------------------------------------------
# An index IS a materialized table: build once per (session, sf_dir,
# params), probe many times. Round 1's registered queries rebuilt their
# index inside every call, so the bench charged k-means/hashing/parquet
# writes to every probe (VERDICT round 1: knn_ivf_materialized 4.6s of
# which the probe is milliseconds). The cache is keyed by applicationId so
# a restarted session never sees another session's unresolvable plans.

_WARM: dict[tuple, object] = {}


def _warm(spark: SparkSession, key_parts: tuple, builder):
    key = (spark.sparkContext.applicationId,) + key_parts
    idx = _WARM.get(key)
    if idx is None:
        idx = builder()
        _WARM[key] = idx
    return idx


def ivf_index_for(spark: SparkSession, sf_dir: str, nlist: int = 16, mllib: bool = False):
    def build():
        emb, _ = _setup(spark, sf_dir)
        if mllib:
            from cs598vectordb_spark.operators.index import build_ivf_index_mllib

            idx = build_ivf_index_mllib(emb, nlist=nlist)
        else:
            idx = build_ivf_index(emb, nlist=nlist)
        idx.assigned = idx.assigned.persist()
        idx.assigned.count()
        return idx

    return _warm(spark, ("ivf", sf_dir, nlist, mllib), build)


def ivf_materialized_for(spark: SparkSession, sf_dir: str, nlist: int = 16):
    import os as _os

    from cs598vectordb_spark.operators.index import materialize_ivf
    from cs598vectordb_spark.queries_sources import _io_dir

    def build():
        return materialize_ivf(
            build_ivf_index(load_table(spark, sf_dir, "embeddings"), nlist=nlist),
            _os.path.join(_io_dir(sf_dir, "ivf_index"), "t"),
        )

    return _warm(spark, ("ivf_materialized", sf_dir, nlist), build)


def layered_graph2_for(
    spark: SparkSession, sf_dir: str, nlist1: int = 4, nlist2: int = 4, degree: int = 16
):
    """Layered graph over the ivf2 two-level coarse layer — segment count
    scales as nlist1·nlist2 while the driver holds only nlist1 centroids
    (no driver-sized top layer caps the segment count)."""
    from cs598vectordb_spark.operators.graph import build_layered_graph2

    def build():
        emb, _ = _setup(spark, sf_dir)
        return build_layered_graph2(emb, nlist1=nlist1, nlist2=nlist2, degree=degree)

    return _warm(spark, ("layered_graph2", sf_dir, nlist1, nlist2, degree), build)


def warm_indexes(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every index artifact the headline queries probe, returning
    per-artifact build seconds — bench.py calls this before its timed
    region so probe latency is measured the way the reference measures it
    (index built once before the search loop, dynamic_script_faiss.py:31)."""
    import time as _time

    out: dict[str, float] = {}
    for name, fn in (
        ("ivf_build", lambda: ivf_index_for(spark, sf_dir)),
        ("ivf_materialize", lambda: ivf_materialized_for(spark, sf_dir)),
        ("ivfpq_build", lambda: ivfpq_index_for(spark, sf_dir)),
        ("layered_graph2_build", lambda: layered_graph2_for(spark, sf_dir)),
        # the served headline probe reads these on-disk artifacts; build
        # them here so its timed number is probe-only like the others
        ("graph2_materialize", lambda: graph2_materialized_for(spark, sf_dir)),
    ):
        t0 = _time.time()
        fn()
        out[name] = round(_time.time() - t0, 3)
    return out


@register("knn_ivf")
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/Q2: IVF partition-pruned kNN (nlist=16, nprobe=8 — scans ~50%
    of lists, the reference's nprobe/nlist knob)."""
    idx = ivf_index_for(spark, sf_dir, nlist=16)
    _, q = _setup(spark, sf_dir)
    return knn_ivf(idx, q, k=_K, nprobe=8).select("q_id", "rank", "vec_id")


@register("knn_ivf_materialized")
def q_knn_ivf_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 on-disk: the assigned table written PARTITIONED BY centroid_id
    and probed through parquet PartitionFilters — identical rows to
    knn_ivf, but the scan reads only the nprobe/nlist probed lists
    (verified by tests/test_plans.py)."""
    _, q = _setup(spark, sf_dir)
    idx = ivf_materialized_for(spark, sf_dir, nlist=16)
    return knn_ivf(idx, q, k=_K, nprobe=8).select("q_id", "rank", "vec_id")


@register("ivf_recall")
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, q = _setup(spark, sf_dir)
    idx = ivf_index_for(spark, sf_dir, nlist=16)
    return recall_at_k(knn_ivf(idx, q, _K, nprobe=8), knn_exact(emb, q, _K), _K)


@register("bench_loop")
def q_bench_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: bounded steady-state search loop — per-interval qps/latency/
    recall rows (dynamic_script_faiss.py:31-43). Recall is deterministic
    (exact backend ⇒ 1.0); wall-clock columns vary, so rows-only check."""
    emb, q = _setup(spark, sf_dir)
    return workloads.bench_loop(spark, emb, q, backend="exact", intervals=3)


@register("dynamic_protocol")
def q_dynamic_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: per-(backend, update_pct) mean qps/latency/recall of the last 5
    intervals — the reference's summary table (dynamic_script_faiss.py:
    119-125). Wall-clock values vary run to run; shape and recall column
    are the stable contract."""
    emb, q = _setup(spark, sf_dir)
    m = workloads.dynamic_protocol(
        spark, emb, q, backend="exact", update_percents=[50], intervals_per_phase=2
    )
    return summary_last5(m)


@register("recall_degradation")
def q_recall_degradation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline dynamic artifact: recall-degradation
    curves across update cycles at update_percents=[25,50,75] on the
    engine's incremental graph index (layered2),
    in the results_summary shape of dynamic_script_faiss.py:68-73,
    120-125 plus the post-delete dip column. Recovery invariant
    (final_recall >= baseline - 0.02) pinned in
    tests/test_updates_metrics.py; wall-clock columns vary → rows-only."""
    emb, q = _setup(spark, sf_dir)
    return workloads.recall_degradation(
        spark, emb, q.limit(20), backends=["graph2"]
    )


@register("dynamic_phase_regions")
def q_dynamic_phase_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: interval spans per phase from the same protocol run."""
    emb, q = _setup(spark, sf_dir)
    m = workloads.dynamic_protocol(
        spark, emb, q, backend="exact", update_percents=[50], intervals_per_phase=2
    )
    return phase_regions(m)


@register("plot_series")
def q_plot_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 analog (plots.py:47-95): run the W1 loop on two backends, fold
    the per-interval QPS into comparison-chart rows (CSV series + Unicode
    sparkline), and persist them through the chart sink. Wall-clock values
    → rows-only check; the artifact shape is the contract."""
    import os as _os

    from cs598vectordb_spark.operators.metrics import comparison_chart
    from cs598vectordb_spark.queries_sources import _io_dir
    from cs598vectordb_spark.sources.logs import write_series_chart

    emb, q = _setup(spark, sf_dir)
    m = workloads.bench_loop(spark, emb, q, backend="exact", intervals=3).unionByName(
        workloads.bench_loop(spark, emb, q, backend="ivf", intervals=3)
    )
    chart = comparison_chart(m, value_col="qps")
    write_series_chart(chart, _os.path.join(_io_dir(sf_dir, "plot_series"), "chart"))
    return chart


@register("dynamic_overlap")
def q_dynamic_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/exclusive=false: the reference's search-DURING-update mode
    (dynamic_script_faiss.py:75-117, BASELINE.md's −52%-QPS-during-rebuild
    FAISS row). Snapshot rebuilds run in a background thread while the
    search loop measures against the serving snapshot; rows tagged
    phase='during_delete'/'during_insert' carry the contention QPS."""
    emb, q = _setup(spark, sf_dir)
    return workloads.dynamic_protocol(
        spark, emb, q, backend="exact", update_percents=[50],
        intervals_per_phase=2, exclusive=False,
    )


@register("dynamic_overlap_ivf")
def q_dynamic_overlap_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/exclusive=false with an INDEX backend: during-update intervals
    probe the serving IVF index while the new snapshot's k-means index
    REBUILDS in a background thread — the faithful rendering of the
    reference's search-during-HNSW-rebuild headline
    (dynamic_script_faiss.py:75-117, BASELINE.md −52% FAISS row)."""
    emb, q = _setup(spark, sf_dir)
    return workloads.dynamic_protocol(
        spark, emb, q, backend="ivf", update_percents=[50],
        intervals_per_phase=2, exclusive=False,
    )


@register("dynamic_overlap_graph2")
def q_dynamic_overlap_graph2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/exclusive=false on the HIERARCHICAL layered graph: incremental
    maintenance with no driver-sized assignment anywhere — deletes
    semi-join; inserts pick their L2 sub-cell via a distributed join
    against the L2 table and repair only touched segments. The dynamic
    story now covers the index whose segment count scales past any
    driver-resident centroid matrix."""
    emb, q = _setup(spark, sf_dir)
    return workloads.dynamic_protocol(
        spark, emb, q, backend="graph2", update_percents=[50],
        intervals_per_phase=2, exclusive=False,
    )


@register("multi_tenant")
def q_multi_tenant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: tenant scaling summary (mean latency/qps, sum-qps throughput,
    mean recall per client count) at the reference's client scale
    (10..50 clients, multi_tenant_script.py:121)."""
    emb, q = _setup(spark, sf_dir)
    m = workloads.multi_tenant(
        spark, emb, q, backend="exact", client_counts=[10, 20, 30, 40, 50]
    )
    return tenant_summary(m)


@register("multi_tenant_graph")
def q_multi_tenant_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 against a served ANN index (the reference's actual setup — N
    clients share one FAISS index, multi_tenant_script.py:121-180): the
    layered2 graph builds once, then 10/30 concurrent clients probe it
    unbatched under the FAIR scheduler; per-client-count mean
    latency/qps + summed throughput, recall column from the shared
    exact truth."""
    emb, q = _setup(spark, sf_dir)
    m = workloads.multi_tenant(
        spark, emb, q, backend="graph2", client_counts=[10, 30]
    )
    return tenant_summary(m)


@register("multi_tenant_batched")
def q_multi_tenant_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 with DYNAMIC BATCHING (r14): concurrent tenants' query frames
    that co-arrive within a short window merge into ONE probe of the
    shared layered2 index and the results are split back per tenant —
    the model-serving remedy for the measured 1M saturation (per-probe
    fixed driver work flattens sum-QPS at ~250 while a single big
    batch serves 536; see operators/serving.py). Summary row carries
    n_submits vs n_probe_calls (the merge evidence) next to sum_qps /
    latency / recall. Rows-only (wall-clock by nature); per-tenant
    result rows pinned EQUAL to solo probes and merge accounting
    pinned in tests/test_serving.py."""
    from cs598vectordb_spark.operators.serving import multi_tenant_batched

    emb, _ = _setup(spark, sf_dir)
    return multi_tenant_batched(
        spark, emb, layered_graph2_for(spark, sf_dir),
        n_clients=8, n_queries=50,
        probe_kwargs=dict(nprobe1=2, nprobe2=6, beam=24),
    )


@register("multi_tenant_batched_ivfpq")
def q_multi_tenant_batched_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 dynamic batching over the IVF-PQ FUSED family (r15): the same
    DynamicBatcher (slot arithmetic is family-agnostic) wrapping the
    fused refined probe — the reference's multi-tenant experiment spans
    backends (multi_tenant_script.py:130-136), so the engine's batching
    remedy must too, not just the graph family. Rows-only (wall-clock);
    per-tenant result rows pinned EQUAL to solo fused probes in
    tests/test_serving.py::test_batched_ivfpq_matches_solo."""
    from cs598vectordb_spark.operators.serving import multi_tenant_batched

    emb, _ = _setup(spark, sf_dir)
    return multi_tenant_batched(
        spark, emb, ivfpq_index_for(spark, sf_dir),
        n_clients=8, n_queries=50, family="ivfpq",
        probe_kwargs=dict(nprobe=8, mult=5),
    )


@register("knn_filtered_adaptive")
def q_knn_filtered_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN with ADAPTIVE per-query deepening (r15) — the
    upgrade over the fixed-expansion `knn_graph2_filtered`: that entry
    provisions every query for the worst case (expand 15 ⇒ 150
    candidates each) and can still silently return < k rows when a
    query's filtered neighborhood is sparse; this one starts cheap
    (expand 4) and re-probes ONLY the queries left short of k, with
    expand ×4 / nprobe2 ×2 / beam ×2 per round. At 100 TB the
    difference is the whole cost model: fixed expansion charges the
    p99 query's probe depth to all of them, adaptive charges it to the
    queries that need it. The predicate never materializes a filtered
    base copy — each round is a partition-pruned graph probe plus one
    broadcast join of the driver-sized candidate list against the
    predicate-pushed-down id scan. Rows-only (approximate); recall
    floor vs the exact filtered truth, predicate purity, k-fulfilment
    where matches exist, and the deepening trigger pinned in
    tests/test_index.py::test_knn_filtered_adaptive."""
    from cs598vectordb_spark.operators.graph import knn_graph_layered2_filtered

    emb, q = _setup(spark, sf_dir)
    return knn_graph_layered2_filtered(
        layered_graph2_for(spark, sf_dir), q,
        allowed=emb.filter(F.col("label") == 3),
        k=10, expand=4, max_deepen=2,
        nprobe1=2, nprobe2=6, beam=24,
    )


@register("knn_graph_layered2")
def q_knn_graph_layered2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2/hierarchical layered graph: the layered walk behind ivf2's
    two-level pruner. L1 is the only driver-resident centroid matrix;
    the probed cells' L2 rows come off the distributed L2 table as a
    bounded collect (nprobe1·nlist2 rows), so segment count — and with
    it base size — scales past any driver-sized top layer. The probed
    segments are walked by the exchange-free kernel and merged by a
    single window."""
    from cs598vectordb_spark.operators.graph import knn_graph_layered2

    _, q = _setup(spark, sf_dir)
    idx = layered_graph2_for(spark, sf_dir)
    return knn_graph_layered2(
        idx, q, k=_K, nprobe1=4, nprobe2=12, beam=32, rounds=4, n_entry=12
    ).select("q_id", "rank", "vec_id")


def graph2_materialized_for(
    spark: SparkSession,
    sf_dir: str,
    pinned: bool = True,
    nlist1: int = 4,
    nlist2: int = 4,
):
    """The on-disk layered2 index (segments partitioned by segment_id
    under /tmp, distributed L2 table, driver-sized L1 sidecar), built
    once per (session, sf_dir, segmentation) — shared by the registered
    query below and bench.py's probe-side scan-fraction measurement.

    pinned=False opens the artifacts in cold-serving mode (no cache,
    no repartition — probes partition-prune the parquet scan) — the
    larger-than-memory index regime; see operators.graph.open_layered2.
    `pinned` is part of the warm key AND threads through the build, so
    requesting only the cold mode never shuffles/persists a full
    cached copy it is not going to use (review finding r11); it is
    ALSO part of the on-disk path (ADVICE r11): requesting both
    serving modes at the same segmentation must not rebuild into the
    directory the other mode's already-open index is still reading
    part files from. The bench measurement passes a FINER segmentation
    (8×8) than the registered query's 4×4: with 16 segments a 5-query
    probed union covers every partition and pruning has nothing to
    skip — the same batch-size caveat the IVF scan measurements
    document."""
    import os as _os

    from cs598vectordb_spark.operators.graph import materialize_layered2

    path = _os.path.join(
        "/tmp/cs598_spark_io",
        _os.path.basename(sf_dir.rstrip("/")),
        f"graph2_mat_{nlist1}x{nlist2}_{'pinned' if pinned else 'cold'}",
    )

    def build():
        idx = layered_graph2_for(spark, sf_dir, nlist1=nlist1, nlist2=nlist2)
        return materialize_layered2(idx, path, pinned=pinned)

    return _warm(
        spark, ("layered_graph2_mat", sf_dir, nlist1, nlist2, pinned), build
    )


@register("knn_graph2_materialized")
def q_knn_graph2_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index of record served FROM DISK: layered2 persisted
    (segments partitioned by segment_id, distributed L2 table,
    driver-sized L1 sidecar) and reopened; probes identical to the
    fresh index — round-trip exactness pinned in tests/test_index.py.
    Deterministic but graph-structure-dependent → rows-only."""
    from cs598vectordb_spark.operators.graph import knn_graph_layered2

    _, q = _setup(spark, sf_dir)
    opened = graph2_materialized_for(spark, sf_dir)
    return knn_graph_layered2(opened, q, _K, nprobe1=4, nprobe2=12, beam=32).select(
        "q_id", "rank", "vec_id"
    )


def graph2_served_for(spark: SparkSession, sf_dir: str):
    """The materialized layered2 index opened in WORKER-SERVED mode,
    built once per (session, sf_dir) — shared by the batch and
    streaming served queries."""
    import os as _os

    from cs598vectordb_spark.operators.graph import open_layered2

    def build():
        graph2_materialized_for(spark, sf_dir)  # ensure artifacts exist
        path = _os.path.join(
            "/tmp/cs598_spark_io",
            _os.path.basename(sf_dir.rstrip("/")),
            "graph2_mat_4x4_pinned",
        )
        return open_layered2(spark, path, served=True)

    return _warm(spark, ("layered_graph2_served", sf_dir, 4, 4), build)


@register("knn_graph2_served")
def q_knn_graph2_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index of record in WORKER-SERVED mode (r13): the probe plan
    ships only the probed (segment_id) list + the query broadcast, and
    reused Python workers pyarrow-read and LRU-cache their segments'
    decoded arrays straight from the materialized index path — zero
    per-batch payload transfer at steady state (the Spark-native
    analog of hnswlib's resident graph, /root/reference/
    dynamic_script_faiss.py:53-57). Results are bit-identical to the
    pinned probe (pinned in tests/test_index.py::
    test_graph2_served_matches_pinned) → rows-only by the same
    graph-structure-dependence as knn_graph2_materialized."""
    from cs598vectordb_spark.operators.graph import knn_graph_layered2

    _, q = _setup(spark, sf_dir)
    opened = graph2_served_for(spark, sf_dir)
    return knn_graph_layered2(opened, q, _K, nprobe1=4, nprobe2=12, beam=32).select(
        "q_id", "rank", "vec_id"
    )


@register("knn_graph2_filtered")
def q_knn_graph2_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN on the hierarchical index — the post-filter-with-
    expansion strategy filtered-HNSW engines use when the predicate is
    too broad to pre-filter (pre-filtering the base would invalidate the
    prebuilt graph's edge structure): probe for k·expansion candidates
    (labels are ~10% selective, expansion 15 ⇒ ~15 expected survivors
    for k=10), join the predicate, re-rank, keep top-k. Every result
    satisfies the predicate by construction; recall vs the exact
    filtered oracle is floored in tests/test_index.py. For NEEDLE
    predicates the right plan flips to the pushdown-filtered exact
    kernel (knn_filtered) — the engine serves both regimes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cs598vectordb_spark.operators.graph import knn_graph_layered2

    emb, q = _setup(spark, sf_dir)
    idx = layered_graph2_for(spark, sf_dir)
    cand = knn_graph_layered2(idx, q, k=15 * _K, nprobe1=4, nprobe2=12, beam=32)
    labeled = cand.join(emb.select("vec_id", "label"), "vec_id").filter(
        F.col("label") == 3
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        labeled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select("q_id", "rank", "vec_id")
    )


@register("graph2_autotune")
def q_graph2_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 for the index of record: (nprobe1, nprobe2, beam) sweep on the
    layered2 graph; the chosen config is the cheapest (selectivity, then
    beam) clearing 0.9 recall — MRPT's build_autotune_sample(0.9, 10)
    re-expressed for the hierarchical graph
    (/root/reference/dynamic_script_mrpt.py:44-47). Deterministic on a
    fixed index → rows-only; the recall floor is pinned in
    tests/test_index.py."""
    from cs598vectordb_spark.operators.graph import autotune_layered2

    emb, q_full = _setup(spark, sf_dir)
    q = q_full.limit(20)
    truth = knn_exact(emb, q, _K)
    _, trace = autotune_layered2(
        layered_graph2_for(spark, sf_dir), q, truth, target_recall=0.9, k=_K
    )
    return spark.createDataFrame(
        [
            (t["nprobe1"], t["nprobe2"], t["beam"], t["recall"], t["selectivity"])
            for t in trace
        ],
        "nprobe1 int, nprobe2 int, beam int, recall double, selectivity double",
    )


@register("knn_ivf_mllib")
def q_knn_ivf_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 with MLlib-trained centroids: distributed KMeans over the full
    base (the no-sample path for 100 TB bases), same probe plan."""
    _, q = _setup(spark, sf_dir)
    idx = ivf_index_for(spark, sf_dir, nlist=16, mllib=True)
    return knn_ivf(idx, q, k=_K, nprobe=8).select("q_id", "rank", "vec_id")


@register("ivf_autotune")
def q_ivf_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/IVF: nprobe sweep trace — recall vs fraction of lists touched;
    the chosen config is the cheapest clearing 0.9 (MRPT's target)."""
    from cs598vectordb_spark.operators.index import autotune_ivf

    emb, q_full = _setup(spark, sf_dir)
    q = q_full.limit(20)
    truth = knn_exact(emb, q, _K)
    _, trace = autotune_ivf(emb, q, truth, target_recall=0.9, k=_K)
    return spark.createDataFrame(
        [(t["nlist"], t["nprobe"], t["recall"], t["selectivity"]) for t in trace],
        "nlist int, nprobe int, recall double, selectivity double",
    )


@register("stream_knn_graph2")
def q_stream_knn_graph2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed streaming kNN serving: query micro-batches probed
    against the warm hierarchical graph index inside foreachBatch — the
    online-serving architecture (one served index, arriving queries)
    with the engine's index of record instead of the exact kernel.
    Graph-structure-dependent → rows-only; drained-union recall vs exact
    is floored in tests/test_streaming.py."""
    import os as _os

    from cs598vectordb_spark.operators.graph import knn_graph_layered2
    from cs598vectordb_spark.queries_sources import _io_dir
    from cs598vectordb_spark.streaming.jobs import stream_knn

    idx = layered_graph2_for(spark, sf_dir)

    def probe(batch_df: DataFrame) -> DataFrame:
        return knn_graph_layered2(
            idx, batch_df, k=_K, nprobe1=4, nprobe2=12, beam=32
        ).select("q_id", "rank", "vec_id")

    work = _os.path.join(_io_dir(sf_dir, "stream_knn_graph2"), "run")
    return stream_knn(spark, sf_dir, work, n_splits=3, k=_K, probe=probe)


@register("stream_knn_graph2_served")
def q_stream_knn_graph2_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online serving over the WORKER-SERVED index — the steady-state
    regime serving mode exists for: query micro-batches arrive and
    probe an index whose decoded segment payloads persist in the
    REUSED worker processes across micro-batches, so every batch after
    the first ships zero index payload (hnswlib's resident-graph loop,
    dynamic_script_faiss.py:31-43, re-expressed with a bounded worker
    cache instead of mandatory full residency). Per-query independence
    makes the drained union equal the batch served probe row for row —
    pinned in tests/test_streaming.py::
    test_stream_knn_graph2_served_matches_batch → rows-only."""
    import os as _os

    from cs598vectordb_spark.operators.graph import knn_graph_layered2
    from cs598vectordb_spark.queries_sources import _io_dir
    from cs598vectordb_spark.streaming.jobs import stream_knn

    idx = graph2_served_for(spark, sf_dir)

    def probe(batch_df: DataFrame) -> DataFrame:
        return knn_graph_layered2(
            idx, batch_df, k=_K, nprobe1=4, nprobe2=12, beam=32
        ).select("q_id", "rank", "vec_id")

    work = _os.path.join(_io_dir(sf_dir, "stream_knn_graph2_served"), "run")
    return stream_knn(spark, sf_dir, work, n_splits=3, k=_K, probe=probe)


@register("multi_tenant_stream_graph2")
def q_multi_tenant_stream_graph2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 over the streaming-served hierarchical index: N concurrent
    tenants each drain an ordered query stream probed in foreachBatch
    against the ONE shared warm layered2 index — the multi-tenant
    experiment (multi_tenant_script.py:121-180) composed with the
    online-serving loop (dynamic_script_faiss.py:31-43). Per-client-count
    mean latency/qps + summed throughput; wall-clock by nature →
    rows-only (per-client sum-QPS also lands in bench detail)."""
    import os as _os

    from cs598vectordb_spark.operators.graph import knn_graph_layered2
    from cs598vectordb_spark.queries_sources import _io_dir

    idx = layered_graph2_for(spark, sf_dir)

    def probe(batch_df: DataFrame) -> DataFrame:
        return knn_graph_layered2(
            idx, batch_df, k=_K, nprobe1=4, nprobe2=12, beam=32
        ).select("q_id", "rank", "vec_id")

    m = workloads.multi_tenant_stream(
        spark,
        sf_dir,
        probe,
        _os.path.join(_io_dir(sf_dir, "mt_stream_graph2"), "run"),
        client_counts=[4, 8],
    )
    return tenant_summary(m)


def ivfpq_index_for(
    spark: SparkSession, sf_dir: str, nlist: int = 16, m: int = 16, ksub: int = 256
):
    import os as _os

    from cs598vectordb_spark.operators.ivfpq import build_ivfpq
    from cs598vectordb_spark.queries_sources import _io_dir

    def build():
        # keep_vectors: the refined probe re-ranks map-side from the
        # same list-partitioned rows (operators/ivfpq.py fused path);
        # the codes-only ADC probe is unaffected — parquet column
        # pruning skips the vector column it doesn't select.
        return build_ivfpq(
            load_table(spark, sf_dir, "embeddings"),
            nlist=nlist,
            m=m,
            ksub=ksub,
            path=_os.path.join(_io_dir(sf_dir, "ivfpq_index"), "t"),
            keep_vectors=True,
        )

    return _warm(spark, ("ivfpq", sf_dir, nlist, m, ksub), build)


@register("knn_ivfpq")
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2/IVF-PQ: product-quantized residuals inside centroid-partitioned
    inverted lists with per-list ADC LUTs — the composite the native
    engines default to at scale (FAISS IndexIVFPQ; Milvus IVF_PQ,
    multi_tenant_script.py:94-99). The encoded table is materialized
    PARTITIONED BY centroid_id so probes prune partitions (16 one-byte
    codes/row instead of 64 floats = 16× less scanned per pruned list).
    Quantized top-k is codebook-dependent → rows-only; recall floor
    pinned in tests/test_pq.py."""
    from cs598vectordb_spark.operators.ivfpq import knn_ivfpq

    _, q = _setup(spark, sf_dir)
    idx = ivfpq_index_for(spark, sf_dir)
    return knn_ivfpq(idx, q, k=_K, nprobe=8).select("q_id", "rank", "vec_id")


@register("knn_ivfpq_refined")
def q_knn_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ shortlist + exact re-rank (FAISS's IVFPQR shape), FUSED
    r12: the index stores vectors beside their codes (keep_vectors),
    so the probe kernel ADC-selects the per-(query,list) top mult·k
    and re-ranks them exactly in place — one pruned scan, one kernel,
    one top-k window, no full-base join (the r11 join form lost to
    exact brute force 8× at 100K on exactly that join's fixed cost;
    plan pinned in tests/test_plans.py::
    test_ivfpq_fused_refine_plan_single_exchange, crossover vs exact
    recorded at 1M in bench detail large_base_1m)."""
    from cs598vectordb_spark.operators.ivfpq import knn_ivfpq_refined

    emb, q = _setup(spark, sf_dir)
    idx = ivfpq_index_for(spark, sf_dir)
    return knn_ivfpq_refined(idx, emb, q, k=_K, nprobe=8).select(
        "q_id", "rank", "vec_id"
    )


@register("dynamic_ivfpq")
def q_dynamic_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 on the IVF-PQ index with INCREMENTAL maintenance: deletes are
    one semi-join over the code lists, inserts are encoded with the
    frozen centroids/codebooks and appended to their lists — cost
    O(|delta|), never a retrain (FAISS remove_ids/add discipline). The
    exclusive settled-snapshot protocol at 50%; rows-only (codebook-
    dependent); recall recovery pinned in tests/test_updates_metrics.py."""
    emb, q = _setup(spark, sf_dir)
    return workloads.dynamic_protocol(
        spark, emb, q, backend="ivfpq", update_percents=[50], exclusive=True,
        run_id="dyn_ivfpq",
    )


@register("ivfpq_autotune")
def q_ivfpq_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/IVF-PQ: nprobe sweep for the quantized probe, raw and exact-
    re-ranked — recall vs fraction of lists scanned. The chosen serving
    config is the cheapest refined point clearing the reference's 0.9
    target where one exists (MRPT build_autotune_sample(0.9, 10),
    dynamic_script_mrpt.py:46); the trace records the full frontier so
    the codec's recall ceiling is measured, not asserted."""
    from cs598vectordb_spark.operators.ivfpq import knn_ivfpq, knn_ivfpq_refined
    from cs598vectordb_spark.operators.knn import knn_exact
    from cs598vectordb_spark.operators.metrics import recall_at_k

    emb, q_full = _setup(spark, sf_dir)
    q = q_full.limit(20)
    truth = knn_exact(emb, q, _K)
    idx = ivfpq_index_for(spark, sf_dir)
    rows = []
    for nprobe in (2, 4, 8, 16):
        raw = knn_ivfpq(idx, q, k=_K, nprobe=nprobe)
        refined = knn_ivfpq_refined(idx, emb, q, k=_K, nprobe=nprobe)
        rows.append(
            (
                nprobe,
                round(nprobe / idx.nlist, 4),
                recall_at_k(raw, truth, _K).collect()[0][0],
                recall_at_k(refined, truth, _K).collect()[0][0],
            )
        )
    return spark.createDataFrame(
        rows, "nprobe int, selectivity double, raw_recall double, refined_recall double"
    )


@register("dynamic_overlap_ivfpq")
def q_dynamic_overlap_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/exclusive=false on IVF-PQ: the search loop keeps probing the
    serving code table while the background thread applies the semi-join
    delete / frozen-codec encode-and-append insert — the reference's
    -52%-QPS-during-rebuild measurement (BASELINE.md FAISS row) on the
    quantized index, where the background work is O(delta) maintenance
    rather than a retrain."""
    emb, q = _setup(spark, sf_dir)
    return workloads.dynamic_protocol(
        spark, emb, q, backend="ivfpq", update_percents=[50],
        intervals_per_phase=2, exclusive=False, run_id="overlap_ivfpq",
    )
