"""Physical-plan assertions — the scale claims, checked against .explain.

Each test pins a plan property the 100 TB story depends on: predicate
pushdown reaching the parquet scan, partition pruning on the IVF index
table, broadcast (not shuffle) joins on the small side, map-side top-k
before the exchange, and column pruning. A regression that silently turns
one of these into a full scan/shuffle fails here even though results stay
correct.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K
from cs598vectordb_spark.operators.index import build_ivf_index, knn_ivf, materialize_ivf
from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def emb_q(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb, queries_from_embeddings(emb, 20)


def test_predicate_pushdown_reaches_scan(spark, sf_dir, emb_q):
    emb, q = emb_q
    # a cached InMemoryRelation from another test would shadow the parquet
    # scan and hide PushedFilters — assert against the real scan
    spark.catalog.clearCache()
    df = knn_exact(emb.filter(F.col("label") == 3), q, k=DEFAULT_K)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "EqualTo(label,3)" in plan, plan


def test_ivf_partition_pruning_and_equality(spark, sf_dir, emb_q, tmp_path):
    emb, q = emb_q
    idx = build_ivf_index(emb, nlist=8)
    mat = materialize_ivf(idx, str(tmp_path / "ivf"))

    pruned = knn_ivf(mat, q, k=DEFAULT_K, nprobe=3)
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan
    # the probe list must appear as an IN filter on the partition column
    assert " IN " in plan.split("PartitionFilters", 1)[1][:400], plan

    # materialization changes bytes-read, never results
    memory = knn_ivf(idx, q, k=DEFAULT_K, nprobe=3)
    a = sorted(map(tuple, pruned.select("q_id", "rank", "vec_id").collect()))
    b = sorted(map(tuple, memory.select("q_id", "rank", "vec_id").collect()))
    assert a == b


def test_topk_uses_window_group_limit(spark, emb_q):
    emb, q = emb_q
    plan = plan_of(knn_exact(emb, q, k=DEFAULT_K))
    # map-side partial top-k before the exchange: only |parts|*|Q|*k rows shuffle
    assert "WindowGroupLimit" in plan, plan


def test_column_pruning_on_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(F.count("*").alias("n"))
    plan = plan_of(hourly)
    scan = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "props" not in scan and "value" not in scan, scan


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The union-merge as-of join must not degrade into a join+filter
    cross product: no SortMergeJoin/BroadcastNestedLoopJoin, and the only
    exchange is the per-key window partitioning."""
    from cs598vectordb_spark.operators.asof import asof_join
    from cs598vectordb_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts"
    )
    plan = plan_of(asof_join(clicks, errors, by="user_id", ts_col="ts", right_cols=["err_id"]))
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, plan
    import re

    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, (n_exchange, plan)


def test_pack_sequences_has_no_single_partition_window(spark, sf_dir):
    """The global prefix sum must stay block-distributed: exactly one
    hash exchange (the block window), never an Exchange SinglePartition —
    the classic cumsum scale trap this operator exists to avoid."""
    import re

    from cs598vectordb_spark.operators.textops import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(pack_sequences(docs, seq_len=2048, parts=32))
    assert "SinglePartition" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_acctbal_deciles_has_no_single_partition_window(spark, sf_dir):
    """ntile must come from the distributed rank (range repartition +
    per-partition offset), never a global single-partition WindowExec —
    and the values must equal the naive global-window ntile."""
    from pyspark.sql import Window

    from cs598vectordb_spark.operators.relational import acctbal_deciles

    c = load_table(spark, sf_dir, "customer")
    out = acctbal_deciles(c)
    plan = plan_of(out)
    assert "SinglePartition" not in plan, plan
    naive = (
        c.withColumn(
            "decile",
            F.ntile(10).over(Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())),
        )
        .groupBy("decile")
        .count()
    )
    got = {r["decile"]: r["n"] for r in out.collect()}
    want = {r["decile"]: r["count"] for r in naive.collect()}
    assert got == want, (got, want)


def test_stratified_sample_partitions_by_stratum(spark, sf_dir):
    from cs598vectordb_spark.operators.textops import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(stratified_sample(docs, quota=50))
    assert "SinglePartition" not in plan, plan


def test_layered_graph_probe_is_single_kernel_stage(spark, sf_dir, emb_q):
    """The layered-graph probe must reach the walk kernel WITHOUT an
    exchange (the persisted segment table is hash-partitioned on
    segment_id, satisfying the groupBy distribution) and shuffle only
    the per-segment candidates into one WindowGroupLimit merge."""
    from cs598vectordb_spark.operators.graph import build_layered_graph2, knn_graph_layered2

    emb, q = emb_q
    idx = build_layered_graph2(emb, nlist1=4, nlist2=2, degree=8)
    plan = knn_graph_layered2(idx, q, DEFAULT_K)._jdf.queryExecution().executedPlan().toString()
    probe = plan.split("InMemoryRelation")[0]  # cached build plan excluded
    assert probe.count("Exchange") == 1, probe
    assert "FlatMapGroupsInPandas" in probe
    assert "WindowGroupLimit" in probe


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    """Both sides written bucketed+sorted on the join key: with broadcast
    disabled (the 100 TB case — neither side fits an executor) the
    SortMergeJoin must consume the bucketed scans DIRECTLY, no exchange
    on either input; the only shuffle left is the final tiny segment
    agg. At small sf Catalyst rightly prefers broadcast — the registered
    query lets it; this test pins the at-scale plan."""
    import re

    from cs598vectordb_spark.queries_relational import q_bucketed_customer_orders

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(q_bucketed_customer_orders(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    join_part = plan.split("SortMergeJoin")[1]  # the join's two inputs
    assert "Exchange" not in join_part, join_part


def test_funnel_filters_push_to_scan(spark, sf_dir):
    """The funnel's per-step event_type predicates must reach the parquet
    scan as PushedFilters — at 100 TB each funnel stage reads only its
    event type's row groups, not the whole events table."""
    from cs598vectordb_spark.sources.tables import load_table

    spark.catalog.clearCache()
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stage = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    plan = plan_of(stage)
    assert "PushedFilters" in plan and "EqualTo(event_type,view)" in plan, plan


def test_compressibility_is_projection_only(spark, sf_dir):
    """The zlib quality kernel must stay a pure per-row projection — no
    Exchange anywhere in its plan (quality scoring at 100 TB must not
    shuffle the corpus)."""
    from cs598vectordb_spark.operators.textops import compressibility
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(compressibility(docs))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_range_search_is_shuffle_free_broadcast(spark, sf_dir):
    """Radius search must stay a broadcast nested-loop with the distance
    filter as the join condition: query-side head filter pushed to the
    scan, NO shuffle exchange anywhere — at 100 TB the base side streams
    through the codegen'd filter exactly once."""
    from cs598vectordb_spark.operators.knn import knn_range

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 20)
    p = plan_of(knn_range(emb, q, 1.5))
    assert "BroadcastNestedLoopJoin" in p
    assert "LessThan(vec_id,20)" in p  # query head filter reached the scan
    assert "Exchange hashpartitioning" not in p  # no shuffle at all


def test_ivfpq_partition_pruning(spark, sf_dir, emb_q, tmp_path):
    """The IVF-PQ probe's centroid_id filter must reach the materialized
    code table as PartitionFilters — unprobed lists stay unread, and the
    scanned schema is codes-only (no float vectors anywhere)."""
    from cs598vectordb_spark.operators.ivfpq import build_ivfpq, knn_ivfpq

    emb, q = emb_q
    idx = build_ivfpq(emb, nlist=8, m=16, ksub=16, path=str(tmp_path / "ivfpq"))
    plan = plan_of(knn_ivfpq(idx, q, DEFAULT_K, nprobe=2))
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "centroid_id" in pf, pf
    assert "embedding" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_pii_redact_is_projection_only(spark, sf_dir):
    """PII scrubbing at 100 TB must be a pure per-row codegen projection
    — no Exchange, no Python in the plan."""
    from cs598vectordb_spark.operators.textops import pii_redact
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(pii_redact(docs))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "codegen id" in plan, plan  # the projection runs inside WSCG


def test_semdedup_broadcasts_centroids_no_cartesian(spark, sf_dir):
    """SemDeDup's physical shape at 100 TB: the |k|-sized centroid table
    joins by BROADCAST, the pair stage is an equi-join keyed by cluster
    id (never a cartesian product), and no Python reaches the plan."""
    from cs598vectordb_spark.operators.dedup import semdedup
    from cs598vectordb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = plan_of(semdedup(emb, n_clusters=8, eps=0.01))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_repetition_scores_single_arrow_pass(spark, sf_dir):
    """Plan pin for the r12 physical strategy: the whole Gopher bank is
    ONE Arrow kernel over JVM-tokenized arrays — exactly one
    MapInPandas, zero Exchange (scales like the scan), and none of the
    interpreted sort_array HOF passes the measured-3-MB/s r11
    expression form paid (the r11 single-evaluation pin counted 11
    sort_array nodes; the honest full-output-write measurement showed
    interpreted HOFs were the bottleneck itself, so the pin's
    successor asserts their absence)."""
    from cs598vectordb_spark.operators.textops import repetition_scores
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = repetition_scores(docs)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("MapInPandas") == 1, phys
    assert "Exchange" not in phys, phys
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "sort_array" not in opt, "interpreted HOF sort passes came back"


def test_lm_surprisal_kernel_no_generate_no_rowwise_python(spark, sf_dir):
    """lm_surprisal's r19 plan class: the (doc, token) term frequencies
    come from ONE tokenstream.term_counts mapInArrow kernel — the
    r12–r18 form exploded the token stream TWICE (ReuseExchange could
    not dedup the differently-pruned tf subtrees) — so (a) the
    INTERNAL tf pipeline is a single MapInArrow with zero Generate
    nodes, and (b) the outer plan (which reads the tf localCheckpoint)
    has zero Generate nodes, no cartesian, and no row-wise Python
    (BatchEvalPython / pickled MapInPandas)."""
    from cs598vectordb_spark.functions.text import normalize_ws, tokens
    from cs598vectordb_spark.functions.tokenstream import term_counts
    from cs598vectordb_spark.operators.textops import lm_surprisal
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok_arr = F.filter(
        tokens(normalize_ws(F.col("text"))), lambda w: F.length(w) > 0
    )
    inner = plan_of(
        term_counts(
            docs.select(F.col("doc_id"), tok_arr.alias("_ws")),
            ["doc_id"],
            "_ws",
        )
    )
    assert "MapInArrow" in inner, inner
    assert "Generate" not in inner, inner

    df = lm_surprisal(docs)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Generate") == 0, phys.count("Generate")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_tfidf_keywords_kernel_no_generate(spark, sf_dir):
    """tfidf_keywords' plan class: the (doc, token) term frequencies come
    from ONE tokenstream.term_counts mapInArrow kernel (the explode form
    scanned, tokenized and exploded the corpus twice — ReuseExchange
    could not share the df branch's differently-pruned aggregate with
    the tf exchange), so the INTERNAL tf pipeline is a single MapInArrow
    and the outer executed plan, which reads the tf localCheckpoint, has
    zero Generate nodes and no cartesian."""
    from cs598vectordb_spark.functions.text import normalize_ws, tokens
    from cs598vectordb_spark.functions.tokenstream import term_counts
    from cs598vectordb_spark.operators.textops import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    inner = term_counts(
        docs.select("doc_id", tokens(normalize_ws(F.col("text"))).alias("_ws")),
        ["doc_id"],
        "_ws",
    )._jdf.queryExecution().executedPlan().toString()
    assert inner.count("MapInArrow") == 1 and "Generate" not in inner, inner

    df = tfidf_keywords(docs)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Generate") == 0, phys
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_minhash_signatures_have_no_lambdas(spark, sf_dir):
    """The MinHash signatures are one Arrow kernel, not 16 interpreted
    `transform` lambdas: no `lambdafunction` in the optimized plan of
    minhash_lsh_dedup nor of the banded candidate pairs over
    minhash_signatures (where the lambdas used to run on both sides of
    the self-join and in the pushed-down isnotnull filter), and the
    candidate plan runs the signature kernel once per side."""
    from cs598vectordb_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    opt = lambda df: df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in opt(dedup.minhash_lsh_dedup(docs))
    cand = opt(dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs, 16), 8, 2))
    assert "lambdafunction" not in cand, cand
    assert cand.count("MapInArrow") == 2, cand


def test_gated_text_queries_job_budget(spark, sf_dir):
    """Spark-job budget of the five text queries perfbench's text_curate
    runs. After one warm-up call each, every query is called once and
    written to a noop sink under its own job group at sf0.001; it must
    run no more jobs than measured when the budget was set:

        bm25_search 10, dsir_logweights 8, lm_surprisal 8,
        tfidf_keywords 7, minhash_lsh_dedup 5 (38 per pass)

    (13, 9, 9, 9, 11 = 51 before the Arrow MinHash kernel, the tfidf
    term_counts pass, bm25's one N/avgdl aggregate and load_table's
    schema cache). A re-added eager collect, a second scan or a schema
    inference job fails here. The same counts hold on the 2,000-doc
    perfbench corpus at local[2]."""
    from cs598vectordb_spark import registry
    from tests.test_index import _jobs_run

    budget = {
        "bm25_search": 10,
        "dsir_logweights": 8,
        "lm_surprisal": 8,
        "tfidf_keywords": 7,
        "minhash_lsh_dedup": 5,
    }
    qs = registry.queries()
    sink = lambda name: qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in budget:
        sink(name)
    got = {name: _jobs_run(spark, f"budget-{name}", lambda: sink(name))[1] for name in budget}
    assert all(got[n] <= budget[n] for n in budget), got


def test_dsir_broadcasts_bucket_table(spark, sf_dir):
    """DSIR's per-doc scoring joins the ≤n_buckets-row weight table by
    BROADCAST (the corpus-sized side never shuffles against it twice),
    with no cartesian and no per-row Python."""
    from cs598vectordb_spark.operators.textops import dsir_logweights
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(dsir_logweights(docs, F.col("lang") == "en"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_exact_substring_no_cartesian_no_global_window(spark, sf_dir):
    """ExactSubstr stats must stay in the hash-keyed one-kernel class:
    no cartesian pair stage, no single-partition window, and the Arrow
    extraction kernel evaluated exactly ONCE (the r12 window-count form
    replaced the agg+join-back that would re-run the kernel per
    branch). The only Python in the plan is that one kernel — the
    df count and per-doc rollup stay JVM-side."""
    from cs598vectordb_spark.operators.textops import exact_substring_stats
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(exact_substring_stats(docs, k=10))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan, plan
    # one MapInPandas NODE = two formatted-plan mentions (tree line +
    # node-detail header); the agg+join-back form this replaced showed 4
    assert plan.count("MapInPandas") == 2, plan
    assert "BatchEvalPython" not in plan


def test_mixture_sample_partitions_by_source_and_broadcasts_quota(spark, sf_dir):
    """The mixing draw shuffles ONCE (window keyed by source) and joins
    the |sources|-sized quota table by broadcast — never a shuffle join
    against the corpus."""
    from cs598vectordb_spark.operators.textops import mixture_sample
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(mixture_sample(docs, total=120))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("hashpartitioning(source") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_zvalue_is_codegen_projection(spark, sf_dir):
    """The Morton interleave must stay a pure codegen projection — a
    layout rewrite at 100 TB cannot afford Python in the z-value path."""
    from cs598vectordb_spark.operators.layout import grid_bucket, zvalue
    from cs598vectordb_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    z = zvalue(
        grid_bucket(F.col("user_id"), 400, 8),
        grid_bucket(F.col("user_id") + 7, 500, 8),
        8,
    )
    plan = plan_of(ev.select(z.alias("z")))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "codegen id" in plan, plan


def test_synthetic_queries_is_python_free_projection(spark, sf_dir):
    """The bench-scale synthetic query build (fixture head + ε-jittered
    replicas) must stay a Python-free plan: a BroadcastNestedLoopJoin of
    the base scan with a |replicas|-row range plus a codegen'd
    hash-jitter projection — no Python workers, no shuffle exchange on
    the data side (building 10× the corpus as queries cannot cost a
    repartition of the corpus)."""
    from cs598vectordb_spark.sources.tables import load_table, synthetic_queries

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(synthetic_queries(emb, 1200, 500))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_parse_metric_display_strings():
    """The SQL UI renders metrics as display strings; the parser must
    recover integer totals from counts, byte sizes with the
    total-(min,med,max) header, and plain timings."""
    from cs598vectordb_spark.functions.planmetrics import _parse_metric

    assert _parse_metric("12,489") == 12489
    assert _parse_metric("8") == 8
    two_line = (
        "total (min, med, max (stageId: taskId))\n"
        "410.1 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 5.0: task 78))"
    )
    assert _parse_metric(two_line) == int(410.1 * 1024)
    assert _parse_metric("2.5 MiB (1 MiB, 1 MiB, 1.5 MiB)") == int(2.5 * 1048576)
    assert _parse_metric("garbage") == 0


def test_executed_plan_metrics_measures_shuffles(spark, sf_dir):
    """The executed-metrics reader behind the bench shuffle-volume
    evidence: a projection's only exchange is the count's tiny
    single-partition gather, while a wide groupBy writes real shuffle
    bytes; scan rows and matched rows are consistent."""
    from cs598vectordb_spark.functions.planmetrics import executed_plan_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    narrow = executed_plan_metrics(
        emb.filter(F.col("vec_id") < 100).select("vec_id")
    )
    assert narrow["matched_rows"] == 100
    assert narrow["scan_output_rows"] >= 100
    assert narrow["files_read"] >= 1

    ev = load_table(spark, sf_dir, "events")
    wide = executed_plan_metrics(ev.groupBy("user_id", "event_type").count())
    assert wide["matched_rows"] > 10
    assert wide["shuffle_records_written"] >= wide["matched_rows"]
    assert wide["shuffle_bytes_written"] > narrow["shuffle_bytes_written"]

    # thunk form: eager actions during query CONSTRUCTION (persisted
    # intermediates — the dedup/index pattern) are part of the measured
    # region, summed across their separate SQL executions
    def build():
        inter = ev.groupBy("user_id").count().persist()
        inter.count()  # internal eager action, its own execution
        return inter.filter(F.col("count") > 0)

    th = executed_plan_metrics(build, spark=spark)
    assert th["matched_rows"] > 10
    assert th["shuffle_records_written"] >= th["matched_rows"]

    # a probe over an already-materialized cache reports under the
    # SEPARATE cached key — never into scan_output_rows, where a cold
    # cache built mid-execution would double-count with its feeding
    # parquet scan and fake a 2x read fraction
    cached = ev.select("user_id", "event_type").persist()
    cached.count()
    cm = executed_plan_metrics(cached.filter(F.col("user_id") >= 0))
    assert cm["cached_scan_output_rows"] > 0, cm
    assert cm["scan_output_rows"] == 0, cm
    cached.unpersist()


def test_ivfpq_fused_refine_plan_single_exchange(spark, emb_q):
    """The fused refined probe's scale claim (operators/ivfpq.py): with
    vectors stored beside their codes, ADC-select + exact re-rank run
    inside the probe kernel, so the WHOLE plan is scan(pruned) →
    kernel → one top-k window — exactly one Exchange and zero joins.
    The join form this replaced paid a shortlist window exchange PLUS a
    full-base join exchange, the fixed cost behind the r11 large-base
    inversion (refined probe 8× slower than exact brute force)."""
    from cs598vectordb_spark.operators.ivfpq import build_ivfpq, knn_ivfpq_refined

    import re

    def n_exchanges(plan: str) -> int:
        # formatted explain prints each node twice (tree + detail
        # block); the "(id) Exchange" detail headers count nodes once
        return len(re.findall(r"\(\d+\) Exchange", plan))

    emb, q = emb_q
    fused = build_ivfpq(emb, nlist=8, m=16, ksub=16, keep_vectors=True)
    plan = plan_of(knn_ivfpq_refined(fused, emb, q, 10, nprobe=4))
    assert n_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan
    # and the join form really does pay the extra stages it is
    # documented to pay (the comparison that justifies keep_vectors)
    plain = build_ivfpq(emb, nlist=8, m=16, ksub=16)
    jplan = plan_of(knn_ivfpq_refined(plain, emb, q, 10, nprobe=4))
    assert n_exchanges(jplan) > 1 and "Join" in jplan, jplan
    fused.close()
    plain.close()
