"""Snapshot update protocol + recall metrics (FIXTURES.md protocol)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs598vectordb_spark.operators import updates as upd
from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.metrics import per_query_recall, recall_at_k
from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings


@pytest.mark.parametrize("pct", [25, 50, 75])
def test_delete_insert_restores_v0(spark, sf_dir, pct):
    v0 = load_table(spark, sf_dir, "embeddings")
    n = v0.count()
    v1 = upd.delete_tail_pct(v0, pct)
    assert v1.count() == n - (n * pct) // 100
    v2 = upd.insert_rows(v1, upd.deleted_tail_slice(v0, pct))
    c0 = upd.snapshot_checksum(v0).collect()[0]
    c2 = upd.snapshot_checksum(v2).collect()[0]
    assert c0 == c2


def test_upsert_guard_blocks_existing(spark, sf_dir):
    v0 = load_table(spark, sf_dir, "embeddings")
    n = v0.count()
    cands = spark.range(n - 10, n + 10).select(F.col("id").alias("vec_id"))
    admitted = upd.upsert_guard(v0, cands)
    assert admitted.count() == 10
    assert admitted.agg(F.min("vec_id")).collect()[0][0] == n


def test_exact_recall_is_one(spark, sf_dir):
    """recall(knn_exact vs itself) == 1.0 — the self-consistency axiom
    (SURVEY.md §5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 20)
    truth = knn_exact(emb, q, k=10)
    assert recall_at_k(truth, truth, 10).collect()[0][0] == 1.0


def test_recall_after_restore_matches_baseline(spark, sf_dir):
    """The reference's stability signal: delete+reinsert → recall returns
    to baseline exactly (hnswlib log: 0.9811 pre and post)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 20)
    baseline = knn_exact(emb, q, k=10)
    v2 = upd.insert_rows(upd.delete_tail_pct(emb, 50), upd.deleted_tail_slice(emb, 50))
    after = knn_exact(v2, q, k=10)
    assert recall_at_k(after, baseline, 10).collect()[0][0] == 1.0


def test_per_query_recall_degrades_after_delete(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 20)
    truth = knn_exact(emb, q, k=10)
    pred = knn_exact(upd.delete_tail_pct(emb, 50), q, k=10)
    rows = per_query_recall(pred, truth, 10).collect()
    assert len(rows) == 20
    assert all(0.0 <= r.recall <= 1.0 for r in rows)
    # deleting half the base must lose at least some neighbors overall
    assert sum(r.recall for r in rows) / len(rows) < 1.0


def test_bench_loop_steady_state(spark, sf_dir):
    from cs598vectordb_spark.operators import workloads
    from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 20)
    m = workloads.bench_loop(spark, emb, q, backend="exact", intervals=2)
    rows = m.collect()
    assert len(rows) == 2
    assert all(r["recall"] == 1.0 for r in rows)  # exact backend
    assert all(r["phase"] == "steady" and r["qps"] > 0 for r in rows)


def test_merge_upsert_row_level_actions(spark):
    from cs598vectordb_spark.operators.updates import merge_upsert

    target = spark.createDataFrame(
        [(0, [1.0], 5), (1, [2.0], 6)], "vec_id long, embedding array<float>, label int"
    )
    source = spark.createDataFrame(
        [(1, [9.0], 60), (2, [3.0], 7)], "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in merge_upsert(target, source, "vec_id").collect()}
    assert out[0]._merge_action == "kept" and out[0].label == 5
    assert out[1]._merge_action == "updated" and out[1].label == 60 and out[1].embedding == [9.0]
    assert out[2]._merge_action == "inserted" and out[2].label == 7
    assert len(out) == 3


def test_recall_degradation_recovers(spark, sf_dir):
    """The reference's headline dynamic invariant (its summary rule,
    dynamic_script_faiss.py:120-122): after each delete+insert cycle at
    25/50/75%, the maintained index's recall must recover to within
    0.02 of its own baseline — incremental maintenance (semi-join
    deletes, delta-segment repair inserts) must not erode the index.
    One backend per data point to keep the test bounded; graph2 (the
    engine's incremental graph index) is the one pinned."""
    from cs598vectordb_spark.operators.workloads import recall_degradation

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 20)
    rows = recall_degradation(
        spark, emb, q, backends=["graph2"], update_percents=[25, 50, 75]
    ).collect()
    by_pct = {r.update_percent: r for r in rows}
    assert set(by_pct) == {0, 25, 50, 75}, sorted(by_pct)
    baseline = by_pct[0].final_recall
    assert baseline >= 0.85, baseline
    for pct in (25, 50, 75):
        assert by_pct[pct].final_recall >= baseline - 0.02, (
            pct, baseline, by_pct[pct].final_recall,
        )
        # the dip must actually be visible at high delete fractions:
        # scoring vs fixed gt, deleting 75% of the base necessarily
        # removes true neighbors
        if pct == 75:
            assert by_pct[pct].post_delete_recall < baseline, by_pct[pct]


def test_multi_tenant_stream_graph2_summary(spark, sf_dir):
    """The streaming-served multi-tenant sweep must produce one summary
    row per client count with near-layered2 recall at every scale (the
    shared index serves all tenants; concurrency must not corrupt or
    starve any client's drained results)."""
    import __spark_entry__ as em

    rows = {r.n_clients: r for r in em.queries()["multi_tenant_stream_graph2"](spark, sf_dir).collect()}
    assert set(rows) == {4, 8}
    for r in rows.values():
        assert r.backend == "stream_graph2"
        assert r.avg_recall >= 0.8, r
        assert r.total_qps > 0


def test_dynamic_ivfpq_recovers_recall(spark, sf_dir):
    """IVF-PQ incremental maintenance (semi-join delete, frozen-codec
    encode-and-append insert) must recover recall EXACTLY after a
    delete+insert cycle of the same rows: identical vectors re-encode to
    identical codes and the exact re-rank reads identical restored
    vectors, so post_insert == baseline bit-for-bit. The SERVED recall
    (refined probe — the configuration of record since r10) must clear
    the engine's advertised ≥0.70 approximate floor at baseline;
    post_delete sits below baseline by construction (recall scores
    against the FIXED baseline truth while half its neighbors are
    deleted — the reference's fixed-gt scoring,
    dynamic_script_faiss.py:21)."""
    import __spark_entry__ as em

    m = em.queries()["dynamic_ivfpq"](spark, sf_dir).collect()
    by_phase = {}
    for r in m:
        by_phase.setdefault(r.phase, []).append(r.recall)
    assert min(by_phase["baseline"]) >= 0.70, by_phase
    assert min(by_phase["post_delete"]) < min(by_phase["baseline"])
    assert by_phase["post_insert"] == by_phase["baseline"], by_phase


def test_plot_series_and_phase_regions_closed_form(spark):
    """Evidence pin for the rows-only plot_series / dynamic_phase_regions
    entries: on a hand-built metrics frame, the chart-as-data series CSV,
    min-max sparkline levels, and per-phase interval spans are all
    closed-form — asserted value-exactly."""
    from cs598vectordb_spark.operators.metrics import comparison_chart, phase_regions
    from cs598vectordb_spark.operators.workloads import METRICS_SCHEMA

    rows = [
        ("r", "b1", "baseline", 0, 10, 100.0, 1.0, 1.0, 50, 1, True),
        ("r", "b1", "update", 1, 10, 50.0, 2.0, 0.9, 50, 1, True),
        ("r", "b1", "update", 2, 10, 75.0, 1.5, 0.95, 50, 1, True),
        ("r", "b1", "recovered", 3, 10, 100.0, 1.0, 1.0, 50, 1, True),
    ]
    m = spark.createDataFrame(rows, METRICS_SCHEMA)

    chart = comparison_chart(m).collect()
    assert len(chart) == 1
    c = chart[0]
    assert c.series_csv == "100.0,50.0,75.0,100.0"
    # min-max scaled: 100 -> top block, 50 -> bottom, 75 -> middle
    assert c.sparkline[0] == c.sparkline[3] == "█"
    assert c.sparkline[1] == "▁"
    assert c.sparkline[1] < c.sparkline[2] < c.sparkline[0]

    spans = {
        r.phase: (r.start_interval, r.end_interval)
        for r in phase_regions(m).collect()
    }
    assert spans == {"baseline": (0, 0), "update": (1, 2), "recovered": (3, 3)}


def test_dynamic_protocol_lsm_endurance(spark, sf_dir, tmp_path):
    """Chained endurance mode (r15): repeated delete→reinsert cycles
    against ONE live path-backed IVF-PQ index (the reference loops
    updates, dynamic_script_faiss.py:75-117) accumulate delta
    generations, and auto_compact_every folds the chain when it
    reaches the threshold — recorded as a measured post_compact phase.
    The frozen codec restores identical codes every cycle, so every
    post_insert AND post_compact recall must equal the baseline's."""
    from cs598vectordb_spark.operators.ivfpq import delta_generations
    from cs598vectordb_spark.operators.workloads import dynamic_protocol
    from cs598vectordb_spark.sources.tables import queries_from_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 5)
    m = dynamic_protocol(
        spark, emb, q, backend="ivfpq",
        update_percents=[20, 20, 20], intervals_per_phase=1,
        chain=True, auto_compact_every=2, scratch_dir=str(tmp_path),
        run_id="lsm",
    ).collect()

    phases = [r.phase for r in m]
    assert phases.count("post_insert") == 3
    assert phases.count("post_compact") >= 1, (
        "policy never fired across 3 chained cycles at threshold 2"
    )
    base_rec = [r.recall for r in m if r.phase == "baseline"][0]
    for r in m:
        if r.phase in ("post_insert", "post_compact"):
            assert r.recall == base_rec, (r.phase, r.recall, base_rec)
    # the fold bounded the chain: fewer live generations than cycles
    import glob as _glob

    live = sum(
        len(delta_generations(p.rsplit("__delta", 1)[0]))
        for p in _glob.glob(str(tmp_path / "ivfpq_main0*"))
        if "__delta" not in p
    )
    assert live < 3, f"{live} generations survived 3 cycles at K=2"
