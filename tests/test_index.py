"""ANN index correctness: recall floors vs the exact oracle, protocol
invariants (the reference's accepted evidence, SURVEY.md §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cs598vectordb_spark.operators import workloads
from cs598vectordb_spark.operators.index import autotune_ivf, build_ivf_index, knn_ivf
from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.metrics import recall_at_k, summary_last5, tenant_summary
from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings

K = 10
NQ = 20


@pytest.fixture(scope="module")
def setup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()
    q = queries_from_embeddings(emb, NQ).cache()
    truth = knn_exact(emb, q, K).cache()
    truth.count()
    return emb, q, truth


def test_ivf_recall_floor(setup):
    emb, q, truth = setup
    idx = build_ivf_index(emb, nlist=16)
    rec = recall_at_k(knn_ivf(idx, q, K, nprobe=8), truth, K).collect()[0][0]
    assert rec >= 0.70, rec


def test_ivf_mllib_recall_floor(setup):
    """The MLlib-KMeans-trained coarse quantizer (knn_ivf_mllib's
    backend) must clear the same 0.70 floor as the custom k-means —
    the rows-only entry's evidence pin."""
    from cs598vectordb_spark.operators.index import build_ivf_index_mllib

    emb, q, truth = setup
    idx = build_ivf_index_mllib(emb, nlist=16)
    rec = recall_at_k(knn_ivf(idx, q, K, nprobe=8), truth, K).collect()[0][0]
    assert rec >= 0.70, rec


def test_ivf_full_probe_is_exact(setup):
    """nprobe == nlist degenerates to exact search (recall 1.0) — the
    IVF consistency axiom."""
    emb, q, truth = setup
    idx = build_ivf_index(emb, nlist=8)
    rec = recall_at_k(knn_ivf(idx, q, K, nprobe=8), truth, K).collect()[0][0]
    assert rec == 1.0


def test_autotune_meets_target(setup):
    """The sweep selection rule shared by every X_autotune entry: the
    chosen config clears the target and is the cheapest one that does."""
    emb, q, truth = setup
    best, trace = autotune_ivf(emb, q, truth, target_recall=0.7, k=K)
    assert best, f"no config cleared 0.7: {trace}"
    assert best["recall"] >= 0.7
    # the chosen config is the cheapest passing one
    passing = [t for t in trace if t["recall"] >= 0.7]
    assert best["selectivity"] == min(t["selectivity"] for t in passing)


def test_dynamic_protocol_recall_recovers(spark, setup):
    """Reference stability signal: post-insert recall == baseline recall
    (logs/dynamic_updates_hnswlib.txt shows 0.9811 at both ends)."""
    emb, q, _ = setup
    m = workloads.dynamic_protocol(
        spark, emb, q, backend="exact", update_percents=[50], intervals_per_phase=1
    ).cache()
    rows = {r.phase: r for r in m.collect()}
    assert rows["baseline"].recall == 1.0
    assert rows["post_insert"].recall == 1.0  # restored snapshot == v0
    assert rows["post_delete"].recall < 1.0  # half the base gone
    s = summary_last5(m).collect()
    assert len(s) >= 1


def test_dynamic_overlap_measures_during_update(spark, setup, tmp_path):
    """exclusive=False: the search loop must record at least one interval
    WHILE each snapshot rebuild runs, and settle to the same post-phase
    recalls as the exclusive protocol."""
    emb, q, _ = setup
    m = workloads.dynamic_protocol(
        spark, emb, q, backend="exact", update_percents=[50],
        intervals_per_phase=1, exclusive=False, scratch_dir=str(tmp_path),
    ).cache()
    rows = m.collect()
    phases = {r.phase for r in rows}
    assert {"during_delete", "during_insert"} <= phases
    assert all(r.exclusive is False for r in rows)
    by_phase = {r.phase: r for r in rows}
    assert by_phase["baseline"].recall == 1.0
    assert by_phase["post_insert"].recall == 1.0
    # during_delete serves the OLD (pre-delete) snapshot: recall stays 1.0
    assert by_phase["during_delete"].recall == 1.0
    assert by_phase["post_delete"].recall < 1.0


def test_multi_tenant_rows_and_throughput(spark, setup):
    emb, q, _ = setup
    m = workloads.multi_tenant(spark, emb, q, backend="exact", client_counts=[2])
    out = tenant_summary(m).collect()
    assert len(out) == 1
    row = out[0]
    assert row.n_clients == 2
    assert row.total_qps > row.avg_qps  # sum over clients exceeds mean
    assert row.avg_recall == 1.0


def test_sq8_codec_roundtrip(spark, sf_dir):
    """Codes must be in [0,255]; reconstruction error bounded by half a
    quantization step per dim."""
    from cs598vectordb_spark.operators.sq import sq_decode_error, sq_encode, train_sq
    from cs598vectordb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codec = train_sq(emb)
    enc = sq_encode(emb, codec)
    bounds = enc.selectExpr(
        "min(array_min(codes)) AS lo", "max(array_max(codes)) AS hi"
    ).first()
    assert bounds.lo >= 0 and bounds.hi <= 255
    err = sq_decode_error(emb, codec).first()
    assert err.max_abs_err <= float(codec.ranges.max()) / 255.0 / 2.0 + 1e-9
    assert err.compression_x == 4.0


def test_ivf2_coarse_layer_is_exact_means(spark, sf_dir):
    """layered2 routes on its two-level coarse layer, so pin it directly
    on build_layered_graph2's output: every row lands in an in-range
    (l1_id, l2_id) sub-list (segment_id = l1_id·nlist2 + l2_id), the
    distributed L2 table has exactly one row per non-empty sub-list, and
    each L2 centroid is the exact mean of its sub-list's vectors."""
    import numpy as np

    from cs598vectordb_spark.operators.graph import build_layered_graph2

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_layered_graph2(emb, nlist1=4, nlist2=4)
    rows = idx.segments.select("segment_id", "embedding").collect()
    assert len(rows) == emb.count()
    assert all(0 <= r.segment_id // 4 < 4 and 0 <= r.segment_id % 4 < 4 for r in rows)
    members: dict[tuple[int, int], list] = {}
    for r in rows:
        members.setdefault((r.segment_id // 4, r.segment_id % 4), []).append(r.embedding)
    table = {(r.l1_id, r.l2_id): r.centroid for r in idx.l2_table.collect()}
    assert set(table) == set(members)
    for key, vecs in members.items():
        mean = np.asarray(vecs, dtype=np.float64).mean(axis=0)
        np.testing.assert_allclose(np.asarray(table[key]), mean, rtol=0, atol=1e-6)
    idx.close()
    idx.l2_table.unpersist()


def test_layered_graph_beam_monotonicity(spark, sf_dir):
    """Property: widening the beam (and rounds) never lowers recall —
    the greedy-search monotonicity HNSW's ef parameter relies on. Checked
    across a beam ladder on the same built index."""
    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        knn_graph_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    truth = knn_exact(emb, q, K)
    idx = build_layered_graph2(emb, nlist1=4, nlist2=2, degree=8)
    recalls = []
    for beam, rounds in [(4, 2), (12, 3), (32, 4), (64, 6)]:
        recalls.append(
            recall_at_k(
                knn_graph_layered2(
                    idx, q, K, nprobe1=4, nprobe2=8, beam=beam, rounds=rounds
                ),
                truth,
                K,
            ).collect()[0][0]
        )
    assert all(b >= a - 1e-9 for a, b in zip(recalls, recalls[1:])), recalls
    idx.close()


def test_local_graph_fallbacks_approximate_exact_graph(spark, sf_dir):
    """Big-segment fallbacks must approximate the exact per-segment
    graph. Numpy level: the blocked exact builder matches brute force
    exactly; the spill-partitioned builder recovers >=0.95 of edges on
    clusterable data (its design case) at a forced tiny cell size — this
    half is what exercises spill cells. Spark level: forcing the fallback
    route end-to-end (exact_segment_rows=0) still clears the probe recall
    floor; on the fixture no segment exceeds target_cell=4096, so
    _local_partitioned_graph takes its exact branch and this half checks
    the builder's routing only."""
    import numpy as np

    from cs598vectordb_spark.operators.graph import (
        _local_knn_graph,
        _local_partitioned_graph,
        build_layered_graph2,
        knn_graph_layered2,
    )

    rng = np.random.default_rng(7)
    X = rng.standard_normal((300, 16))
    ids = np.arange(300, dtype=np.int64) * 3 + 1  # non-contiguous ids
    exact, exact_d = _local_knn_graph(X, ids, 8)
    # blocked scoring must agree with itself across block sizes (brute
    # parity is pinned by construction: one block == the full matrix)
    small_block, _ = _local_knn_graph(X, ids, 8, block=37)
    assert all(np.array_equal(a, b) for a, b in zip(exact, small_block))
    # spill-partitioned fallback on clusterable data (20 gaussian blobs)
    centers = rng.standard_normal((20, 16)) * 8.0
    Xc = centers[rng.integers(0, 20, 2000)] + rng.standard_normal((2000, 16))
    idc = np.arange(2000, dtype=np.int64)
    exact_c, _ = _local_knn_graph(Xc, idc, 8)
    part_c, _ = _local_partitioned_graph(Xc, idc, 8, spill=2, target_cell=256)
    hits_c = sum(len(set(a) & set(b)) for a, b in zip(exact_c, part_c))
    assert hits_c / (2000 * 8) >= 0.95, hits_c / (2000 * 8)

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    truth = knn_exact(emb, q, K)
    idx = build_layered_graph2(
        emb, nlist1=4, nlist2=2, degree=12, exact_segment_rows=0
    )
    rec = recall_at_k(
        knn_graph_layered2(idx, q, K, nprobe1=4, nprobe2=8, beam=32, rounds=4),
        truth,
        K,
    ).collect()[0][0]
    assert rec >= 0.85, rec
    idx.close()


def test_layered_graph2_recall_and_plan(spark, sf_dir):
    """Hierarchical layered graph (graph over ivf2): registered-parameter
    probe clears 0.9; a full probe recovers (near-)exact; the walk plan
    stays exchange-free before the kernel; and the driver never holds
    the full L2 centroid matrix — the L2 pull is a FILTERED query on the
    distributed table, bounded by nprobe1·nlist2 rows."""
    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        knn_graph_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    truth = knn_exact(emb, q, K)
    idx = build_layered_graph2(emb, nlist1=4, nlist2=4, degree=16)
    probe = knn_graph_layered2(idx, q, K, nprobe1=4, nprobe2=12, beam=32, rounds=4, n_entry=12)
    rec = recall_at_k(probe, truth, K).collect()[0][0]
    assert rec >= 0.9, rec
    full = recall_at_k(
        knn_graph_layered2(idx, q, K, nprobe1=4, nprobe2=16, beam=64, rounds=8, n_entry=16),
        truth,
        K,
    ).collect()[0][0]
    assert full >= 0.99, full
    # exchange-free walk: one Exchange at most before the kernel stage
    plan = probe._jdf.queryExecution().executedPlan().toString()
    probe_part = plan.split("InMemoryRelation")[0]
    assert probe_part.count("Exchange") == 1, probe_part
    # L2 stays distributed: the index holds a DataFrame, not a matrix,
    # and the driver-resident coarse layer is nlist1 rows only
    assert idx.l1_centroids.shape[0] == 4
    assert not hasattr(idx, "l2_centroids")
    idx.close()


def test_layered_graph2_incremental_delete_insert_recovers(spark, sf_dir):
    """Hierarchical-index maintenance: delete drops recall (tombstone
    honesty), the distributed-assignment insert repairs it back to
    baseline — without any driver-sized L2 step."""
    from cs598vectordb_spark.operators import updates as upd
    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        delete_from_layered2,
        insert_into_layered2,
        knn_graph_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    truth = knn_exact(emb, q, K)
    kw = dict(nprobe1=4, nprobe2=12, beam=32, rounds=4, n_entry=12)
    idx = build_layered_graph2(emb, nlist1=4, nlist2=4, degree=16)
    base_rec = recall_at_k(knn_graph_layered2(idx, q, K, **kw), truth, K).collect()[0][0]
    v1 = upd.delete_tail_pct(emb, 50)
    idx_del = delete_from_layered2(idx, v1)
    assert idx_del.segments.count() == v1.count()
    del_rec = recall_at_k(knn_graph_layered2(idx_del, q, K, **kw), truth, K).collect()[0][0]
    assert del_rec < base_rec, (del_rec, base_rec)
    idx_ins = insert_into_layered2(idx_del, upd.deleted_tail_slice(emb, 50))
    assert idx_ins.segments.count() == emb.count()
    ins_rec = recall_at_k(knn_graph_layered2(idx_ins, q, K, **kw), truth, K).collect()[0][0]
    assert ins_rec >= base_rec - 0.03, (ins_rec, base_rec)
    for i in (idx, idx_del, idx_ins):
        i.close()


def test_layered_graph_repeated_cycles_no_erosion(spark, sf_dir):
    """Graph quality must NOT erode across repeated delete/insert cycles:
    the repair kernel's 2-hop backfill restores degree lost to dangling
    edges, so recall after cycle 3 stays within noise of cycle 1."""
    from cs598vectordb_spark.operators import updates as upd
    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        delete_from_layered2,
        insert_into_layered2,
        knn_graph_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    truth = knn_exact(emb, q, K)
    kw = dict(nprobe1=4, nprobe2=8, beam=32, rounds=4, n_entry=12)
    idx = build_layered_graph2(emb, nlist1=4, nlist2=2, degree=12)
    base_rec = recall_at_k(knn_graph_layered2(idx, q, K, **kw), truth, K).collect()[0][0]
    recs = []
    for _ in range(3):
        v1 = upd.delete_tail_pct(emb, 30)
        prev = idx
        deleted = delete_from_layered2(idx, v1)
        idx = insert_into_layered2(deleted, upd.deleted_tail_slice(emb, 30))
        prev.close()
        deleted.close()
        recs.append(
            recall_at_k(knn_graph_layered2(idx, q, K, **kw), truth, K).collect()[0][0]
        )
    assert recs[-1] >= base_rec - 0.05, (base_rec, recs)
    # mean degree must hold up too (the direct erosion signal)
    from pyspark.sql import functions as F

    deg = idx.segments.select(F.avg(F.size("nbr_ids"))).first()[0]
    assert deg >= 10.0, deg
    idx.close()


def test_graph2_autotune_frontier(spark, sf_dir):
    """The layered2 sweep must (a) clear the 0.9 target somewhere on the
    default grid, (b) pick the cheapest clearing config under the
    (selectivity, beam) order, and (c) be monotone end-to-end: the
    largest probe config recalls at least as well as the smallest."""
    from cs598vectordb_spark.operators.graph import autotune_layered2
    from cs598vectordb_spark.queries_index import layered_graph2_for

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ).limit(20)
    truth = knn_exact(emb, q, K)
    idx = layered_graph2_for(spark, sf_dir)
    best, trace = autotune_layered2(idx, q, truth, target_recall=0.9, k=K)
    assert best, f"no config cleared 0.9: {trace}"
    assert best["recall"] >= 0.9
    clearing = [t for t in trace if t["recall"] >= 0.9]
    assert (best["selectivity"], best["beam"]) == min(
        (t["selectivity"], t["beam"]) for t in clearing
    )
    assert trace[-1]["recall"] >= trace[0]["recall"] - 0.02, trace
    assert all(0 < t["selectivity"] <= 1 for t in trace)


def test_layered2_materialize_roundtrip(spark, sf_dir, tmp_path):
    """Persist + reopen of the hierarchical index must serve IDENTICAL
    results to the freshly built index (same segments, same walk, same
    ranks), and the reopened L1/L2 metadata must match."""
    import numpy as np

    from cs598vectordb_spark.operators.graph import (
        knn_graph_layered2,
        materialize_layered2,
    )
    from cs598vectordb_spark.queries_index import layered_graph2_for

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    fresh = layered_graph2_for(spark, sf_dir)
    opened = materialize_layered2(fresh, str(tmp_path / "g2"))

    assert opened.nlist1 == fresh.nlist1 and opened.nlist2 == fresh.nlist2
    assert opened.degree == fresh.degree
    assert np.allclose(opened.l1_centroids, fresh.l1_centroids)
    assert opened.l2_table.count() == fresh.l2_table.count()

    a = knn_graph_layered2(fresh, q, K, nprobe1=4, nprobe2=12, beam=32).select(
        "q_id", "rank", "vec_id"
    )
    b = knn_graph_layered2(opened, q, K, nprobe1=4, nprobe2=12, beam=32).select(
        "q_id", "rank", "vec_id"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the reopened walk plan is still exchange-free before the kernel
    plan = b._jdf.queryExecution().executedPlan().toString()
    probe = plan.split("InMemoryRelation")[0]
    assert probe.count("Exchange") == 1, probe
    opened.segments.unpersist()


def test_graph2_cold_serving_prunes_partitions(spark, sf_dir, tmp_path):
    """The larger-than-memory serving mode (open_layered2 pinned=False,
    r11): the probe must (1) return EXACTLY the pinned-mode results,
    (2) carry the probed segment_ids into the parquet scan as
    PartitionFilters — the physical property that lets an index bigger
    than cluster storage serve from the probed partitions alone — and
    (3) with a finer segmentation than the probed union, actually skip
    partitions in the executed scan."""
    from cs598vectordb_spark.functions.planmetrics import executed_plan_metrics
    from cs598vectordb_spark.operators.graph import (
        knn_graph_layered2,
        materialize_layered2,
        open_layered2,
    )
    from cs598vectordb_spark.queries_index import layered_graph2_for

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 5)
    fresh = layered_graph2_for(spark, sf_dir, nlist1=8, nlist2=8)
    pinned = materialize_layered2(fresh, str(tmp_path / "g2cold"))
    cold = open_layered2(spark, str(tmp_path / "g2cold"), pinned=False)
    assert cold.segments.storageLevel.useMemory is False

    kw = dict(k=K, nprobe1=2, nprobe2=6, beam=32)
    a = knn_graph_layered2(pinned, q, **kw).select("q_id", "rank", "vec_id")
    b = knn_graph_layered2(cold, q, **kw)
    # every FileSourceScan prints a PartitionFilters entry (most empty);
    # anchor to the one actually carrying the probed segment_ids rather
    # than whichever scan prints first
    plan = b._jdf.queryExecution().executedPlan().toString()
    brackets = [part.split("]")[0] for part in plan.split("PartitionFilters")[1:]]
    assert any("segment_id" in br for br in brackets), brackets
    bb = b.select("q_id", "rank", "vec_id")
    assert a.exceptAll(bb).count() == 0 and bb.exceptAll(a).count() == 0

    m = executed_plan_metrics(knn_graph_layered2(cold, q, **kw))
    n = emb.count()
    assert 0 < m["scan_output_rows"] < n, m
    pinned.segments.unpersist()


def test_graph2_served_matches_pinned(spark, sf_dir, tmp_path):
    """Worker-served mode (r13) must return results BIT-IDENTICAL to
    the pinned probe — same kernel, same rows, same dists — on both the
    cold (worker pyarrow read) and warm (worker LRU cache hit) paths,
    and its plan input must be the tiny segment-id list, not the
    segment payload (no scan of the segments parquet)."""
    from cs598vectordb_spark.operators.graph import (
        knn_graph_layered2,
        materialize_layered2,
        open_layered2,
    )
    from cs598vectordb_spark.queries_index import layered_graph2_for

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    fresh = layered_graph2_for(spark, sf_dir, nlist1=8, nlist2=8)
    pinned = materialize_layered2(fresh, str(tmp_path / "g2served"))
    served = open_layered2(spark, str(tmp_path / "g2served"), served=True)
    assert served.serve_dir is not None
    assert served.segments.storageLevel.useMemory is False

    kw = dict(k=K, nprobe1=2, nprobe2=6, beam=32)
    a = knn_graph_layered2(pinned, q, **kw).orderBy("q_id", "rank").collect()
    cold = knn_graph_layered2(served, q, **kw)
    # the served plan reads only the probed segment-id LIST — the
    # segments parquet never appears as a scan relation
    plan = cold._jdf.queryExecution().executedPlan().toString()
    assert "segments" not in plan, plan
    b = cold.orderBy("q_id", "rank").collect()
    c = knn_graph_layered2(served, q, **kw).orderBy("q_id", "rank").collect()
    assert a == b, "served (cold) differs from pinned"
    assert a == c, "served (cache-hit) differs from pinned"
    pinned.segments.unpersist()


def test_graph2_served_survives_in_place_rebuild(spark, sf_dir, tmp_path):
    """An index REBUILT in place at the same path must never be served
    from a stale worker cache: the cache key carries the index's
    _EPOCH sidecar (rewritten by every materialize — store-agnostic,
    r14; mtime is only the fallback for pre-epoch indexes), so after
    an overwrite the old decoded arrays can only age out, never
    answer. Probe A fills the caches; the rebuild swaps in a different
    graph (half the base); probe B must match the fresh pinned index
    exactly."""
    import os

    from cs598vectordb_spark.operators.graph import (
        _read_epoch,
        build_layered_graph2,
        knn_graph_layered2,
        materialize_layered2,
        open_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 5)
    path = str(tmp_path / "g2swap")
    kw = dict(k=K, nprobe1=2, nprobe2=6, beam=32)

    a = materialize_layered2(build_layered_graph2(emb, 4, 4, degree=16), path)
    epoch_a = _read_epoch(os.path.join(path, "segments"))
    assert epoch_a, "materialize must stamp the _EPOCH sidecar"
    served_a = open_layered2(spark, path, served=True)
    r_a = knn_graph_layered2(served_a, q, **kw).orderBy("q_id", "rank").collect()
    a.segments.unpersist()

    emb2 = emb.filter(F.col("vec_id") % 2 == 0)
    b = materialize_layered2(build_layered_graph2(emb2, 4, 4, degree=16), path)
    epoch_b = _read_epoch(os.path.join(path, "segments"))
    assert epoch_b and epoch_b != epoch_a, (
        "in-place rebuild must rewrite the epoch stamp — it is the "
        "served cache's staleness key"
    )
    served_b = open_layered2(spark, path, served=True)
    got = knn_graph_layered2(served_b, q, **kw).orderBy("q_id", "rank").collect()
    want = knn_graph_layered2(b, q, **kw).orderBy("q_id", "rank").collect()
    assert got == want, "served results diverged from the rebuilt index"
    assert got != r_a, "rebuild on half the base must change results"
    assert all(r.vec_id % 2 == 0 for r in got), "stale odd-id rows served"
    b.segments.unpersist()


def test_served_skips_missing_segment_dir(spark, sf_dir, tmp_path):
    """A probed segment with NO partition directory must be skipped,
    not crash the probe job (ADVICE r13 medium): probed keys come from
    l2_table rows, and a sub-cell emptied by deletes keeps its l2_table
    row but writes no directory when the index is re-materialized — the
    Arrow path silently yields nothing for it, and the served path must
    match that semantics. Simulated by deleting one partition dir that
    every probe touches, then asserting the served probe equals the
    pinned probe over the same surviving segments."""
    import shutil

    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        knn_graph_layered2,
        materialize_layered2,
        open_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 5)
    path = str(tmp_path / "gmiss")
    idx = build_layered_graph2(emb, nlist1=2, nlist2=2, degree=16)
    materialize_layered2(idx, path, pinned=False)
    idx.close()
    shutil.rmtree(os.path.join(path, "segments", "segment_id=1"))

    served = open_layered2(spark, path, served=True)
    fresh = open_layered2(spark, path)  # re-reads the mutilated parquet
    # every cell and sub-cell probed: segment 1 is probed
    kw = dict(k=K, nprobe1=2, nprobe2=4, beam=24, rounds=3)
    got = knn_graph_layered2(served, q, **kw).orderBy("q_id", "rank").collect()
    want = knn_graph_layered2(fresh, q, **kw).orderBy("q_id", "rank").collect()
    assert got == want and len(got) > 0, (
        "served probe over a missing segment dir must match the Arrow "
        "path's empty-segment semantics"
    )
    fresh.segments.unpersist()


def test_served_probe_with_every_segment_dir_missing_is_empty(spark, sf_dir, tmp_path):
    """When no probed segment has a partition directory, the served walk
    job yields no batch at all; the driver merge must still return an
    empty frame with the probe's 4-column schema, not raise."""
    import shutil

    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        knn_graph_layered2,
        materialize_layered2,
        open_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qpdf = queries_from_embeddings(emb, 5).select("q_id", "embedding").toPandas()
    path = str(tmp_path / "gallmiss")
    idx = build_layered_graph2(emb, nlist1=2, nlist2=2, degree=16)
    materialize_layered2(idx, path, pinned=False)
    idx.close()
    # opened first: the open infers the segments relation's schema, and
    # the served probe never reads that relation
    served = open_layered2(spark, path, served=True)
    seg_root = os.path.join(path, "segments")
    gone = [d for d in os.listdir(seg_root) if d.startswith("segment_id=")]
    assert gone
    for d in gone:
        shutil.rmtree(os.path.join(seg_root, d))

    out = knn_graph_layered2(served, qpdf, k=K, nprobe1=2, nprobe2=4, beam=24)
    assert out.schema.simpleString() == (
        "struct<q_id:bigint,rank:int,vec_id:bigint,dist:double>"
    )
    assert out.collect() == []


def _jobs_run(spark, group: str, fn):
    """(fn(), number of Spark jobs fn ran), counted under job group
    `group` once the listener bus has delivered every event."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_layered2_setup_job_budget(spark, sf_dir, tmp_path):
    """Set-up of a served index runs only the jobs that compute and
    write what it reads: the build runs the L1 sample's job(s) and one
    count that fills the segment and L2 caches (≤ 7 with AQE's stage
    jobs), a materialize that re-opens cold writes the two tables (≤ 2),
    and a served or cold open reads parquet footers only (0). The grid
    has 16 segment directories, under the 32 past which Spark lists a
    partitioned table with a job."""
    from cs598vectordb_spark.operators import graph

    emb = load_table(spark, sf_dir, "embeddings").persist()
    emb.count()
    idx, build = _jobs_run(
        spark, "l2-setup-build", lambda: graph.build_layered_graph2(emb, 4, 4, degree=16)
    )
    path = str(tmp_path / "g2setup")
    _, materialize = _jobs_run(
        spark, "l2-setup-materialize", lambda: graph.materialize_layered2(idx, path, pinned=False)
    )
    served, open_served = _jobs_run(
        spark, "l2-setup-open-served", lambda: graph.open_layered2(spark, path, served=True)
    )
    cold, open_cold = _jobs_run(
        spark, "l2-setup-open-cold", lambda: graph.open_layered2(spark, path, pinned=False)
    )
    jobs = (build, materialize, open_served, open_cold)
    assert build <= 7 and materialize <= 2 and open_served == open_cold == 0, jobs
    assert served.serve_dir is not None and cold.serve_dir is None

    def types(df):
        return {f.name: f.dataType for f in df.schema.fields}

    # the footer schemas give the relations the types the build wrote
    assert types(cold.segments) == types(idx.segments)
    assert types(cold.l2_table) == types(idx.l2_table)
    idx.close()
    idx.l2_table.unpersist()
    emb.unpersist()


def test_open_layered2_reads_spark_written_l1(spark, sf_dir, tmp_path):
    """Indexes materialized by earlier builds hold an l1/ sidecar that
    Spark wrote (a part file, _SUCCESS, .crc files); cached 1M graphs
    are re-opened from such paths. open_layered2 must read that layout
    to the same centroids, grid and probe rows as the driver-written
    one, and Spark must read the driver-written sidecar to the rows
    its own writer produced."""
    import shutil

    import numpy as np

    from cs598vectordb_spark.operators import graph

    emb = load_table(spark, sf_dir, "embeddings")
    qpdf = queries_from_embeddings(emb, NQ).select("q_id", "embedding").toPandas()
    idx = graph.build_layered_graph2(emb, 4, 4, degree=16)
    path = str(tmp_path / "g2compat")
    graph.materialize_layered2(idx, path, pinned=False)
    kw = dict(k=K, nprobe1=2, nprobe2=6, beam=32)
    new = graph.open_layered2(spark, path, served=True)
    want = graph.knn_graph_layered2(new, qpdf, **kw).orderBy("q_id", "rank").collect()
    l1_dir = os.path.join(path, "l1")
    new_rows = spark.read.parquet(l1_dir).orderBy("l1_id").collect()

    shutil.rmtree(l1_dir)
    spark.createDataFrame(
        [
            (i, [float(x) for x in idx.l1_centroids[i]], idx.nlist1, idx.nlist2, idx.degree)
            for i in range(idx.nlist1)
        ],
        "l1_id long, centroid array<double>, nlist1 int, nlist2 int, degree int",
    ).coalesce(1).write.mode("overwrite").parquet(l1_dir)
    files = os.listdir(l1_dir)
    assert "_SUCCESS" in files and any(f.endswith(".crc") for f in files), files
    assert spark.read.parquet(l1_dir).orderBy("l1_id").collect() == new_rows

    old = graph.open_layered2(spark, path, served=True)
    assert np.array_equal(old.l1_centroids, idx.l1_centroids)
    assert (old.nlist1, old.nlist2, old.degree) == (idx.nlist1, idx.nlist2, idx.degree)
    got = graph.knn_graph_layered2(old, qpdf, **kw).orderBy("q_id", "rank").collect()
    assert got == want and len(got) == NQ * K
    idx.close()
    idx.l2_table.unpersist()


def test_graph2_served_walk_input_is_local(spark, sf_dir, tmp_path):
    """The served walk job reads its segment-id groups from a local
    relation (LocalTableScan), not a pickled Python RDD
    (`Scan ExistingRDD`, whose first use in a session costs over a
    second), and runs one task per `_balanced_groups` group."""
    import numpy as np

    from cs598vectordb_spark.operators import graph

    emb = load_table(spark, sf_dir, "embeddings")
    qpdf = queries_from_embeddings(emb, NQ).select("q_id", "embedding").toPandas()
    idx = graph.build_layered_graph2(emb, 4, 4, degree=16)
    path = str(tmp_path / "g2walk")
    graph.materialize_layered2(idx, path, pinned=False)
    idx.close()
    idx.l2_table.unpersist()
    served = graph.open_layered2(spark, path, served=True)
    q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
    Q = np.stack(qpdf["embedding"].to_numpy()).astype(np.float64)
    # every segment probed by every query
    probed = {sid: np.arange(len(q_ids)) for sid in range(16)}
    walk = graph._served_walk(
        spark, served.serve_dir, probed, q_ids, Q, K, 24, 3, 8, "vec_id", "embedding"
    )
    plan = walk._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    sc = spark.sparkContext
    groups = graph._balanced_groups(probed, sc.defaultParallelism)
    rows, jobs = _jobs_run(spark, "graph2-walk-tasks", walk.collect)
    assert jobs == 1 and rows
    (job,) = sc.statusTracker().getJobIdsForGroup("graph2-walk-tasks")
    tasks = [sc.statusTracker().getStageInfo(s).numTasks for s in sc.statusTracker().getJobInfo(job).stageIds]
    assert tasks == [len(groups)], (tasks, groups)


def test_layered2_build_persists_two_whole_tables(spark, sf_dir):
    """The build leaves exactly two persisted RDDs, the segment table's
    and the L2 table's, each a directly persisted frame:
    `segments.unpersist()` frees the whole segment table (unpersisting a
    projection of a persisted frame would free nothing), and the L2
    table goes only with its own unpersist."""
    from cs598vectordb_spark.operators.graph import build_layered_graph2

    emb = load_table(spark, sf_dir, "embeddings")
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keys())

    before = persisted()
    idx = build_layered_graph2(emb, 4, 4, degree=16)
    assert len(persisted() - before) == 2
    idx.segments.unpersist()
    assert len(persisted() - before) == 1 and idx.l2_table.is_cached
    idx.l2_table.unpersist()
    assert persisted() - before == set()


def test_layered2_insert_outlives_parent_close(spark, sf_dir):
    """delete/insert hand the parent's L2 table to the index they
    derive, and the protocol closes the parent once the new version
    serves. After `close()` the derived index must probe to the same
    rows, and its L2 rows must still come from the cached L2 table: one
    Spark job, where a recomputed build pass would run its shuffle
    stages as further jobs."""
    from cs598vectordb_spark.operators.graph import (
        LayeredGraph2Index,
        build_layered_graph2,
        insert_into_layered2,
        knn_graph_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qpdf = queries_from_embeddings(emb, NQ).select("q_id", "embedding").toPandas()
    parent = build_layered_graph2(emb.filter(F.col("vec_id") % 4 != 0), 4, 4, degree=16)
    child = insert_into_layered2(parent, emb.filter(F.col("vec_id") % 4 == 0))
    kw = dict(k=K, nprobe1=2, nprobe2=6, beam=32)
    want = knn_graph_layered2(child, qpdf, **kw).orderBy("q_id", "rank").collect()
    parent.close()

    # a new index object over the same tables has an empty L2 driver cache
    fresh = LayeredGraph2Index(
        child.segments, child.l1_centroids, child.l2_table,
        child.nlist1, child.nlist2, child.degree,
    )
    _, jobs = _jobs_run(
        spark, "graph2-l2-after-close", lambda: fresh.l2_rows(list(range(fresh.nlist1)))
    )
    assert jobs == 1, jobs
    got = knn_graph_layered2(fresh, qpdf, **kw).orderBy("q_id", "rank").collect()
    assert got == want and len(got) == NQ * K
    child.close()
    child.l2_table.unpersist()


def test_graph2_served_probe_is_one_job(spark, sf_dir, tmp_path):
    """The served probe feeds the walk kernel its probed segment ids as
    a local relation, merges the tasks' top-k rows on the driver and
    returns them as a local relation: the returned frame's executed plan
    is a LocalTableScan with no Exchange and no scan of the segments
    parquet, and a warm probe over a pandas query frame, collected, runs
    exactly 1 Spark job (the walk). A pandas query frame returns the
    rows of the Spark frame it was collected from, on both the served
    and the pinned index."""
    from cs598vectordb_spark.operators.graph import (
        knn_graph_layered2,
        materialize_layered2,
        open_layered2,
    )
    from cs598vectordb_spark.queries_index import layered_graph2_for

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    qpdf = q.select("q_id", "embedding").toPandas()
    path = str(tmp_path / "g2jobs")
    pinned = materialize_layered2(layered_graph2_for(spark, sf_dir, nlist1=8, nlist2=8), path)
    served = open_layered2(spark, path, served=True)
    kw = dict(k=K, nprobe1=2, nprobe2=6, beam=32)

    plan = knn_graph_layered2(served, q, **kw)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert "segments" not in plan, plan

    def rows(index, queries):
        return knn_graph_layered2(index, queries, **kw).orderBy("q_id", "rank").collect()

    for index in (served, pinned):
        assert rows(index, qpdf) == rows(index, q)
    assert rows(served, qpdf) == rows(pinned, qpdf)

    got, jobs = _jobs_run(
        spark, "graph2-served-warm", lambda: knn_graph_layered2(served, qpdf, **kw).collect()
    )
    assert jobs == 1, jobs
    assert len(got) == NQ * K
    pinned.segments.unpersist()


def test_graph2_l2_driver_cache(spark, sf_dir, tmp_path, monkeypatch):
    """The probed cells' L2 rows are cached on the index object: the
    first probe collects them, a second probe of the same object issues
    no L2 scan (the route of a pandas query frame then runs no Spark job
    at all). With the cache's byte ceiling at 0 nothing is cached, every
    probe collects its L2 rows, and the rows equal the cached run. The
    index is opened cold (pinned=False), whose probe frame is lazy, so
    the jobs counted are the route's alone; a served probe would also
    run its walk job inside the call. The route is the same code in
    every mode."""
    from cs598vectordb_spark.operators import graph

    emb = load_table(spark, sf_dir, "embeddings")
    qpdf = queries_from_embeddings(emb, NQ).select("q_id", "embedding").toPandas()
    path = str(tmp_path / "g2l2")
    graph.materialize_layered2(
        graph.build_layered_graph2(emb, 4, 4, degree=16), path, pinned=False
    ).segments.unpersist()
    kw = dict(k=K, nprobe1=2, nprobe2=6, beam=32)

    def route(index, group):
        return _jobs_run(spark, group, lambda: graph.knn_graph_layered2(index, qpdf, **kw))

    cold = graph.open_layered2(spark, path, pinned=False)
    first, jobs1 = route(cold, "graph2-l2-first")
    assert jobs1 >= 1 and cold._l2_cells
    second, jobs2 = route(cold, "graph2-l2-second")
    assert jobs2 == 0, "a warm probe must not scan the L2 table"
    cached = second.orderBy("q_id", "rank").collect()
    assert first.orderBy("q_id", "rank").collect() == cached

    monkeypatch.setattr(graph, "_L2_DRIVER_CACHE_BYTES", 0)
    uncached = graph.open_layered2(spark, path, pinned=False)
    for i in range(2):
        out, jobs = route(uncached, f"graph2-l2-uncached-{i}")
        assert jobs >= 1 and not uncached._l2_cells
        assert out.orderBy("q_id", "rank").collect() == cached


def test_graph2_l2_driver_cache_concurrent_fill(spark, monkeypatch):
    """Concurrent probes (batcher leaders) fill one index object's L2
    cache from many threads: every call returns its cells' rows, and the
    cache's byte count equals the sum of its entries and stays under the
    ceiling (a lost update on the counter breaks the equality)."""
    import sys
    import threading

    import numpy as np

    from cs598vectordb_spark.operators import graph

    nlist1, nlist2, dim = 8, 4, 4
    rows = [
        (c, j, [float(c * 100 + j * 10 + d) for d in range(dim)])
        for c in range(nlist1)
        for j in range(nlist2)
        if (c + j) % 5  # uneven cells, as k-means leaves them
    ]
    l2 = spark.createDataFrame(rows, "l1_id int, l2_id int, centroid array<double>")
    idx = graph.LayeredGraph2Index(None, np.zeros((nlist1, dim)), l2, nlist1, nlist2, 16)
    cell_bytes = nlist2 * 8 * (1 + dim)
    monkeypatch.setattr(graph, "_L2_DRIVER_CACHE_BYTES", 3 * cell_bytes)
    want = {
        c: np.array([c * nlist2 + j for cc, j, _ in rows if cc == c], dtype=np.int64)
        for c in range(nlist1)
    }
    errors = []

    def worker(seed: int) -> None:
        rng = np.random.default_rng(seed)
        for _ in range(4):
            cells = sorted(rng.choice(nlist1, size=3, replace=False).tolist())
            keys, C2 = idx.l2_rows(cells)
            exp = np.concatenate([want[c] for c in cells])
            ok = np.array_equal(keys, exp) and np.array_equal(
                C2[:, 0], (keys // nlist2) * 100.0 + (keys % nlist2) * 10.0
            )
            if not ok:
                errors.append((cells, keys))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads), "an l2_rows call hung"
    assert not errors, errors[:3]
    assert idx._l2_cells
    assert idx._l2_bytes == sum(k.nbytes + c.nbytes for k, c in idx._l2_cells.values())
    assert idx._l2_bytes <= 3 * cell_bytes


def test_graph2_served_walk_groups_are_balanced():
    """The served walk's task split: every probed segment id lands in
    exactly one group, there are at most n groups (one per segment when
    n exceeds the segment count), the heaviest and lightest groups differ
    by at most one segment's queries, and the split is deterministic.
    A probe whose segment-id halves carry 1,200 and 400 queries splits
    800 / 800."""
    import numpy as np

    from cs598vectordb_spark.operators.graph import _balanced_groups

    rng = np.random.default_rng(7)
    for n in (1, 2, 3, 8):
        for _ in range(20):
            n_seg = int(rng.integers(1, 40))
            sids = rng.choice(1000, size=n_seg, replace=False)
            probed = {
                int(s): np.arange(int(rng.integers(1, 200))) for s in sids
            }
            groups = _balanced_groups(probed, n)
            assert len(groups) == min(n, n_seg)
            flat = [s for g in groups for s in g]
            assert sorted(flat) == sorted(probed)
            assert all(g == sorted(g) for g in groups)
            loads = [sum(len(probed[s]) for s in g) for g in groups]
            assert max(loads) - min(loads) <= max(len(v) for v in probed.values())
            assert _balanced_groups(dict(reversed(list(probed.items()))), n) == groups

    probed = {s: np.arange(q) for s, q in enumerate([300, 300, 300, 300, 100, 100, 100, 100])}
    loads = [sum(len(probed[s]) for s in g) for g in _balanced_groups(probed, 2)]
    assert loads == [800, 800]


def test_graph2_filtered_ann(spark, sf_dir):
    """Filtered ANN (post-filter with expansion) on the hierarchical
    index: every result satisfies the predicate, per-query results never
    exceed k, and recall vs the exact pre-filtered oracle clears a floor
    on this isotropic data."""
    import __spark_entry__ as em

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    got = em.queries()["knn_graph2_filtered"](spark, sf_dir).cache()

    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = got.collect()
    assert rows, "no filtered results"
    assert all(labels[r.vec_id] == 3 for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(len(rs) <= K and sorted(rs) == list(range(1, len(rs) + 1)) for rs in per_q.values())

    truth = knn_exact(emb.filter(F.col("label") == 3), q, K)
    rec = recall_at_k(got, truth, K).collect()[0][0]
    assert rec >= 0.5, rec
    got.unpersist()


def test_knn_filtered_adaptive(spark, sf_dir):
    """Adaptive filtered ANN (r15): every row satisfies the predicate,
    ranks are dense 1..k, recall vs the exact filtered oracle clears a
    floor ABOVE what the cheap round-0 config alone achieves (the
    deepening trigger observably fired and bought recall: labels are
    ~10% selective, so round 0's 4·k candidates leave most queries
    short), and every query reaches the full k (the filtered base has
    ≥ k label-3 rows, so falling short would mean deepening is broken)."""
    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        knn_graph_layered2_filtered,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    q = queries_from_embeddings(emb, NQ)
    idx = build_layered_graph2(emb, 4, 4, degree=16)
    allowed = emb.filter(F.col("label") == 3)
    kw = dict(k=K, expand=4, nprobe1=2, nprobe2=6, beam=24)

    got = knn_graph_layered2_filtered(idx, q, allowed, max_deepen=2, **kw).cache()
    rows = got.collect()
    assert rows, "no filtered results"
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r.vec_id] == 3 for r in rows), "predicate violated"
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    n_allowed = allowed.count()
    assert n_allowed >= K
    nq = q.count()
    assert len(per_q) == nq, "queries dropped"
    assert all(sorted(rs) == list(range(1, K + 1)) for rs in per_q.values()), (
        "deepening failed to fill k despite enough matches"
    )

    truth = knn_exact(allowed, q, K)
    rec = recall_at_k(got, truth, K).collect()[0][0]
    shallow = knn_graph_layered2_filtered(idx, q, allowed, max_deepen=0, **kw)
    rec0 = recall_at_k(shallow, truth, K).collect()[0][0]
    assert rec >= 0.85, rec
    assert rec > rec0, (rec, rec0)  # the adaptive rounds bought recall
    got.unpersist()
    emb.unpersist()
    idx.segments.unpersist()


def test_default_grid2_scales_with_n(spark, sf_dir):
    """The layered2 coarse-layer sizing rule (VERDICT r13 item 4): the
    default segment count scales LINEARLY with n (side as its sqrt) so
    per-segment rows stay ~1k at any scale — pinned at the two measured
    design points (1M → 32×32, the proven crossover grid; 4M → 64×64,
    the prescribed fix for the measured ~0.92 recall ceiling) and
    monotone across five decades. A None grid wires the rule into the
    builder."""
    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        default_grid2,
    )

    assert default_grid2(1_000_000) == (32, 32)
    assert default_grid2(4_000_000) == (64, 64)
    assert default_grid2(500) == (2, 2)  # fixture floor
    sides = [
        default_grid2(n)[0]
        for n in (10_000, 100_000, 1_000_000, 10_000_000, 100_000_000)
    ]
    assert sides == sorted(sides) and sides[-1] > sides[0]
    # segment size stays ~target across scales (within the even-side
    # rounding): n / side² within [0.5, 1.5]× of 1024 once n >> target
    for n in (1_000_000, 10_000_000, 100_000_000):
        side = default_grid2(n)[0]
        assert 0.5 * 1024 <= n / side**2 <= 1.5 * 1024, (n, side)

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_layered_graph2(emb, nlist1=None, nlist2=None, degree=8)
    assert (idx.nlist1, idx.nlist2) == default_grid2(emb.count())
    idx.segments.unpersist()


def test_repair_and_walk_tolerate_lone_and_null_arrivals(spark, sf_dir):
    """The 10M dynamic-cycle crash class (r15): a k-means cell whose
    rows were ALL deleted and that then receives exactly ONE arrival
    used to keep the arrival's nbr_ids NULL through the repair early
    path — the null row materialized into the segment parquet and the
    pinned walk kernel crashed on it (the served decode silently read
    null as zero-length, so the modes disagreed). Pins: (a) the repair
    kernel materializes an EMPTY list for a lone arrival, never null;
    (b) the walk kernel treats a legacy null row as no-outgoing-edges,
    identically to the served path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from cs598vectordb_spark.operators.graph import (
        LayeredGraph2Index,
        _make_repair_kernel,
        build_layered_graph2,
        knn_graph_layered2,
    )

    # (a) lone new arrival: empty list out, never null
    repair = _make_repair_kernel("vec_id", "embedding", 4)
    lone = pd.DataFrame(
        {
            "segment_id": [7],
            "vec_id": [42],
            "embedding": [np.ones(8, dtype=np.float32)],
            "nbr_ids": [None],
        }
    )
    fixed = repair(lone)
    assert fixed["nbr_ids"].iloc[0] is not None
    assert len(fixed["nbr_ids"].iloc[0]) == 0

    # (b) a null-nbr row in the segment table: pinned walk must not
    # crash and must answer exactly like the same row with an empty
    # list (null ≡ no outgoing edges)
    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_layered_graph2(emb, 2, 2, degree=8)
    victim = int(
        idx.segments.select("vec_id").orderBy("vec_id").first()["vec_id"]
    )
    kw = dict(k=5, nprobe1=2, nprobe2=4, beam=16, rounds=3, n_entry=8)
    q = emb.limit(8).select(emb.vec_id.alias("q_id"), "embedding")

    def variant(nbr_expr):
        segs = idx.segments.withColumn(
            "nbr_ids",
            F.when(F.col("vec_id") == victim, nbr_expr).otherwise(
                F.col("nbr_ids")
            ),
        )
        ix = LayeredGraph2Index(
            segs, idx.l1_centroids, idx.l2_table, idx.nlist1, idx.nlist2,
            idx.degree,
        )
        return sorted(
            (r.q_id, r.rank, r.vec_id)
            for r in knn_graph_layered2(ix, q, **kw).collect()
        )

    with_null = variant(F.lit(None).cast("array<bigint>"))
    with_empty = variant(F.array().cast("array<bigint>"))
    assert with_null == with_empty and len(with_null) == 8 * 5
    idx.segments.unpersist()


def test_repair_kernel_vectorized_matches_reference():
    """The r15 fast-path vectorization of the repair kernel must be
    VALUE-IDENTICAL to the original per-node reference semantics —
    including the adversarial cases that route around the fast path:
    reinserted ids (an old dangling edge resolving to an arrival's new
    row — the np.unique dedup), self-edges, dangling edges to deleted
    ids, duplicate old-edge ids, under-degree nodes (2-hop backfill),
    lone arrivals, and no-arrival segments. The reference below is the
    pre-vectorization loop, verbatim."""
    import numpy as np
    import pandas as pd

    from cs598vectordb_spark.operators.graph import _make_repair_kernel
    from cs598vectordb_spark.operators.knn import squared_l2_block

    def naive_repair(pdf, id_col, data_col, degree):
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        X = np.ascontiguousarray(
            np.stack(pdf[data_col].to_numpy()), dtype=np.float64
        )
        c = len(ids)
        is_new = pdf["nbr_ids"].isna().to_numpy()
        new_pos = np.flatnonzero(is_new)
        if len(new_pos) == 0:
            return pdf
        if c <= 1:
            empty = np.array([], dtype=np.int64)
            return pdf.assign(
                nbr_ids=[v if v is not None else empty for v in pdf["nbr_ids"]]
            )
        k_eff = min(degree, c - 1)

        def pair_d(a, b):
            diff = X[a] - X[b]
            return np.einsum("ij,ij->i", diff, diff)

        d_new = squared_l2_block(X, X[new_pos])
        d_new[new_pos, np.arange(len(new_pos))] = np.inf
        nbrs_out = [None] * c
        for j, p in enumerate(new_pos):
            col = d_new[:, j]
            part = np.argpartition(col, k_eff - 1)[:k_eff]
            order = np.lexsort((ids[part], col[part]))
            nbrs_out[p] = ids[part[order]].astype(np.int64)

        def to_pos(global_ids):
            p = np.minimum(np.searchsorted(ids, global_ids), c - 1)
            return p[ids[p] == global_ids]

        old_lists = pdf["nbr_ids"]
        for p in np.flatnonzero(~is_new):
            old = np.asarray(old_lists.iloc[p], dtype=np.int64)
            op = to_pos(old)
            parts = [op, new_pos]
            if len(op) < k_eff:
                for qpos in op:
                    two_hop = old_lists.iloc[qpos]
                    if two_hop is not None and not is_new[qpos]:
                        parts.append(to_pos(np.asarray(two_hop, dtype=np.int64)))
            cand = np.unique(np.concatenate(parts))
            cand = cand[cand != p]
            if len(cand) == 0:
                nbrs_out[p] = np.array([], dtype=np.int64)
                continue
            cd = pair_d(np.full(len(cand), p), cand)
            sel = np.lexsort((ids[cand], cd))[: min(k_eff, len(cand))]
            nbrs_out[p] = ids[cand[sel]].astype(np.int64)
        out = {f: pdf[f] for f in pdf.columns if f != "nbr_ids"}
        out["nbr_ids"] = nbrs_out
        return pd.DataFrame(out)

    rng = np.random.default_rng(598)
    degree = 4
    kernel = _make_repair_kernel("vec_id", "embedding", degree)

    def seg(rows):
        return pd.DataFrame(
            {
                "segment_id": 7,
                "vec_id": [r[0] for r in rows],
                "embedding": [np.array(r[1], dtype=np.float64) for r in rows],
                "nbr_ids": [
                    None if r[2] is None else np.array(r[2], dtype=np.int64)
                    for r in rows
                ],
            }
        )

    cases = []
    # generic: 12 existing (edges to random survivors + dangling ids +
    # the reinserted id 100 + a self-edge + a duplicate), 5 arrivals
    exist_ids = list(range(12))
    arr_ids = [100, 101, 102, 103, 104]
    rows = []
    for i in exist_ids:
        edges = list(rng.choice(exist_ids, size=3, replace=False))
        edges += [999, 100, i, edges[0]]  # dangling, reinserted, self, dup
        rows.append((i, rng.normal(size=6), edges))
    for a in arr_ids:
        rows.append((a, rng.normal(size=6), None))
    cases.append(seg(rows))
    # under-degree: existing nodes with 1 surviving edge -> backfill
    rows = [
        (0, rng.normal(size=6), [1]),
        (1, rng.normal(size=6), [0]),
        (2, rng.normal(size=6), [999]),  # fully dangling
        (200, rng.normal(size=6), None),
    ]
    cases.append(seg(rows))
    # lone arrival, and no-arrival
    cases.append(seg([(5, rng.normal(size=6), None)]))
    cases.append(seg([(1, rng.normal(size=6), [2]), (2, rng.normal(size=6), [1])]))
    # big randomized segment: 60 existing, 20 arrivals, mixed edges
    all_ids = list(range(60))
    rows = [
        (
            i,
            rng.normal(size=6),
            list(rng.choice(all_ids, size=degree, replace=False)) + [1000 + i % 3],
        )
        for i in all_ids
    ] + [(1000 + j, rng.normal(size=6), None) for j in range(20)]
    cases.append(seg(rows))

    for ci, pdf in enumerate(cases):
        want = naive_repair(pdf.copy(), "vec_id", "embedding", degree)
        got = kernel(pdf.copy())
        assert list(got["vec_id"]) == list(want["vec_id"]), ci
        for i in range(len(want)):
            w, g = want["nbr_ids"].iloc[i], got["nbr_ids"].iloc[i]
            if w is None:
                assert g is None, (ci, i)
            else:
                assert list(np.asarray(g)) == list(np.asarray(w)), (
                    ci,
                    i,
                    list(np.asarray(g)),
                    list(np.asarray(w)),
                )


def test_delete_layered2_broadcast_matches_semi(spark, sf_dir):
    """The r15 broadcast anti-join delete (dropped ids shipped to the
    executors, zero shuffles of the segment table) must produce a
    segment table VALUE-IDENTICAL to the r14 shuffle semi-join form —
    same surviving rows, same vectors, same (stale-edge-bearing)
    adjacency lists — and identical probe results on it."""
    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        delete_from_layered2,
        knn_graph_layered2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, NQ)
    idx = build_layered_graph2(emb, 4, 4, degree=16)
    keep = emb.filter(F.col("vec_id") % 3 != 0)
    dropped = emb.filter(F.col("vec_id") % 3 == 0)

    a = delete_from_layered2(idx, keep)
    b = delete_from_layered2(idx, keep, dropped=dropped)

    def rows(i):
        return sorted(
            (
                r.segment_id,
                r.vec_id,
                tuple(r.nbr_ids) if r.nbr_ids is not None else None,
            )
            for r in i.segments.select("segment_id", "vec_id", "nbr_ids").collect()
        )

    assert rows(a) == rows(b)
    kw = dict(nprobe1=2, nprobe2=6, beam=24)
    pa = sorted(tuple(r) for r in knn_graph_layered2(a, q, K, **kw).collect())
    pb = sorted(tuple(r) for r in knn_graph_layered2(b, q, K, **kw).collect())
    assert pa == pb
    for i in (idx, a, b):
        i.segments.unpersist()


def test_kmeans_large_k_fast_path():
    """The k >= _KMEANS_FAST_K branch (seeded random init + chunked
    Lloyd + bincount means) must be deterministic and match the
    sequential k-means++ path's clustering quality at the same k —
    the XL join's nlist=10,000 build relies on it (SCALING §7's
    documented seeding bottleneck), while every pinned index shape
    (ksub=256, bench nlist=1024) stays on the exact small-k path."""
    import numpy as np

    from cs598vectordb_spark.operators.index import (
        _KMEANS_FAST_K,
        _kmeans_fit,
        _kmeans_fit_large_k,
    )

    rng = np.random.default_rng(7)
    # clustered mixture: 256 planted centers, the blocking regime
    centers = rng.normal(size=(256, 8))
    X = (
        centers[rng.integers(0, 256, size=8000)]
        + rng.normal(scale=0.05, size=(8000, 8))
    )

    k = _KMEANS_FAST_K
    C1 = _kmeans_fit(X, k, seed=3, iters=5)
    C2 = _kmeans_fit(X, k, seed=3, iters=5)
    assert C1.shape == (k, 8)
    assert np.array_equal(C1, C2)  # deterministic

    def sse(C):
        d2 = (
            np.square(X).sum(1, keepdims=True)
            - 2.0 * (X @ C.T)
            + np.square(C).sum(1)[None, :]
        )
        return float(d2.min(axis=1).sum())

    # head-to-head at the same k: the fast path may not degrade the
    # objective vs the sequential++ path beyond noise
    C_pp = _kmeans_fit(X, k - 1, seed=3, iters=5)  # k-1 < threshold => ++ path
    assert sse(C1) <= 1.25 * sse(C_pp)

    # k > n degenerates gracefully (k clamps to n)
    small = X[:100]
    Cs = _kmeans_fit_large_k(small, _KMEANS_FAST_K, np.random.default_rng(1), 2)
    assert Cs.shape[0] == 100
