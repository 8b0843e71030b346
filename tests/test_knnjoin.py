"""Distributed kNN join (operators/knnjoin.py): exactness at full
probe, recall floor + list pruning at partial probe, the queued-oracle
dress rehearsal, and the self-exclusion / empty-cell edges."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cs598vectordb_spark.operators.knnjoin import (
    assign_queries_ivf,
    build_join_index,
    default_join_nlist,
    knn_join,
    knn_join_ivf,
)


def _brute_cosine_topk(ids, X, k, exclude_self=True):
    """Pure-numpy comparator replica: 6-dp-rounded cosine desc, vec_id
    asc — the same order the engine and the DuckDB twin use."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = np.round(Xn @ Xn.T, 6)
    rows = []
    for j, q in enumerate(ids):
        s = S[:, j].copy()
        if exclude_self:
            s[ids == q] = -np.inf
        order = np.lexsort((ids, -s))[:k]
        rows.extend(
            (int(q), r + 1, int(ids[o]), float(s[o])) for r, o in enumerate(order)
        )
    return sorted(rows)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_knn_join_full_probe_matches_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    got = sorted(
        (r.q_id, r.rank, r.vec_id, r.cos_sim)
        for r in knn_join(q, emb, k=5, metric="cosine", exclude_self=True).collect()
    )
    pdf = emb.toPandas()
    want = _brute_cosine_topk(
        pdf["vec_id"].to_numpy(np.int64),
        np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
        k=5,
    )
    assert got == want


def test_knn_join_partial_probe_recall_floor(spark, sf_dir):
    """nprobe=4 of the derived nlist clears the reference's 0.70 Annoy floor
    EVEN ON THIS fixture, whose embeddings are directionally
    near-isotropic (only ~9% of true cosine neighbors share the
    query's label — measured r15), the worst case for any blocking;
    clustered real corpora do far better at smaller probe fractions.
    The broadcast semi-join pruning means the probed-cell list
    actually bounds the base side (checked through the assignment
    explode: every emitted candidate's cell was probed by its
    query)."""
    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    nlist = default_join_nlist(emb.count())
    idx = build_join_index(emb, nlist=nlist, metric="cosine")
    approx = knn_join_ivf(q, idx, k=5, nprobe=4, exclude_self=True)
    exact = knn_join_ivf(q, idx, k=5, nprobe=nlist, exclude_self=True)
    a = {(r.q_id, r.vec_id) for r in approx.collect()}
    e = {(r.q_id, r.vec_id) for r in exact.collect()}
    assert len(a) > 0
    recall = len(a & e) / len(e)
    assert recall >= 0.70, recall
    # pruning is real: candidates only come from cells the query probed
    qa = assign_queries_ivf(q, idx.centroids, nprobe=4, metric="cosine")
    probed_by_q = {
        (r.q_id, r.centroid_id) for r in qa.select("q_id", "centroid_id").collect()
    }
    cell_of = {
        r.vec_id: r.centroid_id
        for r in idx.assigned.select("vec_id", "centroid_id").collect()
    }
    assert all((qid, cell_of[vid]) in probed_by_q for qid, vid in a)


def test_knn_join_full_probe_is_exact_under_l2(spark, sf_dir):
    """The L2 metric path: full-probe join rows equal the driver-batch
    knn_exact kernel's rows on the same (query=base head) workload.
    Both sides rank on the 6-dp-rounded squared distance (the r17
    discipline shared with the knn_join_l2 DuckDB twin)."""
    from cs598vectordb_spark.operators.knn import knn_exact
    from cs598vectordb_spark.operators.knnjoin import COS_ROUND

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    nlist = default_join_nlist(emb.count())
    joined = knn_join(
        q, emb, k=5, nlist=nlist, metric="l2", exclude_self=False
    )
    batch = knn_exact(emb, q, k=5, score_round=COS_ROUND)
    got = sorted((r.q_id, r.rank, r.vec_id) for r in joined.collect())
    want = sorted((r.q_id, r.rank, r.vec_id) for r in batch.collect())
    assert got == want


def test_knn_join_excludes_self(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = knn_join(q, emb, k=3, metric="cosine", exclude_self=True).collect()
    assert len(out) > 0
    assert all(r.q_id != r.vec_id for r in out)


def test_knn_join_empty_and_unprobed_cells(spark):
    """nlist above the distinct-point count leaves k-means cells empty;
    queries probing them must not fail, and results stay exact at full
    probe (the candidate union still covers the base)."""
    pts = [(i, [1.0 + i % 4, 1.0 + (i * 3) % 5]) for i in range(24)]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [p[0] for p in pts], "embedding": [p[1] for p in pts]})
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    out = knn_join(q, emb, k=3, nlist=16, metric="cosine", exclude_self=True)
    got = sorted(
        (r.q_id, r.rank, r.vec_id, r.cos_sim) for r in out.collect()
    )
    pdf = emb.toPandas()
    want = _brute_cosine_topk(
        pdf["vec_id"].to_numpy(np.int64),
        np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
        k=3,
    )
    assert got == want


def test_knn_join_tie_straddling_k_boundary_is_canonical(spark):
    """ADVICE r15: a rounded-score tie straddling the local k boundary
    must resolve by the canonical (score, vec_id ASC) comparator, not
    by whichever member argpartition happened to keep. 12 exact copies
    of one vector tie at cosine 1.0 — far wider than k=3 — so the
    local cut MUST be tie-inclusive for the final window to pick the
    lowest vec_ids."""
    dup = [1.0, 2.0, 3.0]
    others = [[3.0, 1.0, 2.0], [2.0, 3.0, 1.0], [1.0, 1.0, 9.0]]
    pts = [(i, dup) for i in range(12)] + [
        (12 + i, v) for i, v in enumerate(others)
    ]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [p[0] for p in pts], "embedding": [p[1] for p in pts]})
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    got = sorted(
        (r.q_id, r.rank, r.vec_id, r.cos_sim)
        for r in knn_join(q, emb, k=3, nlist=4, metric="cosine",
                          exclude_self=True).collect()
    )
    pdf = emb.toPandas()
    want = _brute_cosine_topk(
        pdf["vec_id"].to_numpy(np.int64),
        np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
        k=3,
    )
    assert got == want
    # the duplicate-copy queries must rank the LOWEST-id other copies
    for qid in range(12):
        mine = [vid for (g, _, vid, _) in got if g == qid]
        assert mine == sorted(set(range(12)) - {qid})[:3], (qid, mine)


def test_topk_canonical_kernel_edges():
    """Pure-numpy edges of the vectorized local cut (ADVICE r16: the
    canonical exact-k form — bounded emission even on boundary ties):
    a tie wider than k resolves locally to the LOWEST vec_ids (the
    canonical comparator, so the cut equals what the final window
    would keep from this block), masked (±inf) rows never emit, a
    column with fewer finite rows than k emits only its finite rows,
    and per-query emission never exceeds k."""
    from cs598vectordb_spark.operators.knnjoin import _topk_canonical

    ids = np.array([5, 3, 9, 1, 7], dtype=np.int64)
    q_ids = np.array([100, 200], dtype=np.int64)
    # column 0: three-way tie at 0.9 straddling k=2; column 1: two rows
    # masked out (-inf, the cosine exclude_self marker)
    scores = np.array(
        [
            [0.9, 0.1],
            [0.9, -np.inf],
            [0.9, 0.4],
            [0.2, -np.inf],
            [0.1, 0.3],
        ]
    )
    out = _topk_canonical(scores, ids, q_ids, k=2, ascending=False,
                          score_col="cos_sim")
    got = {
        (int(r.q_id), int(r.vec_id), float(r.cos_sim))
        for r in out.itertuples()
    }
    # q 100: exactly k=2 rows — the two LOWEST-id members of the 0.9
    # tie (ids 3 and 5); id 9's tie row must NOT inflate the emission
    assert {(100, 3, 0.9), (100, 5, 0.9)} <= got
    assert (100, 9, 0.9) not in got
    assert (100, 1, 0.2) not in got and (100, 7, 0.1) not in got
    # q 200: masked rows (ids 3 and 1) never emit; finite top-2 do
    assert {(200, 9, 0.4), (200, 7, 0.3)} <= got
    assert all(vid not in (3, 1) for q, vid, _ in got if q == 200)
    # bounded emission: never more than k rows per query
    counts = out.groupby("q_id").size()
    assert (counts <= 2).all()
    # ascending (L2) path: k larger than the finite row count emits
    # exactly the finite rows
    d = np.array([[1.0], [np.inf], [2.0]])
    out2 = _topk_canonical(
        d, np.array([4, 5, 6], dtype=np.int64),
        np.array([1], dtype=np.int64), k=3, ascending=True,
        score_col="dist",
    )
    assert sorted(zip(out2.q_id, out2.vec_id)) == [(1, 4), (1, 6)]


def test_topk_canonical_duplicate_cluster_emission_bounded():
    """ADVICE r16's failure scenario directly: a duplicate cluster far
    wider than k (12 copies tie at rounded score 1.0) must emit
    exactly k rows per query — the lowest vec_ids — not the cluster."""
    from cs598vectordb_spark.operators.knnjoin import _topk_canonical

    n = 12
    ids = np.arange(n, dtype=np.int64)[::-1].copy()  # ids 11..0
    q_ids = np.array([7], dtype=np.int64)
    scores = np.ones((n, 1))
    out = _topk_canonical(scores, ids, q_ids, k=3, ascending=False,
                          score_col="cos_sim")
    assert len(out) == 3
    assert sorted(out.vec_id) == [0, 1, 2]


def test_knn_join_metric_mismatch_raises(spark, sf_dir):
    """The blocking geometry's build metric travels on IvfIndex; probing
    with the other metric is a silent recall bug, so it raises."""
    import pytest

    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    idx = build_join_index(emb, nlist=8, metric="cosine")
    with pytest.raises(ValueError, match="blocked for metric"):
        knn_join_ivf(q, idx, k=3, nprobe=2, metric="l2")


def test_knn_join_oracle_dress_rehearsal(spark, sf_dir):
    """Dress rehearsal for the knn_join oracle (PROMOTED r16 from the
    r15 queue): the engine's full-probe distributed self-join and the
    DuckDB brute-force cross-join twin must agree row for row at
    sf0.001 under the driver's sorted-columns value comparison — rank
    is computed on the 6-dp ROUNDED cosine on both sides."""
    import duckdb

    import __spark_entry__ as em

    sql = em.oracle_sql()["knn_join"]
    sdf = em.queries()["knn_join"](spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows) and len(srows) > 0

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])

        def c(v):
            return f"{v:.6f}" if isinstance(v, float) else str(v)

        return sorted(tuple(c(r[i]) for i in order) for r in rows)

    assert canon(srows, scols) == canon(drows, dcols)


def test_knn_join_l2_queued_oracle_dress_rehearsal(spark, sf_dir):
    """Dress rehearsal for the knn_join_l2 oracle (PROMOTED r18 from
    the r17 queue, funded by the knn_cosine retirement): the engine's
    full-probe L2 self-join and the DuckDB twin — the promoted cosine
    twin's brute-force shape with the score swapped for the
    inner-product expansion of ||b−q||², 6-dp-rounded before the rank
    window on BOTH sides (the engine cell kernel rounds its
    squared_l2_block output identically since r17) — must agree row
    for row at sf0.001 under the driver's sorted-columns value
    comparison."""
    import duckdb

    import __spark_entry__ as em

    sql = em.oracle_sql()["knn_join_l2"]
    sdf = em.queries()["knn_join_l2"](spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows) and len(srows) > 0

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])

        def c(v):
            return f"{v:.6f}" if isinstance(v, float) else str(v)

        return sorted(tuple(c(r[i]) for i in order) for r in rows)

    assert canon(srows, scols) == canon(drows, dcols)


def test_semantic_decontamination_queued_oracle_dress_rehearsal(spark, sf_dir):
    """Dress rehearsal for the semantic_decontamination oracle (QUEUED
    r17-r18, PROMOTED r19 into register() — this test now reads the
    registered SQL and stays as end-to-end defense in depth beside the
    driver gate): every train vector's single nearest eval vector at
    the 6-dp-rounded cosine with the eval_id tie-break, plus the τ=0.35
    flag on the same rounded double — engine and DuckDB must agree
    row for row at sf0.001 under the driver's sorted-columns value
    comparison."""
    import duckdb

    import __spark_entry__ as em
    from cs598vectordb_spark.registry import oracle_sql

    sql = oracle_sql()["semantic_decontamination"]
    sdf = em.queries()["semantic_decontamination"](spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows) and len(srows) > 0

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])

        def c(v):
            return f"{v:.6f}" if isinstance(v, float) else str(v)

        return sorted(tuple(c(r[i]) for i in order) for r in rows)

    assert canon(srows, scols) == canon(drows, dcols)


def test_knn_join_final_plan_group_limit(spark, sf_dir):
    """The final per-query merge must be a WindowGroupLimit (rank-filter
    group limit), not a full sort of every candidate row."""
    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    plan = knn_join(q, emb, k=5)._jdf.queryExecution().optimizedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_semantic_decontamination_matches_bruteforce(spark, sf_dir):
    """Evidence pin for the rows-only `semantic_decontamination` entry:
    full-probe nearest-eval is EXACT — every train row present, the
    (eval_id, 6-dp cos_sim, flag) triple equal to the numpy brute
    force under the shared comparator."""
    from cs598vectordb_spark.operators.knnjoin import semantic_decontamination

    emb = _emb(spark, sf_dir)
    out = semantic_decontamination(
        emb.filter(F.col("vec_id") >= 50), emb.filter(F.col("vec_id") < 50)
    )
    got = sorted(
        (r.train_id, r.eval_id, r.cos_sim, r.contaminated) for r in out.collect()
    )
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    ev, tr = ids < 50, ids >= 50
    S = np.round(Xn[tr] @ Xn[ev].T, 6)
    eids = ids[ev]
    want = []
    for i, q in enumerate(ids[tr]):
        s = S[i]
        best = np.lexsort((eids, -s))[0]
        want.append((int(q), int(eids[best]), float(s[best]), bool(s[best] >= 0.35)))
    assert got == sorted(want)
    assert len(got) == int(tr.sum())
    flagged = sum(1 for r in got if r[3])
    assert 0 < flagged < len(got)


def test_knn_join_tiny_tile_bit_identical(spark, sf_dir):
    """The r18 query-axis tiling (the 237 GiB lesson from the first 10M
    semdecon run: cogroup hands the kernel the whole per-cell query
    group, so the score block must tile) is a pure memory-shape change:
    forcing ~degenerate tiles (tile_elems=1 → 256-query tiles after the
    floor, then an even smaller base→wider tile) must reproduce the
    default kernel's rows bit-for-bit, including the canonical tie cut
    at tile boundaries."""
    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    idx = build_join_index(emb, nlist=4, metric="cosine")
    idx.assigned.persist().count()
    try:
        kw = dict(k=5, nprobe=4, metric="cosine", exclude_self=True)
        want = sorted(
            tuple(r) for r in knn_join_ivf(q, idx, **kw).collect()
        )
        got = sorted(
            tuple(r)
            for r in knn_join_ivf(q, idx, tile_elems=1, **kw).collect()
        )
        assert got == want
        # query sharding widens the cogroup key (centroid_id,
        # xxhash64(q_id)%S) with the small side replicated ×S — the
        # global per-query window merge makes any S value-identical
        sharded = sorted(
            tuple(r)
            for r in knn_join_ivf(q, idx, query_shards=3, **kw).collect()
        )
        assert sharded == want
    finally:
        idx.assigned.unpersist()
