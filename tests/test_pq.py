"""IVF-PQ: recall floors, probe determinism, the fused refine, and the
delete/insert/compact layout paths."""

from __future__ import annotations

import pytest

from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.metrics import recall_at_k
from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings


@pytest.fixture(scope="module")
def emb_q(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb, queries_from_embeddings(emb, 30)


def test_ivfpq_recall_floors(spark, sf_dir):
    """IVF-PQ (residual codes in centroid-partitioned lists, per-list ADC
    LUTs) holds the approximate-family floor raw and improves under the
    exact re-rank; refined stays below the IVF pruning ceiling (nprobe/
    nlist bounds what any in-list codec can recover)."""
    import __spark_entry__ as em

    from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 100)
    truth = knn_exact(emb, q, 10)
    raw = recall_at_k(em.queries()["knn_ivfpq"](spark, sf_dir), truth, 10).collect()[0][0]
    ref = recall_at_k(em.queries()["knn_ivfpq_refined"](spark, sf_dir), truth, 10).collect()[0][0]
    assert raw >= 0.70, raw
    assert ref >= raw
    assert ref >= 0.80, (raw, ref)


def test_ivfpq_materialized_probe_matches_inmemory(spark, emb_q, tmp_path):
    """Materializing the code table (partitionBy centroid_id, reopen from
    parquet) must not change a single probe row vs the in-memory build —
    same seed, same codebooks, same codes, byte-identical top-k."""
    from cs598vectordb_spark.operators.ivfpq import build_ivfpq, knn_ivfpq

    emb, q = emb_q
    mem = build_ivfpq(emb, nlist=8, m=16, ksub=16)
    disk = build_ivfpq(emb, nlist=8, m=16, ksub=16, path=str(tmp_path / "pq"))
    a = sorted(
        (r.q_id, r.rank, r.vec_id) for r in knn_ivfpq(mem, q, 10, nprobe=4).collect()
    )
    b = sorted(
        (r.q_id, r.rank, r.vec_id) for r in knn_ivfpq(disk, q, 10, nprobe=4).collect()
    )
    assert a == b
    mem.close()


def test_ivfpq_topk_deterministic_under_ties(spark):
    """ADVICE r8: identical code vectors (here guaranteed — every vector
    appears 4x) create ADC score ties at the k boundary; the emitted
    top-k must be identical across different physical partitionings of
    the code lists, with tied groups ordered by vec_id."""
    import numpy as np

    from cs598vectordb_spark.operators.ivfpq import (
        IvfPqIndex,
        build_ivfpq,
        knn_ivfpq,
    )

    rng = np.random.default_rng(3)
    V = rng.standard_normal((50, 16)).astype("float32")
    X = np.repeat(V, 4, axis=0)  # 200 rows, every vector 4x
    base = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    idx = build_ivfpq(base, nlist=4, m=4, ksub=4, train_sample=200)
    q = base.filter("vec_id < 8").selectExpr("vec_id as q_id", "embedding")

    outs = []
    for parts in (1, 7):
        codes = idx.codes.repartition(parts).persist()
        codes.count()
        shuffled = IvfPqIndex(codes, idx.centroids, idx.cb, idx.nlist, None)
        outs.append(
            sorted(
                (r.q_id, r.rank, r.vec_id)
                for r in knn_ivfpq(shuffled, q, k=6, nprobe=2).collect()
            )
        )
        codes.unpersist()
    idx.close()
    assert outs[0] == outs[1]
    # within each query, every rank 1..6 exactly once
    per_q = {}
    for qid, rank, _ in outs[0]:
        per_q.setdefault(qid, []).append(rank)
    assert all(sorted(v) == list(range(1, 7)) for v in per_q.values())


def test_ivfpq_fused_refine_dominates_join_path(spark, emb_q):
    """The fused (keep_vectors) refined probe considers a per-list
    candidate superset of the join form's global-mult·k shortlist (any
    row in the global ADC top-mult·k is a fortiori in its own list's
    top-mult·k), so rank for rank its exact distances can only be equal
    or closer. Both paths share the same seed → same codebooks, so this
    pins the fused kernel's selection logic against the join form as
    oracle."""
    from cs598vectordb_spark.operators.ivfpq import build_ivfpq, knn_ivfpq_refined

    emb, q = emb_q
    plain = build_ivfpq(emb, nlist=8, m=16, ksub=16)
    fused = build_ivfpq(emb, nlist=8, m=16, ksub=16, keep_vectors=True)
    assert "embedding" in fused.codes.columns and "embedding" not in plain.codes.columns

    def dists_by_q(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.q_id, []).append((r.rank, r.dist))
        return {
            qid: [d for _, d in sorted(v)] for qid, v in out.items()
        }

    j = dists_by_q(knn_ivfpq_refined(plain, emb, q, 10, nprobe=4))
    f = dists_by_q(knn_ivfpq_refined(fused, emb, q, 10, nprobe=4))
    assert set(j) == set(f)
    for qid in j:
        assert len(f[qid]) == len(j[qid])
        for fd, jd in zip(f[qid], j[qid]):
            # 1e-6 absorbs JVM-float32 vs numpy-float64 distance noise
            assert fd <= jd + 1e-6, (qid, fd, jd)
    plain.close()
    fused.close()


def test_ivfpq_update_layout_paths(spark, sf_dir, tmp_path):
    """r14 post-update layout (VERDICT r13 item 1): tombstone delete
    (broadcast anti-join — layout-preserving, no shuffle, no re-layout)
    and delta-layout insert (arrivals landed in a sibling
    list-partitioned parquet dir; serving relation = union of two
    partition-pruned scans) must be VALUE-CORRECT through a
    delete→reinsert cycle — at a saturating probe (nprobe = nlist,
    mult·k ≥ every list) the fused refined probe is exact over the
    table, so the restored index must answer IDENTICALLY to the
    pristine one (frozen codec: same vectors → same codes) — and must
    keep FILE-LEVEL pruning: a small-nprobe post-update probe reads
    ~nprobe/nlist of the index files (main + one delta generation),
    never the whole table (the r13 regroup form's cached relation
    scanned every batch per probe — the 1.2–2.1× post-update tax this
    layout closes). compact_ivfpq must fold the generations back into
    one layout serving the same rows."""
    from pyspark.sql import functions as F

    from cs598vectordb_spark.functions.planmetrics import executed_plan_metrics
    from cs598vectordb_spark.operators.ivfpq import (
        build_ivfpq,
        compact_ivfpq,
        delete_from_ivfpq,
        insert_into_ivfpq,
        knn_ivfpq_refined,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 5)
    idx = build_ivfpq(
        emb, nlist=8, m=16, ksub=16, keep_vectors=True,
        path=str(tmp_path / "main"),
    )

    def full(ix):  # saturating probe: every list probed, every row re-ranked
        return knn_ivfpq_refined(ix, emb, q, k=10, nprobe=8, mult=200)

    def ids(df):
        return [
            (r.q_id, r.rank, r.vec_id)
            for r in df.orderBy("q_id", "rank").collect()
        ]

    got_pre = ids(full(idx))

    keep = emb.filter(F.col("vec_id") % 2 != 0)
    dropped = emb.filter(F.col("vec_id") % 2 == 0)
    del_ids_path = str(tmp_path / "del_ids")
    dropped.select("vec_id").coalesce(1).write.parquet(del_ids_path)
    del_ids = spark.read.parquet(del_ids_path)

    tomb = delete_from_ivfpq(idx, keep, deleted=del_ids)
    assert tomb.path == idx.path, "tombstone delete must preserve the layout"
    got_del = full(tomb).collect()
    assert got_del and all(r.vec_id % 2 != 0 for r in got_del), (
        "tombstoned ids served"
    )

    ins = insert_into_ivfpq(tomb, dropped)
    assert ins.path == idx.path, "delta insert must preserve the main layout"
    assert ids(full(ins)) == got_pre, (
        "restored index diverged from pristine under the frozen codec"
    )

    # file-level pruning survives the cycle: small probe reads the
    # probed lists' files (main + delta) + the 1-file tombstone ids —
    # bounded by the pristine probe's files, never the whole table
    m_pre = executed_plan_metrics(
        knn_ivfpq_refined(idx, emb, q, k=10, nprobe=2, mult=5)
    )
    m_post = executed_plan_metrics(
        knn_ivfpq_refined(ins, emb, q, k=10, nprobe=2, mult=5)
    )
    assert m_pre["files_read"] >= 1
    assert m_post["files_read"] <= 2 * m_pre["files_read"] + 2, (m_pre, m_post)

    comp = compact_ivfpq(ins, str(tmp_path / "folded"))
    assert ids(full(comp)) == got_pre, "compaction changed served rows"


def test_delta_generation_hygiene(tmp_path):
    """delta_generations orders numerically (lexicographic misorders
    __delta10 before __delta9); compact_ivfpq refuses to overwrite any
    still-lazy scan input (main layout or a live delta generation);
    drop_delta_generations removes exactly the generation dirs
    (ADVICE r14)."""
    import os

    import pytest

    from cs598vectordb_spark.operators.ivfpq import (
        delta_generations,
        drop_delta_generations,
    )

    main = str(tmp_path / "idx")
    os.makedirs(main)
    for n in (0, 2, 9, 10, 11):
        os.makedirs(f"{main}__delta{n}")
    os.makedirs(f"{main}__delta_not_a_gen")  # non-numeric: ignored
    gens = delta_generations(main)
    assert [g.rsplit("__delta", 1)[1] for g in gens] == [
        "0", "2", "9", "10", "11"
    ], gens
    assert drop_delta_generations(main) == 5
    assert delta_generations(main) == []
    assert os.path.isdir(main) and os.path.isdir(f"{main}__delta_not_a_gen")


def test_compact_refuses_self_overwrite(spark, sf_dir, tmp_path):
    import pytest

    from cs598vectordb_spark.operators.ivfpq import (
        build_ivfpq,
        compact_ivfpq,
        insert_into_ivfpq,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_ivfpq(
        emb.filter(F.col("vec_id") % 2 != 0), nlist=4, m=8, ksub=16,
        keep_vectors=True, path=str(tmp_path / "main"),
    )
    ins = insert_into_ivfpq(idx, emb.filter(F.col("vec_id") % 2 == 0))
    with pytest.raises(ValueError, match="still-lazy scan input"):
        compact_ivfpq(ins, idx.path)
    with pytest.raises(ValueError, match="still-lazy scan input"):
        compact_ivfpq(ins, f"{idx.path}__delta0")
    # a fresh dir works, and clean_source_deltas drops the folded gens
    comp = compact_ivfpq(ins, str(tmp_path / "folded"),
                         clean_source_deltas=True)
    assert comp.codes.count() == emb.count()
    import glob

    assert glob.glob(f"{idx.path}__delta*") == []


def test_auto_compact_policy_triggers_and_preserves_values(
    spark, sf_dir, tmp_path
):
    """The LSM policy (r15): auto_compact_ivfpq stays hands-off below
    max_generations, folds EXACTLY at the threshold into a fresh
    __compactN layout (never overwriting a lazy input), resets the
    generation count to zero, and the folded index answers a
    saturating probe IDENTICALLY to the fragmented one."""
    from pyspark.sql import functions as F

    from cs598vectordb_spark.operators.ivfpq import (
        auto_compact_ivfpq,
        build_ivfpq,
        delta_generations,
        insert_into_ivfpq,
        knn_ivfpq_refined,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, 5)
    idx = build_ivfpq(
        emb.filter(F.col("vec_id") % 5 == 0), nlist=4, m=8, ksub=16,
        keep_vectors=True, path=str(tmp_path / "main"),
    )

    def ids(ix):  # saturating probe: every list, every candidate
        return [
            (r.q_id, r.rank, r.vec_id)
            for r in knn_ivfpq_refined(ix, emb, q, k=10, nprobe=4, mult=200)
            .orderBy("q_id", "rank")
            .collect()
        ]

    for r in (1, 2):  # below threshold: policy must not touch anything
        idx = insert_into_ivfpq(idx, emb.filter(F.col("vec_id") % 5 == r))
        idx, fired = auto_compact_ivfpq(idx, max_generations=3)
        assert not fired and len(delta_generations(idx.path)) == r

    idx = insert_into_ivfpq(idx, emb.filter(F.col("vec_id") % 5 == 3))
    assert len(delta_generations(idx.path)) == 3
    pre = ids(idx)
    idx, fired = auto_compact_ivfpq(idx, max_generations=3)
    assert fired
    assert idx.path.endswith("__compact0")
    assert delta_generations(str(tmp_path / "main")) == []  # folded+dropped
    assert ids(idx) == pre, "compaction changed served rows"

    # the chain continues on the compacted layout: next insert is
    # generation 0 of the NEW root, and a re-fold steps to __compact1
    idx = insert_into_ivfpq(idx, emb.filter(F.col("vec_id") % 5 == 4))
    assert len(delta_generations(idx.path)) == 1
    full = ids(idx)
    idx, fired = auto_compact_ivfpq(idx, max_generations=1)
    assert fired and idx.path.endswith("__compact1")
    assert ids(idx) == full
