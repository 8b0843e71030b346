"""Dynamic-batching serving layer (operators/serving.py): merged-probe
results must be EXACTLY the solo-probe results per tenant (the batcher
is slot arithmetic, never math), merges must actually happen inside the
co-arrival window, the query cap must chunk without changing results,
and a probe failure must wake every waiter."""

from __future__ import annotations

import pandas as pd
import pytest

from cs598vectordb_spark.operators.serving import DynamicBatcher
from cs598vectordb_spark.sources.tables import load_table


def _fake_probe(qpdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic per-query result keyed on the PAYLOAD (q_id is an
    opaque label under the batcher's remapping contract — see
    DynamicBatcher's docstring): top-1 = (q_id, 1, emb[0]*10+7, .5)."""
    key = qpdf["embedding"].map(lambda v: int(v[0]))
    return pd.DataFrame(
        {
            "q_id": qpdf["q_id"].astype("int64"),
            "rank": 1,
            "vec_id": key.astype("int64") * 10 + 7,
            "dist": 0.5,
        }
    )


def test_batched_results_match_solo(spark, sf_dir):
    """4 concurrent tenants with DISJOINT query frames through one
    batcher over a real layered2 index: every tenant's rows equal its
    solo probe bit for bit (per-query beam walks are independent of
    batch composition, and the window merge is per-q_id), and the
    co-arrival window actually merged (probe executions < submits)."""
    from concurrent.futures import ThreadPoolExecutor

    from cs598vectordb_spark.operators.graph import (
        build_layered_graph2,
        knn_graph_layered2,
    )
    from cs598vectordb_spark.operators.serving import layered2_probe_fn

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_layered_graph2(emb, 4, 4, degree=16)
    kw = dict(k=5, nprobe1=2, nprobe2=6, beam=24)

    frames = []
    for t in range(4):
        qdf = (
            emb.filter(
                (emb.vec_id >= t * 5) & (emb.vec_id < t * 5 + 5)
            )
            .select(emb.vec_id.alias("q_id"), "embedding")
        )
        frames.append((qdf, qdf.toPandas()))

    # co-arrival staged deterministically: a barrier releases all four
    # tenants into submit() together, and the window is generous, so
    # the merge-count assertion cannot flake on a loaded host where a
    # scheduling stall could outlast a tight window (ADVICE r14)
    import threading

    gate = threading.Barrier(4)
    batcher = DynamicBatcher(
        layered2_probe_fn(
            spark, idx, k=5, nprobe1=2, nprobe2=6, beam=24
        ),
        max_wait_ms=1500.0,
    )

    def tenant(t: int):
        gate.wait(timeout=30)
        return batcher.submit(frames[t][1])

    with ThreadPoolExecutor(max_workers=4) as pool:
        got = list(pool.map(tenant, range(4)))

    for t in range(4):
        want = sorted(
            (r.q_id, r.rank, r.vec_id, r.dist)
            for r in knn_graph_layered2(idx, frames[t][0], **kw).collect()
        )
        have = sorted(
            (int(r.q_id), int(r.rank), int(r.vec_id), float(r.dist))
            for r in got[t].itertuples()
        )
        assert have == want, f"tenant {t} diverged from its solo probe"
    assert batcher.n_submits == 4
    assert batcher.n_probe_calls < 4, (
        "no merge happened inside a 400 ms co-arrival window"
    )
    idx.segments.unpersist()


def test_batcher_cap_chunks_whole_frames():
    """max_batch_queries splits a drained batch into whole-tenant
    chunks: results stay per-tenant correct, and a frame larger than
    the cap still executes solo rather than erroring."""
    from concurrent.futures import ThreadPoolExecutor

    b = DynamicBatcher(_fake_probe, max_wait_ms=200.0, max_batch_queries=8)
    frames = [
        pd.DataFrame(
            {
                "q_id": range(s, s + n),
                "embedding": [[float(s + j)] for j in range(n)],
            }
        )
        for s, n in ((0, 5), (100, 5), (200, 12))  # 12 > cap: solo chunk
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        got = list(pool.map(b.submit, frames))
    for f, g in zip(frames, got):
        assert list(g["q_id"]) == list(f["q_id"])
        assert list(g["vec_id"]) == [q * 10 + 7 for q in f["q_id"]]
    assert b.n_submits == 3


def test_batcher_propagates_probe_failure():
    """A probe exception must wake every merged waiter with the error —
    a hung tenant is worse than a failed one."""
    from concurrent.futures import ThreadPoolExecutor

    def boom(qpdf):
        raise RuntimeError("probe down")

    b = DynamicBatcher(boom, max_wait_ms=150.0)
    f = pd.DataFrame({"q_id": [1, 2], "embedding": [[0.0], [0.0]]})

    def tenant(_):
        with pytest.raises(RuntimeError, match="probe down"):
            b.submit(f)
        return True

    with ThreadPoolExecutor(max_workers=3) as pool:
        assert all(pool.map(tenant, range(3)))


def test_submit_rejects_out_of_range_q_ids():
    """Negative q_ids would floor-divide to slot -1 and silently vanish
    from every tenant; the batcher must fail loudly instead — and with
    ValueError, not assert, so -O cannot strip the check (ADVICE r14)."""
    b = DynamicBatcher(_fake_probe, max_wait_ms=1.0)
    bad_neg = pd.DataFrame({"q_id": [-1, 2], "embedding": [[0.0], [1.0]]})
    with pytest.raises(ValueError, match="q_id out of range"):
        b.submit(bad_neg)
    bad_big = pd.DataFrame(
        {"q_id": [1 << 40], "embedding": [[0.0]]}
    )
    with pytest.raises(ValueError, match="q_id out of range"):
        b.submit(bad_big)
    assert b.n_probe_calls == 0


def test_batched_ivfpq_matches_solo(spark, sf_dir):
    """The family-generalized batcher (r15): 4 concurrent tenants with
    DISJOINT query frames through one batcher over a real FUSED IVF-PQ
    index — every tenant's rows equal its solo fused probe bit for bit
    (the kernel scores per (query, probed list); batch composition
    cannot change any query's candidates), and co-arrivals merged."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from cs598vectordb_spark.operators.ivfpq import (
        build_ivfpq,
        knn_ivfpq_refined,
    )
    from cs598vectordb_spark.operators.serving import ivfpq_probe_fn

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_ivfpq(emb, nlist=8, m=8, ksub=16, keep_vectors=True)
    kw = dict(k=5, nprobe=4, mult=5)

    frames = []
    for t in range(4):
        qdf = (
            emb.filter(
                (emb.vec_id >= t * 5) & (emb.vec_id < t * 5 + 5)
            )
            .select(emb.vec_id.alias("q_id"), "embedding")
        )
        frames.append((qdf, qdf.toPandas()))

    gate = threading.Barrier(4)
    batcher = DynamicBatcher(
        ivfpq_probe_fn(spark, idx, emb, **kw), max_wait_ms=1500.0
    )

    def tenant(t: int):
        gate.wait(timeout=30)
        return batcher.submit(frames[t][1])

    with ThreadPoolExecutor(max_workers=4) as pool:
        got = list(pool.map(tenant, range(4)))

    for t in range(4):
        want = sorted(
            (r.q_id, r.rank, r.vec_id, r.dist)
            for r in knn_ivfpq_refined(idx, emb, frames[t][0], **kw).collect()
        )
        have = sorted(
            (int(r.q_id), int(r.rank), int(r.vec_id), float(r.dist))
            for r in got[t].itertuples()
        )
        assert have == want, f"tenant {t} diverged from its solo probe"
    assert batcher.n_submits == 4
    assert batcher.n_probe_calls < 4, "no merge happened"
    idx.codes.unpersist()
