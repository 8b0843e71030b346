"""Batch top-k nearest-neighbor search — the reference's core query.

Reference semantics: for each of |Q| query vectors return the ids of the
k nearest base vectors under L2, rank-ordered (FAISS `index.search(xq, k)`,
/root/reference/dynamic_script_faiss.py:35,60; k=10 everywhere). This module
is the exact/brute-force engine; it doubles as the ground-truth generator
(stands in for sift_groundtruth.ivecs, dynamic_script_faiss.py:21).

Two implementations with identical results:

* ``knn_exact`` (primary, scale path): Arrow-batched ``mapInPandas`` kernel.
  The query matrix (small side — the reference never exceeds 10K queries)
  is broadcast to every partition; each partition computes a BLAS
  distance-matrix block in float64 and emits only its LOCAL top-k per
  query. The shuffle that follows carries ≤ |partitions|·|Q|·k rows — NOT
  the |B|·|Q| cross product — so the plan survives a 100 TB base table:
  scan-heavy map stage, tiny shuffle, tiny final top-k reduction. This is
  the classic map-side-combine shape for top-k.

* ``knn_exact_expr`` (Catalyst-only cross-check): crossJoin(broadcast(Q))
  + zip_with/aggregate squared-L2 + per-query window. Whole-stage-codegen
  end to end, no Python — but it shuffles |B|·|Q| scored rows into the
  window, so it is the small/medium-scale and oracle-parity variant. Tests
  assert both produce identical (q_id, rank, vec_id).

Determinism: ranking orders by (dist ASC, vec_id ASC); the vec_id
tie-break matches FIXTURES.md so results hash-compare against DuckDB.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K
from cs598vectordb_spark.functions.distance import cosine_similarity, squared_l2

_KNN_SCHEMA = "q_id long, vec_id long, dist double"


def topk_canonical(
    scores: np.ndarray,
    ids: np.ndarray,
    q_ids: np.ndarray,
    k: int,
    ascending: bool,
    score_col: str = "dist",
) -> pd.DataFrame:
    """Local top-k over a precomputed |B|×|Q| score block under the
    CANONICAL (score, vec_id ASC) total order — exactly k finite rows
    per query (fewer only when fewer finite rows exist). Rows scored
    ±inf (masked out, e.g. IVF list membership, exclude_self) never
    emit.

    Because the comparator is a total order shared with the final
    per-query window, the local cut is globally safe even when a score
    tie straddles the k boundary: the members kept locally (lowest
    vec_ids within the tie) are precisely the ones the global ranking
    would keep from this block. This closes BOTH kernel defects the
    advisors flagged: the argpartition-only cut kept an ARBITRARY tie
    member (ADVICE r15), and the tie-INCLUSIVE replacement emitted the
    whole tie — unbounded on duplicate-heavy corpora, where a
    near-dup cluster made per-query emission O(cluster) instead of k
    (ADVICE r16). Vectorized: one column-partition for the kth scores,
    one mask + nonzero; a per-column lexsort runs ONLY over the rare
    boundary-tie columns, and only over their ≤(k + tie width)
    candidates. Emitted rows are unordered candidates — the final
    window alone assigns ranks.

    Scores should arrive pre-rounded when the ranking is defined on a
    rounded score (the knn_join / hybrid oracle discipline) so ties
    are exact equality on both engine and SQL sides."""
    col = scores if ascending else -scores
    n, nq = col.shape
    k_eff = min(k, n)
    kth = np.partition(col, k_eff - 1, axis=0)[k_eff - 1, :]
    mask = (col <= kth[None, :]) & np.isfinite(col)
    b_idx, q_idx = np.nonzero(mask)
    counts = np.bincount(q_idx, minlength=nq)
    over = np.nonzero(counts > k_eff)[0]
    if over.size:
        keep = np.ones(b_idx.shape[0], dtype=bool)
        for j in over:
            sel = np.nonzero(q_idx == j)[0]
            rows = b_idx[sel]
            order = np.lexsort((ids[rows], col[rows, j]))
            keep[sel[order[k_eff:]]] = False
        b_idx, q_idx = b_idx[keep], q_idx[keep]
    return pd.DataFrame(
        {
            "q_id": q_ids[q_idx],
            "vec_id": ids[b_idx],
            score_col: scores[b_idx, q_idx],
        }
    )


def squared_l2_block(B: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """||b-q||² for every (base, query) pair — one BLAS GEMM.

    Updates the GEMM output in place so the only |B|×|Q| transient is the
    result itself (the expression form allocated three: the product, the
    broadcast sum, and the maximum copy — 3× the peak per-task memory in
    the graph builders' exact-segment path)."""
    d2 = B @ Q.T
    d2 *= -2.0
    d2 += np.square(B).sum(axis=1, keepdims=True)
    d2 += np.square(Q).sum(axis=1)[np.newaxis, :]
    np.maximum(d2, 0.0, out=d2)  # fp noise can dip a self-distance below 0
    return d2


def _topk_per_query(
    B: np.ndarray,
    ids: np.ndarray,
    Q: np.ndarray,
    q_ids: np.ndarray,
    k: int,
    metric: str,
    score_round: int | None = None,
) -> pd.DataFrame:
    """Vectorized local top-k for one Arrow batch. float64 throughout.

    score_round rounds the score matrix BEFORE the cut (and therefore
    before the final window, which ranks the emitted values) — the
    round-before-ranking discipline an oracle-graded consumer needs so
    a last-ulp summation difference vs the SQL twin cannot flip a rank
    (see operators/knnjoin.py COS_ROUND). Default None preserves the
    raw-score ranking of the long-green knn_exact family oracles."""
    if metric == "l2":
        scores = squared_l2_block(B, Q)
        ascending = True
    elif metric == "cosine":
        bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
        qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
        scores = bn @ qn.T
        ascending = False
    elif metric == "ip":
        # maximum inner product (MIPS) — FAISS METRIC_INNER_PRODUCT, the
        # third of the reference libraries' standard metrics
        scores = B @ Q.T
        ascending = False
    else:  # pragma: no cover
        raise ValueError(f"unknown metric {metric}")
    if score_round is not None:
        np.round(scores, score_round, out=scores)
    return topk_canonical(scores, ids, q_ids, k, ascending, score_col="dist")


def knn_exact(
    base: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_K,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int | None = None,
) -> DataFrame:
    """Exact batch kNN: (q_id, rank, vec_id, dist), rank 1..k per q_id.

    The query side is collected and broadcast (the reference's own design
    point: xq is 10K × 128 — driver-sized by construction). The base side
    streams through mapInPandas; only local top-k rows reach the shuffle.

    score_round (default None = raw-score ranking, the knn_exact family
    oracles' long-green behavior) rounds scores before BOTH the local
    cut and the final window — pass COS_ROUND when the consumer's SQL
    twin ranks on a rounded score (the hybrid RRF vector leg).
    """
    spark = base.sparkSession
    qpdf = queries.select("q_id", vec_col).toPandas()
    q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
    Q = np.ascontiguousarray(np.stack(qpdf[vec_col].to_numpy()), dtype=np.float64)
    bc = spark.sparkContext.broadcast((q_ids, Q))

    # Map-stage width rule (r17): byte-based file splitting never widens
    # a small base (a 2,000-row fixture table is one ~1 MB parquet split),
    # so a LARGE query batch against a SMALL base ran as a single task —
    # one core computing the whole |B|×|Q| block while 31 idled
    # (measured: 4,976 → 8,777 QPS at the 10k-query sf0.1 point from
    # widening to 32 partitions). Widen only when the batch is big
    # enough to amortize the shuffle and the base is visibly narrower
    # than the cluster; at real scale (base ≥ cores × maxPartitionBytes)
    # this is a no-op, so the 100 TB plan is untouched.
    if len(q_ids) >= 512:
        try:
            want = spark.sparkContext.defaultParallelism
            if base.rdd.getNumPartitions() < want:
                base = base.repartition(want)
        except Exception:
            pass  # e.g. exotic sessions where the RDD view is unavailable

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bq_ids, bQ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            B = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
            yield _topk_per_query(B, ids, bQ, bq_ids, k, metric, score_round)

    local = base.select(F.col(id_col), F.col(vec_col)).mapInPandas(kernel, _KNN_SCHEMA)
    order = [F.col("dist").asc(), F.col("vec_id").asc()] if metric == "l2" else [
        F.col("dist").desc(),
        F.col("vec_id").asc(),
    ]
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
    )


def knn_exact_expr(
    base: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_K,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Catalyst-expression variant (no Python in the plan). Same output."""
    q = queries.select(F.col("q_id"), F.col(vec_col).alias("_q_emb"))
    b = base.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_b_emb"))
    if metric == "l2":
        dist = squared_l2("_q_emb", "_b_emb")
        order = [F.col("dist").asc(), F.col("vec_id").asc()]
    else:
        dist = cosine_similarity("_q_emb", "_b_emb")
        order = [F.col("dist").desc(), F.col("vec_id").asc()]
    scored = b.crossJoin(F.broadcast(q)).select("q_id", "vec_id", dist.alias("dist"))
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
    )


def hard_negatives(
    base: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_K,
    max_cos: float = 0.95,
    expand: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, rank, vec_id, cos_sim): hard-negative mining for
    contrastive embedding training (the SimCSE/E5/DPR recipe): per
    anchor, the most-similar vectors that are NOT the anchor itself and
    NOT near-duplicates (cosine > max_cos — those are false negatives
    that poison the contrastive loss; semdedup/embedding_near_dup find
    them, this op EXCLUDES them). High-similarity-but-distinct is
    exactly what makes a negative hard.

    Plan: the exact cosine kernel with an expansion factor (expand·k +
    a pad), then the near-dup/self filter and one per-query re-rank
    window — the same post-filter-with-expansion shape as
    knn_graph2_filtered; if a query has more than (expand−1)·k
    near-dups the tail truncates (the documented expansion tradeoff).
    Only top-k candidate rows reach the shuffle, never the base."""
    cand = knn_exact(
        base, queries, k=expand * k + 8, metric="cosine", id_col=id_col, vec_col=vec_col
    )
    kept = cand.filter(
        (F.col("vec_id") != F.col("q_id")) & (F.col("dist") <= max_cos)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").desc(), F.col("vec_id").asc())
    return (
        kept.withColumn("new_rank", F.row_number().over(w))
        .filter(F.col("new_rank") <= k)
        .select(
            "q_id",
            F.col("new_rank").alias("rank"),
            "vec_id",
            F.round(F.col("dist"), 6).alias("cos_sim"),
        )
    )


def knn_collect(knn: DataFrame) -> DataFrame:
    """Reshape long kNN rows into one row per query with a rank-ordered id
    list (the reference's (D, I) matrix form, Q4 — e.g. Milvus result
    vstack, /root/reference/dynamic_script_milvus.py:51,103). Emitted as a
    CSV string so the value hashes identically across engines."""
    return knn.groupBy("q_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "vec_id"))),
                lambda s: s["vec_id"].cast("string"),
            ),
            ",",
        ).alias("nn_csv")
    )


def knn_range(
    base: DataFrame,
    queries: DataFrame,
    radius2: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range (radius) search: ALL base vectors within squared-L2 radius2
    of each query — FAISS index.range_search re-expressed declaratively
    (the fourth query mode next to top-k L2/cosine/IP). Pure Catalyst:
    broadcast the query batch, crossJoin, filter on the codegen'd
    distance expression — no Python in the plan, and the filter runs
    INSIDE whole-stage codegen so non-matching pairs die before the
    (tiny) result ever materializes. Unlike top-k there is no per-query
    result bound; the radius IS the bound, so at 100 TB the caller
    chooses radius2 from a distance histogram (pca_spectrum-style
    planning artifact) rather than k."""
    q = queries.select(F.col("q_id"), F.col(vec_col).alias("_q_emb"))
    b = base.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_b_emb"))
    return (
        b.crossJoin(F.broadcast(q))
        .filter(squared_l2("_q_emb", "_b_emb") <= radius2)
        .select("q_id", "vec_id")
    )
