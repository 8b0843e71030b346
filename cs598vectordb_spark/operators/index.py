"""Approximate-NN index builds — "index = materialized table" (SURVEY.md
§2.3 T2/T4).

The reference's indexes are opaque in-memory structures (HNSW graph
dynamic_script_faiss.py:53-57, IVF-PQ multi_tenant_script.py:94-99). Spark
has no graph index; the capability (sub-linear approximate top-k) is
delivered the Spark-native way:

* IVF (T2 analog): KMeans centroids (nlist) → base table written
  PARTITIONED BY centroid_id. A query probes its nprobe nearest
  centroids; the scan prunes to those partitions — the reference's
  "nprobe=10 of nlist=100 lists" is literally parquet partition pruning
  here (SURVEY.md §4).

* autotune (T4 analog, MRPT build_autotune_sample(0.9, 10),
  dynamic_script_mrpt.py:44-47): grid-search index params on a query
  sample against the exact oracle, return the cheapest config whose
  recall clears the target.

All randomized steps take SEED.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, SEED

# ------------------------------------------------------------------ IVF


@dataclass
class IvfIndex:
    """Materialized IVF index: centroid matrix + centroid-assigned base.
    When `path` is set, `assigned` is backed by a parquet table
    PARTITIONED BY centroid_id, so probe filters prune whole partitions."""

    assigned: DataFrame  # base columns + centroid_id
    centroids: np.ndarray  # (nlist, dim)
    nlist: int
    path: str | None = None
    # the metric the blocking geometry was BUILT for: "l2" cells split
    # same-direction points by magnitude, cosine (spherical) cells
    # share direction — probing one with the other's metric silently
    # degrades partial-probe recall, so metric-aware consumers
    # (knn_join_ivf) validate against this field (ADVICE r15)
    metric: str = "l2"

    def close(self) -> None:
        """Release the assigned table if a caller persisted it (workload
        protocols build per-snapshot indexes and must not leak them)."""
        self.assigned.unpersist()


def materialize_ivf(index: IvfIndex, path: str) -> IvfIndex:
    """Write the assigned table PARTITIONED BY centroid_id and re-open it
    — the literal Spark rendering of 'nlist inverted lists on disk'
    (multi_tenant_script.py:94-99). After this, knn_ivf's centroid_id IN
    (probed) filter becomes parquet PartitionFilters: a probe of
    nprobe/nlist lists reads nprobe/nlist of the bytes."""
    spark = index.assigned.sparkSession
    # shuffle onto the list id before the partitioned write: the
    # assignment kernel's output is scan-partitioned, so a direct
    # partitionBy fans every task across every list directory —
    # ~tasks×nlist tiny files whose open overhead dominates the probe
    # scan (measured 13.5 s opens vs ~1 s decode at 1M×1024 on the
    # IVF-PQ sibling). One file per list; at 100 TB file count scales
    # with nlist × per-list shards, never × write parallelism.
    index.assigned.repartition(index.nlist, "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(path)
    assigned = spark.read.parquet(path)
    return IvfIndex(assigned, index.centroids, index.nlist, path, index.metric)


_KMEANS_FAST_K = 4096  # strictly above every pinned shape (ksub=256, bench nlist=1024)


def _kmeans_fit(X: np.ndarray, k: int, seed: int = SEED, iters: int = 20) -> np.ndarray:
    """Plain numpy Lloyd's on a driver-side sample. The reference trains
    its coarse quantizer on a 100K sample (xt, multi_tenant_script.py:96)
    — sampling-to-driver IS the reference's own design; at 100 TB use
    df.sample() to bound the sample. Deterministic k-means++ init.

    Large-k fast path (k ≥ _KMEANS_FAST_K): the sequential k-means++
    loop is O(k·n·d) with k dependent draws — ~10 min of driver time at
    the XL join's nlist=10,000 (SCALING §7 pinned it as the 10M×10M
    build's dominant term) — and the per-cluster mean update is an
    O(k·n) Python loop per Lloyd iteration. At blocking-quantizer k the
    field's standard is seeded random init + Lloyd (FAISS Clustering
    trains coarse quantizers exactly so); the fast path uses a seeded
    no-replacement row draw, a row-chunked assignment GEMM (the full
    n×k distance block is 8 GB float64 at n=100k, k=10k), and
    bincount-based cluster means. The threshold sits strictly above
    every committed index shape (PQ ksub=256, the 1M bench family's
    nlist=1024), so all pinned recall/bench numbers keep their exact
    k-means++ centroids — only the XL nlist=10,000 builds switch."""
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    if k >= _KMEANS_FAST_K:
        return _kmeans_fit_large_k(X, k, rng, iters)
    # k-means++ seeding with the incremental nearest-centroid distance
    # (O(k·n·d), not O(k²·n·d) — matters for 256-centroid PQ codebooks);
    # identical draws to the naive recompute, so seeded results are stable.
    cents = [X[rng.integers(n)]]
    d2 = np.square(X - cents[0]).sum(-1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        new = X[rng.choice(n, p=probs)]
        cents.append(new)
        d2 = np.minimum(d2, np.square(X - new).sum(-1))
    C = np.array(cents)
    # Lloyd step in GEMM form (|x|² − 2XCᵀ + |c|²): the broadcasted
    # (x − c)² form materializes an n×k×d temporary — 5 GB/iteration at
    # n=20K, k=256, d=128, and it DOMINATED the 100K-base IVF-PQ build
    # (139 s → ~20 s). Same argmin up to fp summation order; seeded
    # init is unchanged, and every consumer is recall/floor-gated, not
    # value-hashed, so a last-ulp tie flip cannot break an oracle.
    x2 = np.square(X).sum(1, keepdims=True)
    for _ in range(iters):
        d2 = x2 - 2.0 * (X @ C.T) + np.square(C).sum(1)[None, :]
        assign = d2.argmin(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def _kmeans_fit_large_k(
    X: np.ndarray, k: int, rng: np.random.Generator, iters: int
) -> np.ndarray:
    """Seeded-random-init chunked Lloyd for blocking quantizers at
    k ≥ _KMEANS_FAST_K — see _kmeans_fit's docstring. Deterministic for
    a given (seed, k, X): the init is one no-replacement Generator draw
    and every Lloyd step is pure numpy.

    The assignment step is memory-bound, not GEMM-bound (the n×k
    distance block is 8 GB float64 at n=100k, k=10k — the first A/B
    draw measured 897 s at that shape with full-precision blocks), so
    it runs in float32 with in-place block arithmetic and drops the
    per-row |x|² term (constant within a row — cannot change the
    argmin). Centroid means still accumulate in float64 over the
    ORIGINAL rows (bincount weights), so assignment precision is the
    only fp concession — fine for a blocking quantizer whose consumers
    are recall/floor-gated (kmeans_ab_10k_r18.json records the quality
    stats; the pytest pin asserts SSE parity with the ++ path)."""
    n, d = X.shape
    k = min(k, n)
    X32 = X.astype(np.float32)
    C = X32[rng.choice(n, size=k, replace=False)].copy()
    # cap the chunked distance block ~800 MB float32
    chunk = max(1024, int(2e8) // max(k, 1))
    assign = np.empty(n, dtype=np.int64)
    for _ in range(iters):
        c2 = np.square(C).sum(1)[None, :]
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            blk = X32[s:e] @ C.T
            blk *= -2.0
            blk += c2
            assign[s:e] = blk.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        # d bincount passes = O(n·d) C-speed scatter means (vs the
        # small-k path's O(k·n) Python mask loop per iteration)
        sums = np.stack(
            [np.bincount(assign, weights=X[:, j], minlength=k) for j in range(d)],
            axis=1,
        )
        nz = counts > 0
        C[nz] = (sums[nz] / counts[nz, None]).astype(np.float32)
    return C.astype(np.float64)


def build_ivf_index(
    base: DataFrame,
    nlist: int = 16,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> IvfIndex:
    """Train centroids on a bounded sample, then assign every base row to
    its nearest centroid with a vectorized Arrow kernel. The assigned
    table is the index; at scale it is written
    .write.partitionBy('centroid_id') so probes prune partitions."""
    import pandas as pd

    # orderBy+limit = distributed top-N (deterministic sample; a bare
    # limit() is partition-order-dependent and would make centroids
    # unstable across runs)
    sample = base.select(id_col, vec_col).orderBy(id_col).limit(train_sample).toPandas()
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    C = _kmeans_fit(X, nlist, seed)
    bc = base.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        Cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (
                np.square(B).sum(1, keepdims=True)
                - 2.0 * (B @ Cb.T)
                + np.square(Cb).sum(1)[None, :]
            )
            pdf = pdf.assign(centroid_id=d2.argmin(axis=1).astype(np.int32))
            yield pdf

    from pyspark.sql.types import IntegerType, StructField, StructType

    in_schema = base.select(id_col, vec_col).schema
    out_schema = StructType(list(in_schema.fields) + [StructField("centroid_id", IntegerType())])
    assigned = base.select(id_col, vec_col).mapInPandas(assign, out_schema)
    return IvfIndex(assigned, C, nlist)


def knn_ivf(
    index: IvfIndex,
    queries: DataFrame,
    k: int = DEFAULT_K,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe nprobe nearest centroids per query (driver-side — queries
    and centroids are both driver-sized), prune the scan to the probed
    lists, and score with the same map-side GEMM/local-top-k kernel as
    knn_exact, masking each (row, query) pair whose centroid the query
    did not probe.

    Plan shape: the static IN-list on the union of probed centroids
    reaches the SCAN — on a partitionBy(centroid_id) table
    (materialize_ivf) it becomes PartitionFilters and unprobed lists are
    never read, the Spark rendering of 'nprobe of nlist inverted lists'
    (multi_tenant_script.py:98). After the pruned scan there are NO
    joins: one map stage emits local top-k, the only shuffle carries
    ≤ |parts|·|Q|·k rows into the final window."""
    from cs598vectordb_spark.operators.knn import squared_l2_block, topk_canonical

    spark = queries.sparkSession
    qpdf = queries.select("q_id", vec_col).toPandas()
    q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
    Q = np.ascontiguousarray(np.stack(qpdf[vec_col].to_numpy()), dtype=np.float64)
    d2 = (
        np.square(Q).sum(1, keepdims=True)
        - 2.0 * (Q @ index.centroids.T)
        + np.square(index.centroids).sum(1)[None, :]
    )
    nearest = np.argsort(d2, axis=1)[:, :nprobe]
    probed = np.zeros((index.nlist, len(q_ids)), dtype=bool)  # centroid × query
    for j, row in enumerate(nearest):
        probed[row, j] = True
    probe_set = sorted({int(c) for row in nearest for c in row})
    bc = spark.sparkContext.broadcast((q_ids, Q, probed))

    def kernel(batches):
        bq_ids, bQ, bprobed = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            B = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
            scores = squared_l2_block(B, bQ)
            scores[~bprobed[pdf["centroid_id"].to_numpy(dtype=np.int64)]] = np.inf
            out = topk_canonical(scores, ids, bq_ids, k, ascending=True, score_col="dist")
            if len(out):
                yield out

    local = (
        index.assigned.filter(F.col("centroid_id").isin(probe_set))
        .select(F.col(id_col), F.col(vec_col), F.col("centroid_id"))
        .mapInPandas(kernel, "q_id long, vec_id long, dist double")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
    )


def build_ivf_index_mllib(
    base: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> IvfIndex:
    """T2 via MLlib: distributed KMeans over the FULL base table (no
    driver sample) — the path for bases too big to sample meaningfully.
    array_to_vector at the MLlib boundary only; the stored table stays
    ARRAY<FLOAT> (SURVEY §7 hard-part e). Assignment reuses the trained
    model's transform, then drops the UDT column immediately."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = base.select(
        id_col, vec_col, array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features")
    )
    model = KMeans(k=nlist, seed=seed, featuresCol="_features", predictionCol="centroid_id").fit(feats)
    assigned = model.transform(feats).select(
        id_col, vec_col, F.col("centroid_id").cast("int")
    )
    C = np.array([np.asarray(c) for c in model.clusterCenters()])
    return IvfIndex(assigned, C, nlist)


# ------------------------------------------------------------- autotune


def autotune_ivf(
    base: DataFrame,
    queries: DataFrame,
    truth: DataFrame,
    target_recall: float = 0.9,
    k: int = DEFAULT_K,
    nlist: int = 16,
    nprobes: list[int] | None = None,
) -> tuple[dict, list[dict]]:
    """T4 for IVF: sweep nprobe on one built index, score recall against
    the exact oracle, return the cheapest probe count clearing the
    target (the reference's fixed nprobe=10-of-100 becomes a measured
    choice). Selectivity here is nprobe/nlist — the fraction of lists
    (and, on a materialized index, of bytes) each query touches."""
    from cs598vectordb_spark.operators.metrics import recall_at_k

    nprobes = nprobes or [1, 2, 4, 8, 12, 16]
    idx = build_ivf_index(base, nlist=nlist)
    idx.assigned = idx.assigned.persist()
    trace, best = [], None
    try:
        for npb in nprobes:
            if npb > nlist:
                continue
            rec = recall_at_k(knn_ivf(idx, queries, k, nprobe=npb), truth, k).collect()[0][0]
            entry = {"nlist": nlist, "nprobe": npb, "recall": rec, "selectivity": round(npb / nlist, 4)}
            trace.append(entry)
            if rec >= target_recall and best is None:
                best = entry
    finally:
        idx.assigned.unpersist()
    return best or {}, trace
