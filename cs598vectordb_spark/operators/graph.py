"""Graph-based ANN — the reference's headline index family (hnswlib /
FAISS IndexHNSWFlat, dynamic_script_faiss.py:53-57), re-expressed for
Spark instead of as a pointer-chasing in-memory graph.

Spark cannot mutate a shared graph during traversal, so the index is
segmented: a two-level k-means coarse layer prunes each query to a few
segments, and every segment holds an exact (or spill-partitioned) kNN
subgraph that one Arrow kernel walks best-first in numpy.

* ``build_layered_graph2`` / ``knn_graph_layered2`` — the segmented
  graph; segment count scales as nlist1·nlist2 past any driver-sized
  top layer. Served by worker-cached segments
  (``open_layered2(served=True)``) on the read path of record.

The coarse layer is hierarchical because a flat quantizer scores every
query against ALL nlist centroids on the driver — fine at thousands,
impossible when a 100 TB base wants nlist ~ sqrt(N) ~ 10^5-10^6 lists
(FAISS's two-level coarse quantizers; the reference trains its coarse
quantizer on a bounded sample, multi_tenant_script.py:94-99):

* L1: a driver-sized layer of nlist1 centroids, k-means on a bounded
  sample (the flat IVF trainer).
* L2: nlist2 sub-centroids per L1 cell, trained inside the one Python
  pass over each cell that also builds its segments' graphs; the L2
  table holds each sub-cell's exact mean and stays distributed — a
  probe pulls only its probed cells' rows (≤ nprobe1·nlist2).

Determinism: segment builds are seeded k-means plus exact edges with
id tie-breaks — identical graphs and results across runs; recall
floors are pinned in tests (≥0.7 bar, BASELINE.md's Annoy floor).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, SEED


# ---- layered (segmented) graph index ------------------------------------
# A DataFrame beam search is stage-count-bound: every hop is a join +
# window + checkpoint (~4 stages), so probe latency is Spark
# scheduling, not compute. The layered design is the HNSW-at-cluster-scale
# shape the reference itself benchmarks: Milvus builds ONE graph PER
# SEGMENT and merges across segments at query time
# (/root/reference/dynamic_script_milvus.py:76-82 HNSW index on a
# sharded collection). Spark rendering:
#
#   top layer  = the two-level coarse pruner: L1 (driver-sized) prunes to
#                nprobe1 cells, ONLY those cells' L2 sub-centroid rows
#                are pulled (bounded: nprobe1·nlist2, into a byte-capped
#                per-index driver cache — never the full L2 matrix of a
#                grid past the cap), and the nprobe2 nearest (l1, l2)
#                sub-cells are the probed segments;
#   base layer = a per-segment kNN subgraph, co-partitioned with its
#                vectors, walked ENTIRELY inside one Arrow kernel
#                (best-first beam search in numpy — no per-hop stages).
#
# Probe plan (pinned/cold): filter(probed segments) → applyInPandas walk
# → one global top-k window; the served mode instead merges its tasks'
# top-k rows on the driver. The segment table is persisted
# repartition()ed on segment_id, so the groupBy before the kernel needs
# NO exchange (asserted in tests/test_plans.py); the only shuffle
# carries ≤ nprobe2·|Q|·k candidate rows. Segment count scales as nlist1·nlist2
# with driver memory holding only nlist1 centroids + the probed L2 rows;
# at 100 TB each segment is a few million vectors whose subgraph a single
# executor walks in memory — the DiskANN/SPANN sharding story.
#
# Build plan: ONE applyInPandas per L1 cell (the cell's L2 k-means, its
# L2 assignment and every sub-cell's subgraph) → repartition on
# segment_id → persist; the L2 means come from the persisted segments
# with no exchange, and one count fills both caches. materialize writes
# the two tables (2 jobs) plus a driver-written L1 sidecar; the open
# reads parquet footers, not data (0 jobs). Job budgets pinned in
# tests/test_index.py.


def _local_knn_graph(
    X: np.ndarray, ids: np.ndarray, degree: int, block: int = 4096
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Exact per-segment kNN adjacency (global ids + distances), ties
    broken by id. Scored in COLUMN BLOCKS: peak extra memory is ONE
    |block|×|seg| float64 array (squared_l2_block updates its GEMM
    output in place) — 4096×16384×8 B = 512 MB at the exact-path cap
    (exact_segment_rows=16_384), ~0.6 GB worst case per Arrow worker
    with the argpartition scratch, never the full |seg|² matrix (a
    50k-row segment's full float64 matrix would be ~20 GB, an executor
    OOM at exactly the segment sizes a 100 TB base produces). Compute is
    still |seg|² GEMM, which is why the builders cap the exact path and
    hand larger segments to the spill-partitioned fallback
    (_local_partitioned_graph, forced end-to-end at exact_segment_rows=0
    in tests/test_index.py)."""
    from cs598vectordb_spark.operators.knn import squared_l2_block

    c = len(ids)
    k_eff = min(degree, c - 1)
    nbrs: list[np.ndarray] = []
    dists: list[np.ndarray] = []
    for lo in range(0, c, block):
        hi = min(lo + block, c)
        d2 = squared_l2_block(X[lo:hi], X)  # block × c — rows contiguous,
        # so the per-row argpartition below streams cache lines instead of
        # striding columns (the axis-0 orientation was ~30× slower)
        d2[np.arange(hi - lo), np.arange(lo, hi)] = np.inf
        part = np.argpartition(d2, k_eff - 1, axis=1)[:, :k_eff]
        dcand = np.take_along_axis(d2, part, axis=1)
        order = np.lexsort((ids[part], dcand), axis=1)  # per-row tie-break
        top = np.take_along_axis(part, order, axis=1)
        dtop = np.take_along_axis(dcand, order, axis=1)
        for i in range(hi - lo):
            nbrs.append(ids[top[i]].astype(np.int64))
            dists.append(dtop[i].astype(np.float64))
    return nbrs, dists


def _finalize_edges(
    ids: np.ndarray, cur_src: np.ndarray, cur_dst: np.ndarray, cur_d: np.ndarray
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Position-space edge list → per-node (global-id neighbors, dists),
    each node's list ordered by (dist, id)."""
    c = len(ids)
    so = np.lexsort((ids[cur_dst], cur_d, cur_src))
    cur_src, cur_dst, cur_d = cur_src[so], cur_dst[so], cur_d[so]
    split = np.searchsorted(cur_src, np.arange(1, c))
    return (
        np.split(ids[cur_dst].astype(np.int64), split),
        np.split(cur_d, split),
    )


def _local_partitioned_graph(
    X: np.ndarray,
    ids: np.ndarray,
    degree: int,
    spill: int = 2,
    target_cell: int = 4096,
    seed: int = SEED,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """kNN graph for segments too large for one |seg|² pass: k-means the
    segment into ~target_cell-row cells, SPILL-assign every node to its
    `spill` nearest cells (SPANN's closure assignment — two points near a
    shared boundary land in a common cell), build each cell's EXACT
    blocked graph in float32, and top-k merge the union. Cost is
    Σ|cell|² ≈ spill²·|seg|·target_cell multiply-adds of BLAS — no giant
    edge sorts, no convergence question — vs |seg|² for the flat exact
    path. Distances are scored in float32 (graph edges feed rows-only
    probe paths, never the value-hashed oracle surface); ties keep id
    order via lexsort."""
    from cs598vectordb_spark.operators.index import _kmeans_fit

    c = len(ids)
    order = np.argsort(ids, kind="stable")
    X, ids = X[order], ids[order]
    if c <= target_cell:
        return _local_knn_graph(X, ids, degree)
    k_eff = min(degree, c - 1)
    Xf = np.ascontiguousarray(X, dtype=np.float32)
    sqf = np.square(Xf).sum(axis=1)
    n_cells = max(spill + 1, -(-(spill * c) // target_cell))
    sample = Xf[(np.arange(min(c, 64 * n_cells)) * 7919) % c]
    C = _kmeans_fit(sample, n_cells, seed).astype(np.float32)
    csq = np.square(C).sum(axis=1)
    cell_of = np.empty((c, spill), dtype=np.int64)
    for lo in range(0, c, 8192):  # blocked assignment GEMM
        hi = min(lo + 8192, c)
        d2 = sqf[lo:hi, None] - 2.0 * (Xf[lo:hi] @ C.T) + csq[None, :]
        cell_of[lo:hi] = np.argpartition(d2, spill - 1, axis=1)[:, :spill]
    pair_cell = cell_of.ravel()
    pair_node = np.repeat(np.arange(c, dtype=np.int64), spill)
    o = np.argsort(pair_cell, kind="stable")  # members ascend within cell
    pair_cell, pair_node = pair_cell[o], pair_node[o]
    bounds = np.searchsorted(pair_cell, np.arange(n_cells + 1))
    key_parts, d_parts = [], []
    for ci in range(n_cells):
        members = pair_node[bounds[ci] : bounds[ci + 1]]
        if len(members) <= 1:
            continue
        nb, dd = _local_knn_graph(Xf[members], np.arange(len(members)), degree)
        counts = np.fromiter((len(a) for a in nb), dtype=np.int64, count=len(nb))
        src_l = np.repeat(np.arange(len(members)), counts)
        dst_l = np.concatenate(nb).astype(np.int64)
        key_parts.append(members[src_l] * c + members[dst_l])
        d_parts.append(np.concatenate(dd))
    all_key = np.concatenate(key_parts)
    all_d = np.concatenate(d_parts)
    uniq_key, first = np.unique(all_key, return_index=True)  # exact dists → any dup ok
    cur_src, cur_dst, cur_d = uniq_key // c, uniq_key % c, all_d[first]
    # top-k per src across the union
    so = np.lexsort((ids[cur_dst], cur_d, cur_src))
    cur_src, cur_dst, cur_d = cur_src[so], cur_dst[so], cur_d[so]
    grp_start = np.searchsorted(cur_src, np.arange(c, dtype=np.int64))
    keep = (np.arange(len(cur_src)) - grp_start[cur_src]) < k_eff
    cur_src, cur_dst, cur_d = cur_src[keep], cur_dst[keep], cur_d[keep]
    return _finalize_edges(ids, cur_src, cur_dst, cur_d)


# Cells (queries × segment rows) of one float64 matrix in the batched
# walk: a query block is chunked so block × c stays under this, ~8 MB
# per matrix whatever the segment size. A memory granule like
# SHINGLE_CHUNK_ROWS, not a scale knob.
WALK_CHUNK_CELLS = 1 << 20


def _adjacency_positions(
    ids: np.ndarray, nbr_flat: np.ndarray, offsets: np.ndarray
) -> np.ndarray:
    """Padded (rows × degree) int64 neighbour-position matrix, the walk
    kernel's adjacency, decoded from an Arrow list column: row r's
    neighbour ids are nbr_flat[offsets[r]:offsets[r + 1]], and degree
    is the longest list. `ids` are the segment's vec ids sorted
    ascending; one searchsorted maps neighbour ids to positions in it.
    An id not in the segment (a dangling edge after deletes) and the
    padding of a short list read −1, which the walk skips, so an empty
    or NULL list is a row of −1."""
    offsets = np.asarray(offsets, dtype=np.int64)
    counts = np.diff(offsets)
    rows = len(counts)
    out = np.full((rows, int(counts.max()) if rows else 0), -1, dtype=np.int64)
    flat = np.asarray(nbr_flat[offsets[0] : offsets[-1]], dtype=np.int64)
    if len(flat) == 0:
        return out
    p = np.minimum(np.searchsorted(ids, flat), len(ids) - 1)
    row = np.repeat(np.arange(rows), counts)
    out[row, np.arange(offsets[0], offsets[-1]) - offsets[row]] = np.where(
        ids[p] == flat, p, -1
    )
    return out


def _beam_walk_block(
    ids: np.ndarray,
    X: np.ndarray,
    nbr: np.ndarray,
    sq_x: np.ndarray,
    bQ: np.ndarray,
    bq_ids: np.ndarray,
    qsel: np.ndarray,
    k: int,
    beam: int,
    rounds: int,
    n_entry: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Best-first beam walk of ONE decoded segment for a block of
    queries — the numpy kernel shared by the Arrow-payload probe
    (`_walk_probed_segments`) and the worker-served probe
    (`_served_walk`), so the two serving modes are identical
    by construction. Returns flat (q_id, vec_id, dist) arrays holding
    each query's top-k, query by query in qsel order and each query's
    rows by (dist, vec_id). Deterministic:
    entry points are evenly spaced positions, ties broken by
    (dist, vec_id).

    Block algorithm. The queries bQ[qsel] walk together, in chunks of
    WALK_CHUNK_CELLS // c. A chunk's distances to every row come from
    one stacked product, sq_x − 2·q·Xᵀ + sq_q clamped at 0, and a
    (chunk × c) matrix holds the revealed ones: `inf` where a row is
    not yet visited. The product is stacked, one BLAS call per query,
    not one GEMM over the chunk, because a GEMM's result for one query
    moves in the last ulp with the block's shape: a query's rows must
    not depend on which other queries share its probe, so that a
    request batched with others gets exactly its solo rows. Each round picks every query's `beam` nearest visited
    rows by one argpartition on axis 1 (slots still `inf` are masked
    out), gathers their neighbours from the padded position matrix
    `nbr` (−1 = no edge), scatters them into a (chunk × c+1) mask
    whose column c sinks the −1s, and reveals the rows not yet
    visited. While the visited rows fit in the beam, the beam is all
    of them: so when the n_entry entry rows fit, round one expands the
    same rows for every query and is done once for the segment. The
    final top-k is one argpartition and one flat lexsort by
    (query, dist, vec_id).

    Stopping. The walk stops when no query gains a row. A query that
    gains nothing in a round has the same visited rows in the next, so
    it picks the same beam and gains nothing again: walking it along
    changes nothing, and this equals the per-query walk's early stop.

    Ties. A product over all c rows sums in a different order than a
    GEMV over the visited rows only, so distances may move in the last
    ulp against such a walk (≤ 1e-13 relative), and which of several
    exactly tied rows argpartition keeps in a beam or in the top-k is
    unspecified. Ids can therefore differ from a per-query walk only
    among rows whose distances tie.

    Cost model. Every query pays the full c·dim product and O(c)
    argpartition and mask work per round, where a per-query walk pays
    only for the rows it visits, plus ~0.2 ms of interpreter work per
    query. The block form wins on small segments and loses on large
    ones (one BLAS thread, 125 queries, dim 128, degree 16, beam 32,
    4 rounds: 2.1–2.8× faster at 1,024 rows, 1.2–2.0× at 4,096, and
    0.56–0.65×, slower, at 16,384). The layered2 grid rule keeps c
    small: `default_grid2` targets ~1k rows per segment, and the
    largest segments any caller builds are ~4k rows (xl_scaling's 32×32
    comparison grid over 4M)."""
    c = len(ids)
    entries = np.unique(np.linspace(0, c - 1, min(n_entry, c)).astype(np.int64))
    b = min(beam, c)
    kk = min(k, c)
    nbr = np.where(nbr < 0, c, nbr)  # −1 → the sink column c
    # when the entries fit in the beam, every query's first beam is the
    # whole entry set, so round one reveals the same rows for all
    start, skip = entries, 0
    if rounds and len(entries) <= b:
        hit = np.zeros(c + 1, dtype=bool)
        hit[nbr[entries]] = True
        hit[entries] = True
        start = np.flatnonzero(hit[:c])
        skip = 1 if len(start) > len(entries) else rounds
    block = max(1, WALK_CHUNK_CELLS // c)
    out_q, out_id, out_d = [], [], []
    for lo in range(0, len(qsel), block):
        sel = qsel[lo : lo + block]
        Qb = bQ[sel][:, None, :]  # stacked: one BLAS product per query
        D = (Qb @ X.T)[:, 0, :]
        D *= -2.0
        D += sq_x
        D += np.square(Qb).sum(axis=2)
        np.maximum(D, 0.0, out=D)
        nb = len(sel)
        dist = np.full((nb, c), np.inf)
        dist[:, start] = D[:, start]
        row0 = (np.arange(nb) * (c + 1))[:, None]  # flat mask row offsets
        for _ in range(skip, rounds):
            top = np.argpartition(dist, b - 1, axis=1)[:, :b]
            nxt = nbr[top]  # (block, b, degree)
            unvisited = np.isinf(np.take_along_axis(dist, top, axis=1))
            if unvisited.any():
                nxt[unvisited] = c
            seen = np.zeros(nb * (c + 1), dtype=bool)
            seen[row0 + nxt.reshape(nb, b * nbr.shape[1])] = True
            new = seen.reshape(nb, c + 1)[:, :c]
            new &= np.isinf(dist)
            if not new.any():
                break
            np.copyto(dist, D, where=new)
        top = np.argpartition(dist, kk - 1, axis=1)[:, :kk]
        dtop = np.take_along_axis(dist, top, axis=1)
        fin = np.isfinite(dtop)
        qi = np.broadcast_to(np.arange(nb)[:, None], top.shape)[fin]
        pos, dd = top[fin], dtop[fin]
        o = np.lexsort((ids[pos], dd, qi))
        out_q.append(bq_ids[sel][qi[o]])
        out_id.append(ids[pos[o]])
        out_d.append(dd[o])
    return np.concatenate(out_q), np.concatenate(out_id), np.concatenate(out_d)


def _topk_merge(
    q: np.ndarray, vec_id: np.ndarray, dist: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Each query's k nearest candidate rows: (q_id, rank, vec_id, dist)
    sorted by (q_id, dist, vec_id), rank 1..k within a query — the
    `row_number() over (partition by q_id order by dist, vec_id) <= k`
    cut in numpy. The served walk's task tail and its driver merge both
    call it."""
    o = np.lexsort((vec_id, dist, q))
    q, vec_id, dist = q[o], vec_id[o], dist[o]
    rank = np.arange(len(q)) - np.searchsorted(q, q)
    keep = rank < k
    return q[keep], (rank[keep] + 1).astype(np.int32), vec_id[keep], dist[keep]


def _walk_probed_segments(
    segments: DataFrame,
    probed: dict[int, np.ndarray],
    q_ids: np.ndarray,
    Q: np.ndarray,
    k: int,
    beam: int,
    rounds: int,
    n_entry: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Probe tail of the pinned and cold serving modes: filter the
    segment table to the probed segment ids, walk each probed segment's
    subgraph for all of its queries inside ONE applyInPandas kernel
    (best-first beam in numpy — no per-hop Spark stages), then merge
    with a single per-query window. `probed` maps segment_id → indices
    into Q; both are driver-sized by design (the query batch is the one
    by-design driver-side collect)."""
    import pandas as pd
    import pyarrow as pa

    spark = segments.sparkSession
    # pooled: repeated probes (streams, tenant loops) must not
    # accumulate per-call broadcasts — see _pooled_broadcast
    bc = _pooled_broadcast(spark, (q_ids, Q, probed))

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        bq_ids, bQ, bprobed = bc.value
        empty = pd.DataFrame({"q_id": [], "vec_id": [], "dist": []}).astype(
            {"q_id": np.int64, "vec_id": np.int64, "dist": np.float64}
        )
        if len(pdf) == 0:
            return empty
        qsel = bprobed.get(int(pdf["segment_id"].iloc[0]))
        if qsel is None or len(qsel) == 0:
            return empty
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        X = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
        # None ≡ no outgoing edges, as in the served decode
        nbr = pa.array(pdf["nbr_ids"], type=pa.list_(pa.int64()))
        nbr_pos = _adjacency_positions(
            ids, nbr.values.to_numpy(zero_copy_only=False), nbr.offsets.to_numpy()
        )
        sq_x = np.square(X).sum(axis=1)
        out_q, out_id, out_d = _beam_walk_block(
            ids, X, nbr_pos, sq_x, bQ, bq_ids, qsel, k, beam, rounds, n_entry
        )
        return pd.DataFrame({"q_id": out_q, "vec_id": out_id, "dist": out_d})

    local = (
        segments.filter(F.col("segment_id").isin(sorted(probed)))
        .groupBy("segment_id")
        .applyInPandas(walk, "q_id long, vec_id long, dist double")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
    )


# ---- worker-side segment serving (r13) -----------------------------------
# The pinned/cold probes ship every probed segment's full payload
# (embeddings + adjacency) through Arrow into the Python walk workers on
# EVERY batch. At 1M×128 that transfer/decode is a ~4.4 s per-batch
# constant the r12 localization experiment proved configs cannot move
# (6 configs shift the wall <7%; the bare segment scan is 0.6 s — see
# bench.py's large_base_1m comment). Serving mode inverts the dataflow:
# the probe ships only the probed (segment_id) list plus the broadcast
# query block, and each Python worker pyarrow-reads its segments'
# files DIRECTLY from the materialized index path, caching the
# decoded arrays in the reused worker process across batches. First
# touch pays one column-pruned parquet read per segment; steady state
# pays zero transfer. Reference analog: hnswlib/faiss serve from a
# resident native structure (/root/reference/dynamic_script_faiss.py:53-57,
# logs/dynamic_updates_hnswlib.txt) — this is the Spark-native
# equivalent, with a byte-capped per-worker LRU instead of a mandatory
# full-residency requirement, so an index larger than worker memory
# degrades to re-reads instead of OOM.
#
# Filesystem scope: the worker reads use local-path pyarrow + os.stat,
# which serves any SHARED POSIX filesystem (NFS/Lustre/local). An
# object-store (s3://) prefix would need the reads routed through
# pyarrow.fs and has no partition-dir mtime — which is why staleness
# keying prefers the _EPOCH sidecar (written by materialize_*, works
# on any store) and falls back to mtime only where the sidecar is
# absent (pre-epoch indexes on POSIX paths).


class _SegmentLru(OrderedDict):
    """(seg_dir, sid, epoch) -> (ids, X_src, nbr_pos, sq_x, bytes), least
    recent first, where nbr_pos is the padded (c × degree) neighbour
    position matrix of `_adjacency_positions`, with `nbytes` the sum of
    the entries' sizes. A worker process runs one task at a time, so it
    needs no lock."""

    nbytes = 0

    def hit(self, key):
        entry = self.get(key)
        if entry is not None:
            self.move_to_end(key)
        return entry

    def add(self, key, entry, cap: int) -> None:
        size = entry[-1]
        if size > cap:
            return
        while self and self.nbytes + size > cap:
            self.nbytes -= self.popitem(last=False)[1][-1]
        self[key] = entry
        self.nbytes += size


_SEG_CACHE = _SegmentLru()

_EPOCH_FILE = "_EPOCH"


def _write_epoch(seg_path: str) -> None:
    """Stamp a freshly (re)materialized segment directory with a unique
    epoch id. The served-mode worker cache keys on this file's CONTENTS,
    so an index rebuilt in place at the same path can never be answered
    from a stale worker cache — including on stores with no directory
    mtime (object stores), where the r13 mtime key was undefined.
    The leading underscore keeps every parquet/Spark reader ignoring it."""
    import uuid

    with open(os.path.join(seg_path, _EPOCH_FILE), "w") as fh:
        fh.write(uuid.uuid4().hex)


def _read_epoch(seg_dir: str) -> str | None:
    """The segment directory's epoch stamp, or None for indexes
    materialized before the epoch discipline (mtime fallback)."""
    try:
        with open(os.path.join(seg_dir, _EPOCH_FILE)) as fh:
            return fh.read().strip() or None
    except OSError:
        return None


# Bounded pool of live probe broadcasts. Every probe call broadcasts its
# (queries, probed-map) block; a long-running served stream (one
# probe per micro-batch) would otherwise accumulate broadcasts for the
# life of the stream (ADVICE r13). Eviction uses unpersist(), NOT
# destroy(): an evicted broadcast still referenced by an in-flight
# concurrent probe (multi_tenant's N client threads) is simply re-sent
# to executors on next access — correctness is unaffected, the worst
# case re-pays one O(nq·dim) transfer.
_PROBE_BC_POOL: list = []
_PROBE_BC_CAP = 16
# probes run from many concurrent tenant/stream threads (the 50-client
# sweep, DynamicBatcher leaders); the append/evict pair must be atomic
# or racing leaders can overshoot the cap (ADVICE r14)
_PROBE_BC_LOCK = threading.Lock()


def _pooled_broadcast(spark, payload):
    bc = spark.sparkContext.broadcast(payload)
    evicted = []
    with _PROBE_BC_LOCK:
        _PROBE_BC_POOL.append(bc)
        while len(_PROBE_BC_POOL) > _PROBE_BC_CAP:
            evicted.append(_PROBE_BC_POOL.pop(0))
    for old in evicted:  # unpersist outside the lock — it can block
        try:
            old.unpersist(False)
        except Exception:
            pass  # sc already stopped / broadcast gone — nothing to free
    return bc


def _seg_cache_cap() -> int:
    """Per-worker decoded-segment cache budget (bytes). Sized so the
    32-thread local mode stays far under box memory even if every
    worker eventually caches disjoint+overlapping segment sets; on a
    real cluster, set to a fraction of executor Python memory."""
    return int(os.environ.get("CS598_SEG_CACHE_MB", "512")) << 20


def _served_segment(
    seg_dir: str,
    sid: int,
    id_col: str,
    vec_col: str,
    epoch: str | None = None,
):
    """Decode one materialized segment into the walk kernel's arrays,
    LRU-cached in this worker process. The vector column is cached in
    its SOURCE dtype — float32 for array<float> layouts (half the
    bytes) — and upcast to float64 per walk, which replays the Arrow
    path's own math exactly, so served results are bit-identical to
    the payload-shipping path. The upcast stays because it is cheap:
    ~35 µs for an 800×128 segment, ~0.5 ms for a 16-segment probe,
    under 0.2% of the probe's walk, while a float64 cache would hold
    twice the vector bytes. The adjacency is cached decoded, as the
    padded position matrix of `_adjacency_positions`. Staleness: the
    cache key carries the index's `epoch` stamp (the _EPOCH sidecar
    materialize_* rewrites on every overwrite — store-agnostic),
    falling back to the partition directory's mtime for pre-epoch
    indexes, so an index REBUILT in place at the same path can never
    be served from a stale worker cache — the superseded entry just
    ages out of the LRU."""
    part = os.path.join(seg_dir, f"segment_id={sid}")
    key = (
        seg_dir,
        int(sid),
        epoch if epoch is not None else os.path.getmtime(part),
    )
    hit = _SEG_CACHE.hit(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    tbl = pq.read_table(part, columns=[id_col, vec_col, "nbr_ids"])
    ids_raw = tbl.column(id_col).to_numpy()
    c = len(ids_raw)
    emb = tbl.column(vec_col).combine_chunks()
    X = emb.flatten().to_numpy(zero_copy_only=False).reshape(c, -1)
    order = np.argsort(ids_raw, kind="stable")
    ids = np.ascontiguousarray(ids_raw[order], dtype=np.int64)
    X = np.ascontiguousarray(X[order])
    nbr = tbl.column("nbr_ids").combine_chunks()
    nbr_pos = _adjacency_positions(
        ids, nbr.values.to_numpy(zero_copy_only=False), nbr.offsets.to_numpy()
    )[order]
    X64 = np.ascontiguousarray(X, dtype=np.float64)
    sq_x = np.square(X64).sum(axis=1)
    nbytes = ids.nbytes + X.nbytes + sq_x.nbytes + nbr_pos.nbytes
    entry = (ids, X, nbr_pos, sq_x, nbytes)
    _SEG_CACHE.add(key, entry, _seg_cache_cap())
    return entry


def _balanced_groups(probed: dict[int, np.ndarray], n: int) -> list[list[int]]:
    """Split the probed segment ids into at most `n` groups of near-equal
    walk work: segments in descending order of query count, each onto
    the group with the fewest queries so far (ties to the lower group,
    then the lower segment id, so a probe's split is deterministic). The
    query count is the work estimate: the driver does not know segment
    sizes, and a walk's fixed per-query cost dominates its per-row cost
    at the default grid's ~1k-row segments."""
    n = max(1, min(n, len(probed)))
    load = [0] * n
    groups: list[list[int]] = [[] for _ in range(n)]
    for sid in sorted(probed, key=lambda s: (-len(probed[s]), s)):
        g = load.index(min(load))
        groups[g].append(int(sid))
        load[g] += len(probed[sid])
    return [sorted(g) for g in groups]


def _served_walk(
    spark,
    seg_dir: str,
    probed: dict[int, np.ndarray],
    q_ids: np.ndarray,
    Q: np.ndarray,
    k: int,
    beam: int,
    rounds: int,
    n_entry: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The served probe's walk job, unrun: (q_id, vec_id, dist) rows,
    each task's local top-k per query. Its input is a pandas frame with
    ONE row per task, the probed segment ids that task walks, which
    Spark turns into a local relation (LocalTableScan, split into one
    partition per row while there are at most default-parallelism rows),
    so the job needs no repartition and no Python RDD: a list input
    would be a pickled `Scan ExistingRDD`, whose first use in a session
    costs over a second. The walk kernel pulls segment payloads
    worker-side via `_served_segment`. The ids are split into
    default-parallelism groups of near-equal query counts
    (`_balanced_groups`): how queries fall into L1 cells depends on the
    data, and the heavier of two contiguous segment-id ranges (whole L1
    cells) carried up to 1.3x an even share of the walk on clustered 10k
    bases, so a probe waited on it. Each task walks its segments with
    the shared `_beam_walk_block` and emits only its local top-k per
    query (`_topk_merge`)."""
    import pandas as pd

    bc = _pooled_broadcast(spark, (q_ids, Q, probed))
    groups = _balanced_groups(probed, spark.sparkContext.defaultParallelism)
    sdf = spark.createDataFrame(
        pd.DataFrame({"segment_ids": groups}), "segment_ids array<int>"
    )

    def serve(batches):
        bq_ids, bQ, bprobed = bc.value
        epoch = _read_epoch(seg_dir)  # once per task, not per segment
        parts_q, parts_id, parts_d = [], [], []
        for pdf in batches:
            for sid in [int(s) for g in pdf["segment_ids"] for s in g]:
                qsel = bprobed.get(int(sid))
                if qsel is None or len(qsel) == 0:
                    continue
                # a probed sub-cell can have NO partition directory:
                # probed keys come from l2_table rows, and a sub-cell
                # holding no vectors writes no segment_id=K/ directory —
                # e.g. when deletes empty a sub-cell and the index is
                # then re-materialized, l2_table keeps that row. Skip it
                # like the Arrow path's empty-segment semantics, don't
                # fail the job (ADVICE r13 medium).
                if not os.path.isdir(os.path.join(seg_dir, f"segment_id={sid}")):
                    continue
                ids, Xs, nbr_pos, sq_x, _ = _served_segment(
                    seg_dir, int(sid), id_col, vec_col, epoch=epoch
                )
                X = np.ascontiguousarray(Xs, dtype=np.float64)
                out_q, out_id, out_d = _beam_walk_block(
                    ids, X, nbr_pos, sq_x, bQ, bq_ids, qsel,
                    k, beam, rounds, n_entry,
                )
                parts_q.append(out_q)
                parts_id.append(out_id)
                parts_d.append(out_d)
        if not parts_q:
            return
        cq, _, cid, cd = _topk_merge(
            np.concatenate(parts_q), np.concatenate(parts_id), np.concatenate(parts_d), k
        )
        yield pd.DataFrame({"q_id": cq, "vec_id": cid, "dist": cd})

    return sdf.mapInPandas(serve, "q_id long, vec_id long, dist double")


def _collect_served_topk(spark, walk: DataFrame, k: int) -> DataFrame:
    """Serving-mode probe tail, ONE Spark job: runs the `_served_walk`
    job, collects its rows as Arrow, at most min(parallelism, probed
    segments)·nq·k of them, and cuts them to k per query with the same
    `_topk_merge` the tasks ran. vec_ids are unique across segments, so
    the global top-k is a subset of the union of the local ones and rows
    equal the pinned probe's, whatever the split. The rows come back as
    a local relation (a LocalTableScan under
    spark.sql.execution.arrow.localRelationThreshold): reading it runs
    no further job."""
    import pandas as pd
    import pyarrow as pa

    # a walk that yields no batch still collects one empty, typed batch
    cand = pa.Table.from_batches(walk._collect_as_arrow(empty_list_if_zero_records=False))
    mq, rank, mid, md = _topk_merge(
        *(cand.column(c).to_numpy() for c in ("q_id", "vec_id", "dist")), k
    )
    return spark.createDataFrame(
        pd.DataFrame({"q_id": mq, "rank": rank, "vec_id": mid, "dist": md}),
        "q_id long, rank int, vec_id long, dist double",
    )


# Byte ceiling of one index object's driver cache of L2 rows (see
# LayeredGraph2Index.l2_rows). 32 MB holds the whole L2 layer of the
# default grid up to ~30M rows (10M: 100x100 sub-centroids at dim 128 is
# ~10 MB); past it, cells not yet cached are collected per probe, so the
# full L2 matrix of a 100M grid (318x318, ~100 MB) never reaches the
# driver.
_L2_DRIVER_CACHE_BYTES = 32 << 20


class LayeredGraph2Index:
    """Per-(l1,l2)-segment kNN subgraphs over the two-level coarse layer."""

    def __init__(
        self,
        segments: DataFrame,  # (segment_id, vec_id, embedding, nbr_ids)
        l1_centroids: np.ndarray,  # (nlist1, dim) — driver-sized by design
        l2_table: DataFrame,  # (l1_id, l2_id, centroid) — stays distributed
        nlist1: int,
        nlist2: int,
        degree: int,
        serve_dir: str | None = None,  # worker-served mode (open_layered2)
    ):
        self.segments = segments
        self.l1_centroids = l1_centroids
        self.l2_table = l2_table
        self.nlist1 = nlist1
        self.nlist2 = nlist2
        self.degree = degree
        self.serve_dir = serve_dir
        # l1_id -> (keys, C2) of its L2 rows; filled lazily by l2_rows.
        # No staleness key: l2_table never changes for one object
        # (delete/insert pass it through into a new object, and a rebuild
        # in place is only seen through a re-open, which is a new object)
        self._l2_cells: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._l2_bytes = 0
        self._l2_lock = threading.Lock()

    def l2_rows(self, cells: list[int]) -> tuple[np.ndarray, np.ndarray]:
        """(keys, C2) of the L2 rows of the sorted L1 `cells`: keys are
        l1_id·nlist2 + l2_id ascending, C2 the float64 sub-centroids.
        Cells not yet in the driver cache come from l2_table in ONE
        bounded collect (≤ len(cells)·nlist2 rows) and are cached while
        the cache stays under _L2_DRIVER_CACHE_BYTES; a warm probe reads
        no L2 rows at all."""
        with self._l2_lock:
            got = {c: self._l2_cells[c] for c in cells if c in self._l2_cells}
        missing = [c for c in cells if c not in got]
        if missing:
            rows = (
                self.l2_table.filter(F.col("l1_id").isin(missing))
                .select("l1_id", "l2_id", "centroid")
                .collect()
            )
            dim = self.l1_centroids.shape[1]
            per_cell: dict[int, list] = {c: [] for c in missing}
            for r in rows:
                per_cell[int(r["l1_id"])].append(r)
            for c, rs in per_cell.items():
                rs.sort(key=lambda r: r["l2_id"])
                keys = np.array(
                    [c * self.nlist2 + r["l2_id"] for r in rs], dtype=np.int64
                )
                C2 = np.array(
                    [r["centroid"] for r in rs], dtype=np.float64
                ).reshape(len(rs), dim)
                got[c] = (keys, C2)
            with self._l2_lock:
                for c in missing:
                    size = got[c][0].nbytes + got[c][1].nbytes
                    if (
                        c not in self._l2_cells
                        and self._l2_bytes + size <= _L2_DRIVER_CACHE_BYTES
                    ):
                        self._l2_cells[c] = got[c]
                        self._l2_bytes += size
        return (
            np.concatenate([got[c][0] for c in cells]),
            np.concatenate([got[c][1] for c in cells]),
        )

    def close(self) -> None:
        """Release the persisted segment table. Maintenance ops
        (delete_from_layered2 / insert_into_layered2) intentionally leave
        the superseded version persisted — in overlap mode it is still
        serving probes while the new one builds — so the protocol driver
        calls close() once the replacement is recorded as serving;
        without it a long delete/insert sweep accumulates one persisted
        index copy per maintenance step."""
        self.segments.unpersist()


def default_grid2(n: int, target_segment_rows: int = 1024) -> tuple[int, int]:
    """The layered2 coarse-layer sizing rule, IVF's nlist discipline made
    a default instead of folklore (VERDICT r13 item 4): segment COUNT
    scales linearly with n so segment SIZE stays ~target_segment_rows —
    the walk kernel's per-segment compute and the served cache's
    per-entry footprint are then scale-invariant, and recall stops
    being capped by coarse-layer granularity (the measured r13 failure:
    a 32×32 grid correct at 1M capped 4M recall at ~0.92; widening the
    walk bought +0.008 for −33% QPS because the ceiling was the
    LAYER, not the walk — the fix is 64×64, exactly what this rule
    picks). Square grid: nlist1 = nlist2 = ceil-to-even sqrt(n/target),
    keeping the driver-sized L1 at sqrt(#segments) rows (1M → 32×32,
    4M → 64×64, 100× → grows as sqrt on each level, never a
    driver-memory problem)."""
    import math

    n_segments = max(1, n // max(target_segment_rows, 1))
    side = max(2, int(math.ceil(math.sqrt(n_segments))))
    if side % 2:
        side += 1
    return side, side


# L1 k-means sample (rows, first by id) and the per-cell L2 k-means
# sample (rows, first by id within the cell): bounded training sets, the
# reference's own sampled coarse quantizer (multi_tenant_script.py:94-99)
_L1_TRAIN_SAMPLE = 10_000
_L2_CELL_SAMPLE = 4_000


def build_layered_graph2(
    base: DataFrame,
    nlist1: int | None = 4,
    nlist2: int | None = 4,
    degree: int = 16,
    exact_segment_rows: int = 16_384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> LayeredGraph2Index:
    """Two-level coarse layer plus one kNN subgraph per (l1, l2)
    sub-cell, in one Python pass per L1 cell.

    * L1: nlist1 centroids, k-means on a bounded sample collected to the
      driver (`build_ivf_index`), and every row assigned to its nearest
      one by a broadcast Arrow kernel.
    * One applyInPandas grouped by L1 cell then, per cell, sorts the rows
      by id, trains the cell's nlist2 sub-centroids on its first
      _L2_CELL_SAMPLE rows, assigns each row its l2_id, and builds each
      sub-cell's kNN graph with the same kernels over the same id-sorted
      rows a pass grouped by segment would see (`_local_knn_graph`, or
      `_local_partitioned_graph` past exact_segment_rows). The segment
      table is that pass repartition()ed on segment_id = l1_id·nlist2 +
      l2_id and persisted, so probes reach the walk kernel exchange-free.
    * The L2 table, one row per non-empty sub-cell, holds each
      sub-cell's exact float64 mean (`_l2_means`), aggregated from the
      persisted segments with no exchange; the full L2 matrix never
      reaches the driver. It is persisted on its own, so unpersisting
      `segments` frees the whole segment table and the L2 table stays
      valid for indexes derived by delete/insert.

    One action, the L2 table's count, fills both caches. The Spark jobs
    are the L1 sample's and that count's (AQE runs each shuffle stage as
    its own job): 7 at most, pinned in tests/test_index.py.

    Pass ``nlist1=None``/``nlist2=None`` to size the coarse layer by
    the default_grid2 rule (segments ∝ n, ~1k rows per segment) — the
    scale-correct default; the explicit 4×4 keeps fixture-scale tests
    and existing callers unchanged."""
    if nlist1 is None or nlist2 is None:
        auto1, auto2 = default_grid2(base.count())
        nlist1 = auto1 if nlist1 is None else nlist1
        nlist2 = auto2 if nlist2 is None else nlist2
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from cs598vectordb_spark.operators.index import _kmeans_fit, build_ivf_index

    l1 = build_ivf_index(
        base, nlist=nlist1, train_sample=_L1_TRAIN_SAMPLE,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    vec_type = base.schema[vec_col].dataType
    out_schema = StructType(
        [
            StructField("segment_id", IntegerType()),
            StructField(id_col, LongType()),
            StructField(vec_col, vec_type),
            StructField("nbr_ids", ArrayType(LongType())),
        ]
    )

    def cell_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        X = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
        C = _kmeans_fit(X[:_L2_CELL_SAMPLE], min(nlist2, len(ids)), seed)
        d2 = (
            np.square(X).sum(1, keepdims=True)
            - 2.0 * (X @ C.T)
            + np.square(C).sum(1)[None, :]
        )
        l2_id = d2.argmin(axis=1)
        first = int(pdf["centroid_id"].iloc[0]) * nlist2
        vecs = pdf[vec_col].to_numpy()
        parts = []
        for j in np.unique(l2_id):
            rows = np.flatnonzero(l2_id == j)  # ascending: id order
            sub = ids[rows]
            if len(rows) <= 1:
                nbrs = [np.array([], dtype=np.int64)] * len(rows)
            elif len(rows) <= exact_segment_rows:
                nbrs, _ = _local_knn_graph(X[rows], sub, degree)
            else:
                nbrs, _ = _local_partitioned_graph(X[rows], sub, degree)
            parts.append(
                pd.DataFrame(
                    {
                        "segment_id": np.full(len(rows), first + j, dtype=np.int32),
                        id_col: sub,
                        vec_col: vecs[rows],
                        "nbr_ids": nbrs,
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    segments = (
        # cells hash into partitions, and a partition is one task: with
        # as many partitions as cells, 4 cells hash to a 3/1 split and 14
        # cells to at most 3 in one task; with 4x as many partitions, no
        # partition holds more than 2 cells on grids of 4 to 100 cells
        l1.assigned.repartition(4 * nlist1, "centroid_id")
        .groupBy("centroid_id")
        .applyInPandas(cell_pass, out_schema)
        .repartition(nlist1 * nlist2, "segment_id")
        .persist()
    )
    l2_table = _l2_means(segments, nlist2, vec_col).persist()
    l2_table.count()
    return LayeredGraph2Index(segments, l1.centroids, l2_table, nlist1, nlist2, degree)


def _l2_means(segments: DataFrame, nlist2: int, vec_col: str) -> DataFrame:
    """(l1_id, l2_id, centroid): each non-empty segment's exact mean
    vector, Spark's float64 `avg` per vector position. Every grouping
    key starts with segment_id, on which the segment table is
    hash-partitioned, so the aggregation needs NO exchange. It runs in
    the JVM: a Python pass over the segment table's nlist1·nlist2
    partitions paid a Python task's fixed cost per partition, 4.3 s
    against 2.4 s for this form at a 200k base (196 partitions,
    local[4] on a 4-vCPU host)."""
    return (
        segments.select("segment_id", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("segment_id", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("segment_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select(
            (F.col("segment_id") / nlist2).cast("int").alias("l1_id"),
            (F.col("segment_id") % nlist2).alias("l2_id"),
            F.transform("s", lambda x: x["m"]).alias("centroid"),
        )
    )


def knn_graph_layered2(
    index: LayeredGraph2Index,
    queries,
    k: int = DEFAULT_K,
    nprobe1: int = 2,
    nprobe2: int = 6,
    beam: int = 24,
    rounds: int = 3,
    n_entry: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, rank, vec_id, dist): hierarchical graph probe. `queries` is
    a Spark or pandas (q_id, <vec_col>) frame; a pandas one is used as
    is, with no Spark job. L1 scored on the driver (nlist1 GEMM over the
    driver-sized coarse layer), the probed cells' L2 rows read from the
    index's byte-capped driver cache (`l2_rows`: one bounded collect for
    cells not yet cached — the full centroid matrix of a large grid
    never reaches the driver), the best nprobe2 sub-cells per query
    walked by the shared segment kernel. The pinned and cold modes merge
    with one window; the served mode runs its one walk job at call time,
    merges on the driver and returns a local relation
    (`_served_walk`, `_collect_served_topk`)."""
    if isinstance(queries, DataFrame):
        queries = queries.select("q_id", vec_col).toPandas()
    q_ids = queries["q_id"].to_numpy(dtype=np.int64)
    Q = np.ascontiguousarray(np.stack(queries[vec_col].to_numpy()), dtype=np.float64)
    nq = len(q_ids)
    sq_q = np.square(Q).sum(1, keepdims=True)
    C1 = index.l1_centroids
    d1 = sq_q - 2.0 * (Q @ C1.T) + np.square(C1).sum(1)[None, :]
    np1 = min(nprobe1, index.nlist1)
    cells = np.argsort(d1, axis=1)[:, :np1]
    keys, C2 = index.l2_rows(np.unique(cells).tolist())
    d2 = sq_q - 2.0 * (Q @ C2.T) + np.square(C2).sum(1)[None, :]
    # a query takes only sub-cells of its own probed L1 cells
    own = np.zeros((nq, index.nlist1), dtype=bool)
    own[np.arange(nq)[:, None], cells] = True
    d2[~own[:, keys // index.nlist2]] = np.inf
    np2 = min(nprobe2, len(keys))
    order = np.argsort(d2, axis=1, kind="stable")[:, :np2]
    ok = np.isfinite(np.take_along_axis(d2, order, axis=1))
    # segment id -> ascending indices into Q of the queries probing it
    sel_key = keys[order][ok]
    sel_q = np.broadcast_to(np.arange(nq)[:, None], order.shape)[ok]
    by = np.lexsort((sel_q, sel_key))
    sids, first = np.unique(sel_key[by], return_index=True)
    probed = dict(zip(sids.tolist(), np.split(sel_q[by], first[1:])))
    if index.serve_dir is not None:
        spark = index.segments.sparkSession
        walk = _served_walk(
            spark, index.serve_dir, probed, q_ids, Q, k, beam, rounds, n_entry,
            id_col, vec_col,
        )
        return _collect_served_topk(spark, walk, k)
    return _walk_probed_segments(
        index.segments,
        probed,
        q_ids,
        Q,
        k,
        beam,
        rounds,
        n_entry,
        id_col,
        vec_col,
    )


def knn_graph_layered2_filtered(
    index: LayeredGraph2Index,
    queries: DataFrame,
    allowed: DataFrame,
    k: int = DEFAULT_K,
    expand: int = 4,
    max_deepen: int = 2,
    nprobe1: int = 2,
    nprobe2: int = 6,
    beam: int = 24,
    rounds: int = 3,
    n_entry: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attribute-FILTERED approximate search on the served graph:
    (q_id, rank, vec_id, dist) where every returned vec_id is a member
    of `allowed` (a DataFrame of allowed ids — the caller builds
    ``base.filter(pred).select(id_col)`` so the predicate pushes down
    to the parquet scan and only matching row groups are read).

    Post-filter-with-expansion, the strategy production vector stores
    use at moderate selectivity (Milvus/Qdrant post-filter mode; the
    pre-filter bitmap alternative needs per-segment filter columns and
    only wins at extreme selectivity): probe the graph for k·expand
    candidates, keep the ones passing the predicate via a
    broadcast-candidates semi join (candidates are driver-sized
    |Q|·k·expand id/dist rows — the big side stays the pruned `allowed`
    scan), then ADAPTIVELY DEEPEN only the queries left short of k
    (expand ×4, nprobe2 ×2, beam ×2 per round, ≤ max_deepen rounds) —
    a query whose filtered neighborhood is sparse pays more probe work
    instead of silently returning < k rows. Queries short even after
    deepening return what exists (the filtered base may simply hold
    fewer than k matches), same contract as the exact `knn_filtered`.

    Scale shape: each round is one graph probe (partition-pruned
    segments) + one broadcast join against a predicate-pushed scan; no
    shuffle grows with base size. Per-round passed rows are
    localCheckpointed (ids+dists only, driver-sized bound) so the
    final union does not recompute earlier rounds' probes.

    Rows-only by nature (approximate); recall-vs-exact-filtered floor,
    predicate purity, and the deepening trigger are pinned in
    tests/test_index.py::test_knn_filtered_adaptive. Reference analog:
    the reference filters only the EXACT path (its harness has no
    filtered-ANN); this is the served-index counterpart of
    queries_vector.q_knn_filtered, and the adaptive upgrade over the
    fixed-expansion queries_index.q_knn_graph2_filtered."""
    allowed_ids = allowed.select(F.col(id_col).alias("vec_id"))
    remaining = queries
    # deepening must widen BOTH coarse levels: nprobe2/beam alone cap
    # coverage at nprobe1·nlist2 sub-cells, and a sparse filtered
    # neighborhood's survivors may live outside the round-0 L1 cells
    cfg = dict(nprobe1=nprobe1, nprobe2=nprobe2, beam=beam)
    kk = max(k * expand, k)
    frames: list[DataFrame] = []
    for depth in range(max_deepen + 1):
        cand = knn_graph_layered2(
            index, remaining, k=kk, nprobe1=cfg["nprobe1"],
            nprobe2=cfg["nprobe2"], beam=cfg["beam"], rounds=rounds,
            n_entry=n_entry, id_col=id_col, vec_col=vec_col,
        ).select("q_id", "vec_id", "dist")
        passed = allowed_ids.join(
            F.broadcast(cand), "vec_id"
        ).select("q_id", "vec_id", "dist").localCheckpoint(eager=True)
        frames.append(passed)
        if depth == max_deepen:
            break
        counts = {
            r["q_id"]: r["n"]
            for r in passed.groupBy("q_id").agg(F.count("*").alias("n")).collect()
        }
        short = [
            r["q_id"]
            for r in remaining.select("q_id").collect()
            if counts.get(r["q_id"], 0) < k
        ]
        if not short:
            break
        remaining = remaining.filter(F.col("q_id").isin([int(q) for q in short]))
        kk *= 4
        cfg = dict(
            nprobe1=cfg["nprobe1"] * 2,
            nprobe2=cfg["nprobe2"] * 4,  # sub-cells grow with both levels
            beam=cfg["beam"] * 2,
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    w = Window.partitionBy("q_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        out.dropDuplicates(["q_id", "vec_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
    )


def autotune_layered2(
    index: LayeredGraph2Index,
    queries: DataFrame,
    truth: DataFrame,
    target_recall: float = 0.9,
    k: int = DEFAULT_K,
    grid: list[tuple[int, int, int]] | None = None,
) -> tuple[dict, list[dict]]:
    """T4 for the engine's best index: sweep (nprobe1, nprobe2, beam) on
    one built layered2 graph, score recall against the exact oracle, and
    return the cheapest config clearing the target — the graph's
    counterpart of autotune_ivf (the flat IVF has a sweep; the index of
    record needs one too).

    Cost model: selectivity (fraction of sub-cells a query may touch,
    capped at nprobe1·nlist2 reachable through the L1 prune) is the
    dominant term — it bounds bytes scanned, which is what matters at
    100 TB — with beam as the tie-breaker (per-segment walk compute).
    Deterministic: the walk kernel is seed-free (entry points are the
    best-scored n_entry vertices), so the trace is reproducible on a
    fixed index.

    Reference analog: MRPT autotunes to a recall target on a sample,
    /root/reference/dynamic_script_mrpt.py:44-47
    (`build_autotune_sample(0.9, 10)`)."""
    from cs598vectordb_spark.operators.metrics import recall_at_k

    grid = grid or [
        (1, 3, 16),
        (2, 4, 16),
        (2, 6, 24),
        (2, 8, 24),
        (3, 8, 32),
        (4, 12, 32),
    ]
    n_segments = index.nlist1 * index.nlist2
    trace, best = [], None
    for np1, np2, beam in grid:
        rec = recall_at_k(
            knn_graph_layered2(index, queries, k, nprobe1=np1, nprobe2=np2, beam=beam),
            truth,
            k,
        ).collect()[0][0]
        entry = {
            "nprobe1": np1,
            "nprobe2": np2,
            "beam": beam,
            "recall": rec,
            "selectivity": round(
                min(np2, np1 * index.nlist2, n_segments) / n_segments, 4
            ),
        }
        trace.append(entry)
        if rec >= target_recall and (
            best is None
            or (entry["selectivity"], entry["beam"])
            < (best["selectivity"], best["beam"])
        ):
            best = entry
    return best or {}, trace


# ---- incremental maintenance of the layered index ------------------------
# The reference's core dynamic experiment is graph-index degradation under
# delete/re-insert: FAISS HNSW can only tombstone, NGT stalls for minutes
# after inserts (dynamic_script_faiss.py:75-117;
# logs/dynamic_updates_ngt.txt:10-13). The layered index maintains itself
# WITHOUT a global rebuild:
#
#   delete — drop the rows from their segments; edges INTO deleted nodes
#            dangle and the walk kernel masks them (quality decays with
#            delete volume, the honest HNSW-tombstone behavior);
#   insert — assign the delta to segments, then ONE repair kernel per
#            affected segment: new nodes get exact edges (GEMM new×seg),
#            existing nodes merge the new nodes into their candidate pool
#            (GEMM old×new + recomputed survivor edges) — the classic
#            incremental-graph insert, cost |delta|·|seg|, never |seg|².
#
# Centroids are intentionally left untouched: incremental maintenance
# serves reads between periodic full rebuilds, exactly the
# serve-while-rebuild split dynamic_overlap measures.


def delete_from_layered2(
    index: LayeredGraph2Index,
    keep: DataFrame,
    id_col: str = "vec_id",
    dropped: DataFrame | None = None,
) -> LayeredGraph2Index:
    """Hierarchical-index delete with tombstone semantics: the rows
    leave their segments and edges into them dangle, masked by the walk
    kernel.

    Two physical strategies (r15): when the caller passes the DROPPED
    ids (dynamic workloads always know them — the delete is specified
    by what goes, not what stays), the delete is a broadcast anti-join:
    the id set ships to the executors (|dropped|·8 B — 20 MB for a
    10M-base 25% delete) and the 10-GB segment table is filtered IN
    PLACE with ZERO exchanges, keeping its existing segment
    partitioning (a filter preserves partitioning, so the old
    repartition pass is dropped too). Without `dropped` the r14 form
    remains: a shuffle semi-join against `keep` + repartition — the
    right plan when only the survivor set is known or the dropped set
    is itself table-sized. The IVF-PQ family made the same move in r14
    (broadcast tombstones, operators/ivfpq.py:delete_from_ivfpq);
    value-equality of the two strategies is pinned in
    tests/test_index.py::test_delete_layered2_broadcast_matches_semi."""
    if dropped is not None:
        segs = (
            index.segments.join(
                F.broadcast(dropped.select(id_col)), id_col, "anti"
            ).persist()
        )
    else:
        segs = (
            index.segments.join(keep.select(id_col), id_col, "semi")
            .repartition(index.nlist1 * index.nlist2, "segment_id")
            .persist()
        )
    segs.count()
    return LayeredGraph2Index(
        segs, index.l1_centroids, index.l2_table, index.nlist1, index.nlist2, index.degree
    )


def insert_into_layered2(
    index: LayeredGraph2Index,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> LayeredGraph2Index:
    """Hierarchical-index insert with NO driver-sized assignment STEP:
    L1 cells come from the broadcast (driver-sized by design) coarse
    layer; the L2 sub-cell of each arrival is picked by a join against
    the L2 table — BROADCAST while the segment count stays bounded
    (≤200k segments ≈ 100 MB of centroids, a pass-through broadcast,
    not a driver-resident scoring step), distributed shuffle join past
    that — followed by a map-side min_by partial aggregate, so the
    |delta|·nlist2 scored candidate set never crosses an exchange
    (the r14 row_number-window form shuffled all of it and was the
    superlinear term in the measured 10M insert-repair wall). Touched
    segments then run the shared repair kernel (_make_repair_kernel)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = delta.sparkSession
    C1 = index.l1_centroids
    bc = spark.sparkContext.broadcast(C1)

    def assign_l1(batches):
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
            yield pdf.assign(l1_id=d2.argmin(axis=1).astype(np.int32))

    a1 = delta.select(id_col, vec_col).mapInPandas(
        assign_l1,
        StructType(
            list(delta.select(id_col, vec_col).schema.fields)
            + [StructField("l1_id", IntegerType())]
        ),
    )
    # L2 pick: distributed join against the (l1-pruned) sub-centroid
    # rows. BROADCAST the l2 table while bounded (nlist1·nlist2 centroid
    # rows — ~10 MB at 10k segments, ~100 MB at the 200k gate below;
    # past it the code falls back to a shuffle join) and reduce with a
    # map-side min_by partial aggregate. The r14 form ranked with a
    # row_number window, which
    # SHUFFLED the full |delta|·nlist2 exploded candidate set (at 10M:
    # 2.5M arrivals × 100 sub-cells × 1 KB vector rows ≈ 250 GB through
    # one sort exchange — the superlinear term in the measured
    # insert-repair wall, since nlist2 grows as N^(1/4) under the grid
    # rule); the broadcast join keeps every candidate row inside its
    # arrival's task and the partial aggregate collapses them to one
    # row per arrival BEFORE any exchange, so shuffle bytes are
    # O(|delta|) at every N. Tie-break (min _d2, then min l2_id) via
    # lexicographic struct ordering — identical to the window's.
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("centroid"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    l2_rel = (
        F.broadcast(index.l2_table)
        if index.nlist1 * index.nlist2 <= 200_000
        else index.l2_table
    )
    assigned_delta = (
        a1.join(l2_rel, "l1_id")
        .withColumn("_d2", d2)
        .groupBy(F.col(id_col))
        .agg(
            F.min_by(
                F.struct(F.col("l1_id"), F.col("l2_id"), F.col(vec_col)),
                F.struct(F.col("_d2"), F.col("l2_id")),
            ).alias("_best")
        )
        .select(
            (F.col("_best.l1_id") * index.nlist2 + F.col("_best.l2_id"))
            .cast("int")
            .alias("segment_id"),
            F.col(id_col),
            F.col(f"_best.{vec_col}").alias(vec_col),
            F.lit(None).cast("array<bigint>").alias("nbr_ids"),
        )
        .select(*index.segments.schema.fieldNames())
        # persisted: the r14 form evaluated the assignment twice (once
        # for the touched-segment collect, once in the repair pass)
        .persist()
    )
    repair = _make_repair_kernel(id_col, vec_col, index.degree)
    touched = [
        int(r[0]) for r in assigned_delta.select("segment_id").distinct().collect()
    ]
    untouched = index.segments.filter(~F.col("segment_id").isin(touched))
    repaired = (
        index.segments.filter(F.col("segment_id").isin(touched))
        .unionByName(assigned_delta)
        .groupBy("segment_id")
        .applyInPandas(repair, index.segments.schema)
    )
    segs = (
        untouched.unionByName(repaired)
        .repartition(index.nlist1 * index.nlist2, "segment_id")
        .persist()
    )
    segs.count()
    assigned_delta.unpersist()
    # superseded version released by callers via close()
    return LayeredGraph2Index(
        segs, C1, index.l2_table, index.nlist1, index.nlist2, index.degree
    )


def _make_repair_kernel(id_col: str, vec_col: str, degree: int):
    """Per-segment repair kernel of insert_into_layered2 (the
    segment_id column rides through untouched): (a) new nodes get
    exact top-degree edges, (b) existing nodes re-rank surviving old
    edges merged with the arrivals, (c) dangling edges from earlier
    deletes drop, (d) nodes left under-degree backfill from surviving
    neighbors' 2-hop neighborhoods so degree does not erode across
    cycles."""
    import pandas as pd

    def repair(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        X = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
        c = len(ids)
        is_new = pdf["nbr_ids"].isna().to_numpy()
        new_pos = np.flatnonzero(is_new)
        if len(new_pos) == 0:
            return pdf
        if c <= 1:
            # a lone arrival in an (emptied) cell has no neighbors —
            # materialize the EMPTY list, never a NULL: a null row
            # written into the segment parquet crashed the pinned walk
            # at 10M (10k segments make tiny fully-deleted cells real)
            empty = np.array([], dtype=np.int64)
            return pdf.assign(
                nbr_ids=[v if v is not None else empty for v in pdf["nbr_ids"]]
            )
        k_eff = min(degree, c - 1)

        def pair_d(a: np.ndarray, b: np.ndarray) -> np.ndarray:
            diff = X[a] - X[b]
            return np.einsum("ij,ij->i", diff, diff)

        from cs598vectordb_spark.operators.knn import squared_l2_block

        # (a) new nodes: exact edges against the whole segment
        d_new = squared_l2_block(X, X[new_pos])  # c × |new|
        d_new[new_pos, np.arange(len(new_pos))] = np.inf
        nbrs_out: list[np.ndarray] = [None] * c  # type: ignore[list-item]
        for j, p in enumerate(new_pos):
            col = d_new[:, j]
            part = np.argpartition(col, k_eff - 1)[:k_eff]
            order = np.lexsort((ids[part], col[part]))
            nbrs_out[p] = ids[part[order]].astype(np.int64)

        def to_pos(global_ids: np.ndarray) -> np.ndarray:
            p = np.minimum(np.searchsorted(ids, global_ids), c - 1)
            return p[ids[p] == global_ids]

        old_lists = pdf["nbr_ids"]
        ol = old_lists.to_numpy()  # object array: cheap per-row access
        exist_pos = np.flatnonzero(~is_new)
        # one flat searchsorted over every old edge beats 750 per-node
        # to_pos calls (pandas .iloc + small-array overhead dominated
        # the first vectorization attempt's profile)
        lens = np.fromiter(
            (len(ol[p]) for p in exist_pos), dtype=np.int64, count=len(exist_pos)
        )
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(ol[p], dtype=np.int64) for p in exist_pos]
            )
            fpos = np.minimum(np.searchsorted(ids, flat), c - 1)
            fok = ids[fpos] == flat
            bounds = np.concatenate([[0], np.cumsum(lens)])
            ops = {
                int(p): fpos[bounds[i]: bounds[i + 1]][fok[bounds[i]: bounds[i + 1]]]
                for i, p in enumerate(exist_pos)
            }
        else:
            ops = {int(p): np.array([], dtype=np.int64) for p in exist_pos}

        # (b) fast path, VECTORIZED (the per-node python loop was ~1/3
        # of the measured 1M insert wall): a node with >= k_eff
        # surviving edges never backfills, and its candidate set is
        # exactly (surviving old edges ∪ all arrivals) minus self —
        # old-edge copies of a REINSERTED id (to_pos resolves a
        # dangling edge to the arrival's new row) collapse under the
        # original np.unique, reproduced here by masking the old copy
        # (the arrival block already carries that candidate). Distances
        # become two batched blocks instead of per-node pair_d calls;
        # ranking is one per-row lexsort over (dist, id) — the
        # original's exact ordering. Rows that lose candidates to
        # dedup/self below k_eff fall back to the reference loop.
        slow: list[int] = []
        # fast requires no backfill (>= k_eff surviving edges) and a
        # dup-free old list (the reference np.unique dedups; the matrix
        # form would not) — the dup check runs vectorized on the padded
        # matrix (one sort + adjacent compare, ignoring the -1 pads)
        fast0 = [int(p) for p in exist_pos if len(ops[int(p)]) >= k_eff]
        rest = [int(p) for p in exist_pos if len(ops[int(p)]) < k_eff]
        fast = []
        if fast0:
            w1 = max(len(ops[p]) for p in fast0)
            OP0 = np.full((len(fast0), w1), -1, dtype=np.int64)
            for i, p in enumerate(fast0):
                op = ops[p]
                OP0[i, : len(op)] = op
            S = np.sort(OP0, axis=1)
            has_dup = ((S[:, 1:] == S[:, :-1]) & (S[:, 1:] >= 0)).any(axis=1)
            fast = [p for p, d in zip(fast0, has_dup) if not d]
            rest += [p for p, d in zip(fast0, has_dup) if d]
        if fast:
            fastA = np.asarray(fast, dtype=np.int64)
            w1 = max(len(ops[int(p)]) for p in fast)
            OP = np.full((len(fast), w1), -1, dtype=np.int64)
            for i, p in enumerate(fast):
                op = ops[int(p)]
                OP[i, : len(op)] = op
            pad = OP < 0
            OPc = np.where(pad, 0, OP)
            diff = X[OPc] - X[fastA][:, None, :]
            D_old = np.einsum("ijk,ijk->ij", diff, diff)
            dead = pad | (OPc == fastA[:, None]) | is_new[OPc]
            D_old[dead] = np.inf
            from cs598vectordb_spark.operators.knn import squared_l2_block

            D_new = squared_l2_block(X[fastA], X[new_pos])
            D = np.concatenate([D_old, D_new], axis=1)
            I_old = np.where(dead, np.iinfo(np.int64).max, ids[OPc])
            I_new = np.broadcast_to(ids[new_pos], (len(fast), len(new_pos)))
            I = np.concatenate([I_old, I_new], axis=1)
            n_valid = (~np.isinf(D)).sum(axis=1)
            order = np.lexsort((I, D), axis=-1)[:, :k_eff]
            sel_ids = np.take_along_axis(I, order, axis=1)
            for i, p in enumerate(fast):
                if n_valid[i] < k_eff:
                    slow.append(int(p))  # dedup/self shrank the set
                    continue
                nbrs_out[p] = sel_ids[i].astype(np.int64)

        # (d) reference path: under-degree nodes (2-hop backfill),
        # dup-edged nodes, and the rare dedup-shrunken fast rows
        for p in rest + slow:
            op = ops[int(p)]
            parts = [op, new_pos]
            if len(op) < k_eff:  # (d) 2-hop backfill
                for qpos in op:
                    two_hop = ol[qpos]
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

    return repair


def materialize_layered2(
    index: LayeredGraph2Index, path: str, pinned: bool = True
) -> LayeredGraph2Index:
    """Persist the hierarchical index to parquet and re-open it — the
    engine's write_index/read_index (reference analog:
    faiss.write_index/read_index; Milvus persists per-segment indexes,
    /root/reference/dynamic_script_milvus.py:76-82). Three artifacts:
    segments PARTITIONED BY segment_id, the DISTRIBUTED L2 centroid
    table (never collected whole — probes pull only probed cells into a
    byte-capped driver cache, the property that lets segment count
    exceed any driver-sized top layer), and a driver-sized L1 sidecar
    (nlist1 rows by design) that the driver writes with pyarrow, no
    Spark job. The two table writes are the only Spark jobs of a
    materialize with ``pinned=False``. `pinned` picks the re-open mode
    (see open_layered2) — pass False when the caller wants the
    cold-serving relation, so the write path never shuffles/persists a
    full cached copy it is not going to use. Like the _EPOCH stamp, the
    sidecar assumes `path` is a local or shared POSIX path."""
    spark = index.segments.sparkSession
    index.segments.write.mode("overwrite").partitionBy("segment_id").parquet(
        os.path.join(path, "segments")
    )
    _write_epoch(os.path.join(path, "segments"))
    index.l2_table.write.mode("overwrite").parquet(os.path.join(path, "l2"))
    _write_l1(os.path.join(path, "l1"), index)
    return open_layered2(spark, path, pinned=pinned)


def _write_l1(l1_dir: str, index: LayeredGraph2Index) -> None:
    """Overwrite `l1_dir` with one parquet file of the L1 sidecar: one
    row per L1 centroid, in the schema the Spark writer used to give it
    (l1_id long, centroid array<double>, nlist1 int, nlist2 int,
    degree int), so indexes written before and after read alike."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    C = np.ascontiguousarray(index.l1_centroids, dtype=np.float64)
    n, dim = C.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * dim)
    table = pa.table(
        {
            "l1_id": pa.array(np.arange(n, dtype=np.int64)),
            "centroid": pa.ListArray.from_arrays(offsets, pa.array(C.ravel())),
            "nlist1": pa.array(np.full(n, index.nlist1, dtype=np.int32)),
            "nlist2": pa.array(np.full(n, index.nlist2, dtype=np.int32)),
            "degree": pa.array(np.full(n, index.degree, dtype=np.int32)),
        }
    )
    shutil.rmtree(l1_dir, ignore_errors=True)
    os.makedirs(l1_dir)
    pq.write_table(table, os.path.join(l1_dir, "part-00000.parquet"))


def _footer_schema(root: str):
    """The Spark schema of the Spark-written parquet files under `root`,
    from the row metadata Spark's writer leaves in every file footer,
    read from the first data file (names starting with "_" or "." are
    skipped, as Spark's listing skips them). One footer read on the
    driver, where `spark.read.parquet` would run a schema-inference
    job; schema inference reads the same metadata."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    for top, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            meta = pq.read_schema(os.path.join(top, data[0])).metadata
            return StructType.fromJson(
                json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
            )
    raise FileNotFoundError(f"no parquet data file under {root}")


def open_layered2(
    spark, path: str, pinned: bool = True, served: bool = False
) -> LayeredGraph2Index:
    """Re-open a materialized layered2 index: L1 sidecar to the driver
    (nlist1 rows, read with pyarrow), L2 table stays a distributed
    relation. The L2 and segment relations are read with the schema of
    their parquet footers (`_footer_schema`; segment_id, the partition
    column, as int), so the served and cold opens run no Spark job. (A
    segment table of more than
    spark.sql.sources.parallelPartitionDiscovery.threshold partition
    directories, 32 by default, is listed by a Spark job, as any
    partitioned parquet read is.)

    Three serving modes for the segment table:

    * ``pinned=True`` (default) — one-time repartition on segment_id +
      persist, so every subsequent probe's groupBy is exchange-free.
      The right mode when the index FITS executor storage and serves
      many batches (the resident-index regime, like hnswlib holding
      the graph in RAM). Still pays the Arrow payload transfer into
      the Python walk workers per batch.
    * ``pinned=False`` — the raw partitioned-parquet relation. A probe
      then PARTITION-PRUNES the scan to the probed segment_ids
      (segments/segment_id=K/ directories) and shuffles only those
      rows into the walk kernel. The larger-than-memory mode: an index
      bigger than cluster storage is touched only where the probe list
      points — executed scan rows measured in bench detail
      (probe_scan_rows), plan shape pinned in tests/test_plans.py.
    * ``served=True`` — worker-side segment serving: the probe plan's
      input is the tiny probed (segment_id) list and Python workers
      pyarrow-read + LRU-cache their segments' decoded arrays straight
      from this path (see the serving-mode comment above
      `_served_segment`). The high-QPS repeated-batch mode: steady
      state ships zero payload per batch, and a probe is one Spark job,
      run when `knn_graph_layered2` is called: the tasks' local top-k
      rows are merged on the driver and returned as a local relation,
      with no Exchange and no window. Results are identical across
      all three modes (same kernel, same rows — pinned in
      tests/test_index.py)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructField, StructType

    meta = pq.read_table(os.path.join(path, "l1")).sort_by("l1_id")
    n = meta.num_rows
    l1 = np.ascontiguousarray(
        meta.column("centroid").combine_chunks().flatten().to_numpy().reshape(n, -1),
        dtype=np.float64,
    )
    nlist1, nlist2, degree = (
        int(meta.column(c)[0].as_py()) for c in ("nlist1", "nlist2", "degree")
    )
    # NOT persisted: probes read L2 rows through the index object's
    # byte-capped driver cache (LayeredGraph2Index.l2_rows), which scans
    # this relation only for cells it has not cached yet, so the open
    # stays side-effect-free
    l2_dir = os.path.join(path, "l2")
    l2 = spark.read.schema(_footer_schema(l2_dir)).parquet(l2_dir)
    seg_dir = os.path.join(path, "segments")
    # the partition column is in the directory names, not the files
    seg_schema = StructType(
        _footer_schema(seg_dir).fields + [StructField("segment_id", IntegerType())]
    )
    segs = spark.read.schema(seg_schema).parquet(seg_dir)
    serve_dir = seg_dir if served else None
    if pinned and not served:
        segs = segs.repartition(nlist1 * nlist2, "segment_id").persist()
        segs.count()
    return LayeredGraph2Index(segs, l1, l2, nlist1, nlist2, degree, serve_dir)
