"""IVF-PQ: product-quantized RESIDUALS inside centroid-partitioned
inverted lists — the composite index the reference's libraries ship as
their large-scale default (FAISS IndexIVFPQ; Milvus IVF_PQ index type,
/root/reference/multi_tenant_script.py:94-99 trains the same m×8-bit
codec). It is the engine's one compressed index: the coarse quantizer
is the flat IVF of operators.index, and the PQ codebooks are trained
here, on residuals, the way the native engines compose them:

1. Coarse quantizer: the existing IVF k-means (driver-sized centroid
   matrix, broadcast assignment kernel).
2. RESIDUAL encoding: each vector stores PQ codes of (x − c[list(x)]),
   not of x — residual magnitudes are ~the cell radius, so the same
   ksub budget buys far finer quantization than raw-vector PQ.
3. The encoded table is materialized PARTITIONED BY centroid_id: a
   probe reads only nprobe/nlist of the data — partition pruning, the
   property that makes the scan sublinear at 100 TB.
4. ADC with PER-LIST lookup tables: distance(q, x) ≈ Σ_j T[q, list,
   j, code_j] where T is built from (q − c[list]) inside the probe
   kernel, per list and its probers — the broadcast carries only the
   queries, centroids and codebooks.

Scale shape: the probe is scan(pruned partitions) → per-batch numpy
gathers → local top-k → tiny shuffle (≤ |parts|·|Q|·k rows) — identical
to the exact kernel's map-side-combine discipline, on 8-byte codes
instead of 256-byte vectors.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, SEED
from cs598vectordb_spark.operators.index import _kmeans_fit, build_ivf_index


@dataclass
class PqCodebooks:
    codebooks: np.ndarray  # (m, ksub, dsub)
    m: int
    ksub: int


@dataclass
class IvfPqIndex:
    codes: DataFrame  # (vec_id, centroid_id, codes ARRAY<INT>[m])
    centroids: np.ndarray  # (nlist, dim) — driver-sized by design
    cb: PqCodebooks  # trained on residuals
    nlist: int
    path: str | None = None

    def close(self) -> None:
        self.codes.unpersist()


def build_ivfpq(
    base: DataFrame,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
    path: str | None = None,
    keep_vectors: bool = False,
) -> IvfPqIndex:
    """Coarse-assign, residual-encode, and (optionally) materialize
    partitioned by list id. Training happens on the deterministic
    orderBy-head sample's residuals; encoding is one Arrow pass.

    keep_vectors=True stores the raw vector NEXT TO its codes in the
    list-partitioned layout (the FAISS IndexRefineFlat storage shape):
    the refined probe then re-ranks its ADC shortlist map-side from the
    same rows it already scanned, which deletes the refine join's
    full-base exchange — see knn_ivfpq_refined. Same total bytes as
    base+index held separately; it is a RE-LAYOUT, not an extra copy,
    so the 100 TB story is unchanged."""
    ivf = build_ivf_index(base, nlist, train_sample, id_col, vec_col, seed)
    C = ivf.centroids
    spark = base.sparkSession

    # train sub-codebooks on the SAMPLE's residuals (driver-side d×d-free
    # algebra on train_sample rows, same budget as the IVF trainer)
    sample = (
        base.select(id_col, vec_col).orderBy(id_col).limit(train_sample).toPandas()
    )
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    d2 = (
        np.square(X).sum(1, keepdims=True)
        - 2.0 * (X @ C.T)
        + np.square(C).sum(1)[None, :]
    )
    R = X - C[d2.argmin(axis=1)]
    dim = R.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.stack(
        [
            _kmeans_fit(R[:, j * dsub : (j + 1) * dsub], ksub, seed + j, 8)
            for j in range(m)
        ]
    )
    cb = PqCodebooks(books, m, ksub)

    bc = spark.sparkContext.broadcast((C, books))

    def encode(batches):
        import pandas as pd

        Cb, Bk = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            lists = pdf["centroid_id"].to_numpy()
            Rb = V - Cb[lists]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = Rb[:, j * dsub : (j + 1) * dsub]
                d = -2.0 * (sub @ Bk[j].T) + np.square(Bk[j]).sum(1)[None, :]
                codes[:, j] = d.argmin(axis=1)
            cols = {
                id_col: pdf[id_col].values,
                "centroid_id": lists,
                "codes": list(codes),
            }
            if keep_vectors:
                cols[vec_col] = pdf[vec_col].values
            yield pd.DataFrame(cols)

    schema = f"{id_col} long, centroid_id int, codes array<int>"
    if keep_vectors:
        schema += f", {vec_col} array<float>"
    encoded = ivf.assigned.mapInPandas(encode, schema)
    if path is not None:
        # materialize partitioned by list id → probes prune partitions.
        # Shuffle onto the list id FIRST: without it every write task
        # fans across every list directory — ~tasks×nlist tiny files
        # (measured 32,144 files / ~30 rows each at 1M×1024, and the
        # probe's scan spent 13.5 s on file opens against ~1 s of
        # actual decode). One exchange at build time buys one file per
        # list — the layout a 100 TB table needs anyway (file count =
        # nlist × shards-per-list, never × write-parallelism).
        encoded.repartition(nlist, "centroid_id").write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(path)
        codes = spark.read.parquet(path)
    else:
        codes = encoded.persist()
        codes.count()
    return IvfPqIndex(codes, C, cb, nlist, path)


def knn_ivfpq(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = DEFAULT_K,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the probed lists with per-list residual LUTs.
    Output (q_id, rank, vec_id, dist) — dist is the quantized distance;
    compose with the exact re-rank (knn_ivfpq_refined) when the
    shortlist feeds a recall-critical consumer."""
    return _adc_probe(index, queries, k, nprobe, None, vec_col, id_col)


def knn_ivfpq_refined(
    index: IvfPqIndex,
    base: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_K,
    nprobe: int = 8,
    mult: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ shortlist + exact re-rank (FAISS's IVFPQR shape): the
    quantized probe selects k·mult candidates from the pruned lists,
    then ONLY those candidates get exact distances — the compressed
    scan does the selection, exact math touches ~mult·k/N of the table.
    This is the SERVING configuration of record for the dynamic
    protocol: raw ADC at nprobe=8 sits below the engine's advertised
    ≥0.70 approximate floor on this data, the refined probe clears it
    (pinned in tests/test_pq.py and tests/test_updates_metrics.py).

    Two physical strategies, picked by the index layout:
    - FUSED (index built with keep_vectors=True): the probe kernel
      ADC-selects the per-(query, list) top-mult·k and re-ranks them
      exactly IN PLACE from the vectors stored beside the codes — plan
      is scan(pruned) → kernel → one top-k window, the same 2-stage
      shape as plain ADC. The r11 join form paid an extra window
      shuffle plus a full-base exchange for the candidate fetch
      (measured 8× slower than EXACT at 100K base — the whole r11
      large-base inversion was this fixed cost); fused, the refine adds
      ~mult·k·dim FLOPs per probe pair and no new stage. The candidate
      set is a per-list superset of the join form's global-mult·k
      shortlist, so recall can only improve; floors unchanged.
    - JOIN (vector-less index): the original shortlist → base join.
      Every engine caller builds keep_vectors=True (the registered
      entries, the streaming jobs, the serving probe), so this path
      serves only a codes-only index and is kept as the reference the
      fused path's equivalence and plan tests compare against."""
    from cs598vectordb_spark.functions.distance import squared_l2

    if vec_col in index.codes.columns:
        return _adc_probe(index, queries, k, nprobe, mult, vec_col, id_col)
    shortlist = knn_ivfpq(index, queries, k=mult * k, nprobe=nprobe).select(
        "q_id", "vec_id"
    )
    qv = queries.select(F.col("q_id"), F.col(vec_col).alias("_q_emb"))
    scored = (
        shortlist.join(
            base.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_b_emb")),
            "vec_id",
        )
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", squared_l2("_q_emb", "_b_emb").alias("dist"))
    )
    return _topk_window(scored, k)


def _adc_probe(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int,
    nprobe: int,
    mult: int | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The one IVF-PQ probe plan: one pruned scan, one Arrow kernel,
    one final top-k window. Per (query, probed list) the kernel ADC-
    scores every code row, then either emits the ADC top-k
    (mult=None, knn_ivfpq) or — over a keep_vectors index — cuts to
    the top mult·k by (adc, vec_id), computes exact squared-L2 on just
    those rows' stored vectors and emits their exact top-k (the fused
    knn_ivfpq_refined). Exact-math volume is the same mult·k per probe
    pair as the join form; the exchanges the join form paid (shortlist
    window + full-base join) are gone.

    Granularity note: every cut is per (query, list,
    PARTITION-FRAGMENT) — when a list's rows span physical partitions
    (in-memory builds; multi-file lists), each fragment contributes its
    own top-mult·k, so fragmentation only WIDENS the candidate set
    (recall is monotone ≥ the whole-list cut; floors unaffected). The
    flip side: two different physical layouts can return different —
    both floor-valid — refined top-k for near-boundary candidates,
    which is why that entry is floor-pinned, not value-hashed. The 1M
    measurement of exactly this: a 32k-tiny-file layout made the probe
    effectively exact over probed lists (recall 0.995) where the
    1-file-per-list layout's honest ADC cut reads 0.71 at mult=10."""
    spark = index.codes.sparkSession
    qpdf = queries.select("q_id", vec_col).toPandas()
    q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
    Q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    C = index.centroids
    books = index.cb.codebooks

    # driver-side probe selection: queries and centroids are both
    # driver-sized (the reference's own design point)
    qc = (
        np.square(Q).sum(1, keepdims=True)
        - 2.0 * (Q @ C.T)
        + np.square(C).sum(1)[None, :]
    )
    probed = np.argsort(qc, axis=1)[:, :nprobe]  # (nq, nprobe)

    # LUTs are built INSIDE the kernel per (list, its probers) — the
    # broadcast carries only (queries, centroids, codebooks), O(nq·dim
    # + nlist·dim + m·ksub·dsub). The precomputed-T form shipped
    # nq·nprobe·m·ksub doubles: 262 MB at (1000, 8, 16, 256) — the
    # broadcast serialization alone cost more than the whole probe
    # (measured 14.9 s vs 4.4 s at 1M×1024). Worker-side LUT math is
    # ~p·m·ksub·dsub flops per list — ~0.5 GFLOPs total at that shape,
    # spread over the scan's own parallelism.
    nq = len(q_ids)
    probe_map: dict[int, list[int]] = {}
    for qi in range(nq):
        for pi in range(nprobe):
            probe_map.setdefault(int(probed[qi, pi]), []).append(qi)
    b2 = np.square(books).sum(2)  # (m, ksub)
    bc = spark.sparkContext.broadcast((q_ids, Q, C, books, b2, probe_map))

    lists = sorted(probe_map)
    pruned = index.codes.filter(F.col("centroid_id").isin(lists))

    def kern(batches):
        import pandas as pd

        bq_ids, bQ, bC, Bk, bb2, bmap = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_id, out_d = [], [], []
            for cid, grp in pdf.groupby("centroid_id"):
                probers = bmap.get(int(cid))
                if not probers:
                    continue
                Cd = np.stack(grp["codes"].to_numpy())  # (n, m)
                ids = grp[id_col].to_numpy(dtype=np.int64)
                n = len(ids)
                qis = np.asarray(probers, dtype=np.int64)
                scores = _adc_scores(bQ[qis] - bC[int(cid)], Cd, Bk, bb2)
                if mult is None:  # ADC top-k straight off the codes
                    kk, dists, cand_ids = min(k, n), scores, [ids] * len(probers)
                else:  # exact refine on the ADC-selected rows only
                    V = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
                    mk = min(mult * k, n)
                    sel = np.stack([_ordered_cut(s, ids, mk) for s in scores])
                    dists = np.square(V[sel] - bQ[qis][:, None, :]).sum(axis=2)  # (p, mk)
                    kk, cand_ids = min(k, mk), ids[sel]
                for t in range(len(probers)):
                    pick = _ordered_cut(dists[t], cand_ids[t], kk)
                    out_q.append(np.full(kk, bq_ids[qis[t]], dtype=np.int64))
                    out_id.append(cand_ids[t][pick])
                    out_d.append(dists[t][pick])
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_id),
                        "dist": np.concatenate(out_d),
                    }
                )

    return _topk_window(
        pruned.mapInPandas(kern, "q_id long, vec_id long, dist double"), k
    )


def _adc_scores(
    Rq: np.ndarray, Cd: np.ndarray, Bk: np.ndarray, bb2: np.ndarray
) -> np.ndarray:
    """(p, n) ADC distances of p query residuals Rq against one list's
    (n, m) codes Cd: per subspace one small LUT GEMM for EVERY prober
    and one gather of shape (p, n) — the per-prober Python loop this
    replaced did p·m tiny gathers and dominated the probe's fixed
    overhead at serving batch sizes (p ≈ nq·nprobe/nlist per list)."""
    m, dsub = Bk.shape[0], Bk.shape[2]
    scores = np.zeros((len(Rq), len(Cd)))
    for j in range(m):
        sub = Rq[:, j * dsub : (j + 1) * dsub]
        Tj = (
            np.square(sub).sum(1, keepdims=True)
            - 2.0 * (sub @ Bk[j].T)
            + bb2[j][None, :]
        )  # (p, ksub)
        scores += Tj[:, Cd[:, j]]
    return scores


def _ordered_cut(s: np.ndarray, ids: np.ndarray, kk: int) -> np.ndarray:
    """Positions of the kk best scores in s under the (score, vec_id)
    total order the final window uses. The argpartition cut is widened
    to EVERY row tied with the boundary score first (identical code
    vectors are plausible at small ksub / duplicate inputs), so the
    pick is deterministic across partitionings, not
    argpartition-arbitrary."""
    part = np.argpartition(s, kk - 1)[:kk]
    cand = np.flatnonzero(s <= s[part].max())
    order = np.lexsort((ids[cand], s[cand]))[:kk]
    return cand[order]


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    """Final per-query merge: (q_id, rank, vec_id, dist) for the k
    smallest dist, ties broken by vec_id."""
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
    )


def delete_from_ivfpq(
    index: IvfPqIndex,
    keep: DataFrame,
    id_col: str = "vec_id",
    deleted: DataFrame | None = None,
) -> IvfPqIndex:
    """IVF-PQ delete; centroids and codebooks are untouched (the
    frozen-codec discipline every native engine follows: FAISS
    remove_ids edits lists, never retrains). Two physical strategies:

    * TOMBSTONE MASK (``deleted`` provided — the r13 verdict's
      documented alternative, now real): the deleted ids are BROADCAST
      and anti-joined in place. A broadcast join is a narrow
      transformation over the code table — no shuffle, no re-layout —
      so a materialized index keeps its list-partitioned parquet files
      and every post-delete probe still prunes at file level
      (scan(pruned files) → broadcast filter → kernel). This is the
      right shape whenever the delete batch fits a broadcast (a 25%
      delete of SIFT1M is ~2 MB of ids); at 100 TB it is the ONLY
      shape that doesn't rewrite the index to drop rows.
    * SEMI-JOIN + REGROUP (``deleted`` omitted): for non-broadcastable
      delete volumes, one shuffled semi-join against the survivors,
      re-grouped onto the list id before the persist — a shuffled join
      hash-partitions on the JOIN key (vec_id), scattering every list
      across all shuffle partitions, and the fused probe's ADC cut is
      per (query, list, fragment): the r13 1M dynamic point measured
      that fragmentation as recall 1.0 at 2× the wall (the probe had
      silently degenerated to exact). The regroup restores the
      index's physical contract but yields a CACHED hash-partitioned
      relation that loses file-level pruning — post-update probes
      measured 1.2–2.1× the pristine wall at 1M (r13); compact_ivfpq
      is the periodic remedy."""
    if deleted is not None:
        codes = index.codes.join(
            F.broadcast(deleted.select(id_col)), id_col, "anti"
        )
        return IvfPqIndex(
            codes, index.centroids, index.cb, index.nlist, index.path
        )
    codes = (
        index.codes.join(keep.select(id_col), id_col, "semi")
        .repartition(_regroup_width(index), "centroid_id")
        .persist()
    )
    codes.count()
    return IvfPqIndex(codes, index.centroids, index.cb, index.nlist, None)


def _regroup_width(index: IvfPqIndex) -> int:
    """Partition count for re-grouped (post-update) code tables: hash on
    centroid_id keeps every list whole either way, but one partition
    PER list (nlist=1024 → 1024 cached partitions) made every probe pay
    ~1024 near-empty task launches — the r13 dynamic point measured the
    post-insert probe at 2.6× the pre wall from scheduling alone. Cap
    at 4× parallelism; several whole lists share a partition, and at
    the 1M/1024 shape a partition still fits one Arrow batch so the
    per-(query, list) ADC cut stays fragment-free."""
    par = index.codes.sparkSession.sparkContext.defaultParallelism
    return max(1, min(index.nlist, 4 * par))


def insert_into_ivfpq(
    index: IvfPqIndex,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """IVF-PQ insert: arrivals are coarse-assigned and residual-encoded
    with the SERVING index's frozen centroids/codebooks (one Arrow pass
    over |delta|), then landed in their lists — no retraining, no
    rebuild, cost O(|delta|). Codec drift under heavy distribution shift
    is the operator's documented limit; the recall-degradation workload
    is the measurement that says when a retrain is due.

    Physical strategy (r14, closing the r13 post-update layout gap):
    for a MATERIALIZED index (index.path set) the encoded delta is
    written to a sibling DELTA directory in the builder's own
    list-partitioned layout and the serving relation becomes
    union(main scan, delta scan) — both children partition-prune at
    file level, so a post-insert probe reads ~nprobe/nlist of the
    files exactly like the pristine probe (the r13 regroup form left
    the whole updated table a cached hash-partitioned relation whose
    every probe scanned all batches: 1.2–2.1× the pristine wall at
    1M). Per-list fragment count grows by one file per delta
    generation — the ADC cut only WIDENS (recall monotone ≥), and
    compact_ivfpq folds the deltas back to one file per list every K
    cycles, the LSM discipline. In-memory indexes keep the r13
    union + list-keyed regroup."""
    spark = delta.sparkSession
    C = index.centroids
    books = index.cb.codebooks
    m, dsub = index.cb.m, books.shape[2]
    keep_vectors = vec_col in index.codes.columns
    bc = spark.sparkContext.broadcast((C, books))

    def encode(batches):
        import pandas as pd

        Cb, Bk = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (
                np.square(V).sum(1, keepdims=True)
                - 2.0 * (V @ Cb.T)
                + np.square(Cb).sum(1)[None, :]
            )
            lists = d2.argmin(axis=1).astype(np.int32)
            Rb = V - Cb[lists]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = Rb[:, j * dsub : (j + 1) * dsub]
                d = -2.0 * (sub @ Bk[j].T) + np.square(Bk[j]).sum(1)[None, :]
                codes[:, j] = d.argmin(axis=1)
            cols = {
                id_col: pdf[id_col].values,
                "centroid_id": lists,
                "codes": list(codes),
            }
            if keep_vectors:
                cols[vec_col] = pdf[vec_col].values
            yield pd.DataFrame(cols)

    schema = f"{id_col} long, centroid_id int, codes array<int>"
    cols = [id_col, "centroid_id", "codes"]
    if keep_vectors:
        schema += f", {vec_col} array<float>"
        cols.append(vec_col)
    encoded = delta.select(id_col, vec_col).mapInPandas(encode, schema)
    if index.path is not None:
        # delta-layout insert: land the arrivals in the SAME
        # list-partitioned parquet shape the builder writes (one
        # list-keyed exchange over |delta|, one file per touched list)
        # under a fresh sibling directory, and serve the union of the
        # two partition-pruned scans. Layout-preserving: no persist, no
        # full-table exchange, file-level pruning intact on both sides.
        n = 0
        while os.path.exists(f"{index.path}__delta{n}"):
            n += 1
        delta_path = f"{index.path}__delta{n}"
        encoded.repartition(index.nlist, "centroid_id").write.partitionBy(
            "centroid_id"
        ).parquet(delta_path)
        codes = index.codes.select(*cols).unionByName(
            spark.read.parquet(delta_path).select(*cols)
        )
        return IvfPqIndex(
            codes, index.centroids, index.cb, index.nlist, index.path
        )
    # re-group onto the list id: a bare union leaves arrivals in their
    # own partitions and (after an upstream shuffled delete) survivors
    # scattered by vec_id — see delete_from_ivfpq's fragmentation note
    codes = (
        index.codes.select(*cols)
        .unionByName(encoded)
        .repartition(_regroup_width(index), "centroid_id")
        .persist()
    )
    codes.count()
    return IvfPqIndex(codes, index.centroids, index.cb, index.nlist, None)


def delta_generations(path: str) -> list[str]:
    """Existing `{path}__deltaN` directories in NUMERIC generation
    order (lexicographic sort puts __delta9 after __delta10 once
    generations reach double digits — ADVICE r14)."""
    import glob
    import re

    out = []
    for d in glob.glob(f"{path}__delta*"):
        m = re.fullmatch(re.escape(path) + r"__delta(\d+)", d)
        if m:
            out.append((int(m.group(1)), d))
    return [d for _, d in sorted(out)]


def drop_delta_generations(path: str) -> int:
    """Remove every `{path}__deltaN` directory; returns the count
    dropped. Call AFTER compaction folded them into a new layout (or
    before a fresh benchmark run) — any still-lazy relation unioning
    those scans becomes invalid once they are gone."""
    import shutil

    gens = delta_generations(path)
    for d in gens:
        shutil.rmtree(d, ignore_errors=True)
    return len(gens)


def auto_compact_ivfpq(
    index: IvfPqIndex, max_generations: int = 4
) -> tuple[IvfPqIndex, bool]:
    """LSM compaction POLICY: fold the delta chain back into one layout
    once it reaches `max_generations` fragments per list, else return
    the index untouched. Returns (index, compacted).

    An unbounded delta chain is the one way the layout-preserving
    update story degrades: every probe unions one more file-pruned
    scan per generation, so probe wall grows ~linearly in generations
    (measured in the bench endurance block). The threshold form keeps
    amortized maintenance O(index / max_generations) per cycle —
    the classic LSM trade. Target directories step through
    `{root}__compactN` so repeated compactions never overwrite a
    still-lazy input (compact_ivfpq's guard), and the folded delta
    dirs are dropped, so generation numbers restart at 0 after every
    fold. In-memory indexes (path=None) regroup on insert instead of
    fragmenting and never need this."""
    if index.path is None:
        return index, False
    gens = delta_generations(index.path)
    if len(gens) < max_generations:
        return index, False
    root = index.path.split("__compact")[0]
    n = 0
    while os.path.exists(f"{root}__compact{n}"):
        n += 1
    return (
        compact_ivfpq(index, f"{root}__compact{n}", clean_source_deltas=True),
        True,
    )


def compact_ivfpq(
    index: IvfPqIndex, path: str, clean_source_deltas: bool = False
) -> IvfPqIndex:
    """Fold the serving relation — main layout, delta generations,
    tombstone masks, or a cached regrouped table — back into the
    builder's one-file-per-list materialized layout at `path` and
    reopen from it: the LSM compaction step that bounds per-list
    fragment count across long update histories. `path` must be a NEW
    directory when the index currently reads from parquet (Spark
    cannot overwrite the input of a still-lazy scan) — enforced below,
    because self-overwriting a lazy scan's input is the silent-data-
    loss class Spark does not always catch (ADVICE r14). Cost is one
    list-keyed exchange + full write — O(index), which is why it runs
    every K update cycles, not per update (the delete/insert ops
    themselves are O(|batch|)).

    clean_source_deltas=True additionally drops the folded
    `{index.path}__deltaN` directories after the write commits, so
    generation numbers and disk usage stop growing across histories;
    leave False while OTHER index objects over the same path (e.g. an
    interleaved A/B rotation's delta-state handle) are still live."""
    spark = index.codes.sparkSession
    if index.path is not None:
        real = os.path.realpath(path)
        inputs = [index.path, *delta_generations(index.path)]
        for d in inputs:
            if real == os.path.realpath(d):
                raise ValueError(
                    f"compact_ivfpq target {path!r} would overwrite the "
                    f"still-lazy scan input {d!r}; pick a new directory"
                )
    index.codes.repartition(index.nlist, "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(path)
    if clean_source_deltas and index.path is not None:
        drop_delta_generations(index.path)
    return IvfPqIndex(
        spark.read.parquet(path), index.centroids, index.cb, index.nlist, path
    )
