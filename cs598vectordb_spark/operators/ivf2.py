"""Two-level k-means coarse layer (centroid-of-centroids) — the router
behind the layered2 graph index (operators/graph.py build_layered_graph2).

A flat coarse quantizer scores queries against ALL nlist centroids on
the driver — fine while nlist is thousands, impossible when a 100 TB
base wants nlist ~ sqrt(N) ~ 10^5-10^6 lists. The classic fix (FAISS's
IVF_HNSW / two-level coarse quantizers; the reference's own coarse
quantizer is trained on a bounded sample, multi_tenant_script.py:94-99)
is hierarchical:

* L1: a driver-sized coarse layer (nlist1 centroids, k-means on a
  bounded sample — same trainer as flat IVF).
* L2: per-L1-cell sub-centroids, trained INSIDE one applyInPandas pass
  over each cell (sampled locally, Lloyd's in numpy) which also assigns
  every row its (l1_id, l2_id). The L2 centroid table is then the exact
  per-list mean, computed DISTRIBUTED via posexplode + avg — the full
  L2 matrix is never collected to the driver at build time.

layered2 builds one kNN-graph segment per (l1_id, l2_id) sub-list and
routes a probe the same two-level way: L1 scored on the driver, then
only the probed cells' L2 rows pulled (bounded by nprobe1 · nlist2).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs598vectordb_spark.config import SEED


@dataclass
class Ivf2Index:
    assigned: DataFrame  # base columns + l1_id, l2_id
    l1_centroids: np.ndarray  # (nlist1, dim) — driver-sized by design
    l2_table: DataFrame  # (l1_id, l2_id, centroid) — stays distributed
    nlist1: int
    nlist2: int


def build_ivf2_index(
    base: DataFrame,
    nlist1: int = 8,
    nlist2: int = 4,
    train_sample: int = 10_000,
    cell_sample: int = 4_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> Ivf2Index:
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    from cs598vectordb_spark.operators.index import _kmeans_fit, build_ivf_index

    # L1 = a flat IVF assignment (driver-sample trainer + broadcast kernel)
    l1 = build_ivf_index(
        base, nlist=nlist1, train_sample=train_sample,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    l1_assigned = l1.assigned.withColumnRenamed("centroid_id", "l1_id")

    out_schema = StructType(
        list(base.select(id_col, vec_col).schema.fields)
        + [StructField("l1_id", IntegerType()), StructField("l2_id", IntegerType())]
    )

    def cell_kmeans(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        X = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
        k = min(nlist2, len(pdf))
        Xs = X[: min(len(pdf), cell_sample)]  # deterministic local sample
        C = _kmeans_fit(Xs, k, seed)
        d2 = (
            np.square(X).sum(1, keepdims=True)
            - 2.0 * (X @ C.T)
            + np.square(C).sum(1)[None, :]
        )
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "l1_id": pdf["l1_id"],
                "l2_id": d2.argmin(axis=1).astype(np.int32),
            }
        )

    assigned = (
        l1_assigned.groupBy("l1_id").applyInPandas(cell_kmeans, out_schema).persist()
    )
    assigned.count()
    # exact per-list means, computed distributed (never a full-L2 collect)
    l2_table = (
        assigned.select("l1_id", "l2_id", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("l1_id", "l2_id", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("l1_id", "l2_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select(
            "l1_id", "l2_id", F.transform("s", lambda x: x["m"]).alias("centroid")
        )
        .persist()
    )
    l2_table.count()
    return Ivf2Index(assigned, l1.centroids, l2_table, nlist1, nlist2)
