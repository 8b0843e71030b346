"""Scaling direction of the exact->approximate crossover: 4M x 128
(4x the SIFT1M shape), plus an optional 10M point (CS598_XL_N).
Exact brute force is O(N) per batch; the worker-served graph probe
touches a ~constant probed fraction, so the crossover should WIDEN
with N.

r13 recorded run (quiet start, load 1.7): base gen 17.6 s, graph2
32x32 build 190.1 s; exact 16.51 s = 60.6 QPS (vs 4.1 s at 1M - the
O(N) prediction holds within noise); graph2_served 5.06 s = 197.5 QPS
@ recall 0.916 (cold cache-fill pass 6.70 s under the default 512 MB
per-worker cap, i.e. the index no longer fits one worker's cache and
the LRU-churn regime still wins). Crossover ratio: 1.7x at 1M ->
3.3x at 4M (and 3.9x at the best swept config: nprobe1=8 nprobe2=12
beam=32 -> 4.18 s = 239 QPS @ recall 0.916). The follow-up sweep
showed the 4M recall ceiling (~0.92) is the 32x32 COARSE LAYER's
granularity at 4x the rows, not the walk: widening to nprobe2=16/
beam=48 bought only +0.008 recall for -33% QPS.

r14 (VERDICT r13 item 4): the prescribed fix is MORE SEGMENTS - the
IVF nlist discipline, now a builder default (default_grid2: segments
scale linearly with n, ~1k rows each; 4M -> 64x64). This script
builds BOTH grids at 4M and sweeps each, so the record shows the
recall ceiling lifting with the layer, not the walk. Not part of
bench.py: the one-time 4M builds would bill ~400 s to every
fresh-machine bench run; re-run manually when the probe architecture
changes. Results land in /tmp/xl4m.json (or xl{N}m.json).

Env knobs: CS598_XL_N (base rows, default 4_000_000 - set 10_000_000
for the 10M point, whose grid comes from default_grid2 alone);
CS598_XL_GRIDS ("32x32,64x64" style override)."""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib
from pyspark.sql import functions as F

from cs598vectordb_spark.operators.graph import (
    build_layered_graph2,
    default_grid2,
    knn_graph_layered2,
    materialize_layered2,
    open_layered2,
)
from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.metrics import recall_at_k
from cs598vectordb_spark.session import get_spark

N = int(os.environ.get("CS598_XL_N", "4000000"))
if os.environ.get("CS598_XL_GRIDS"):
    GRIDS = [
        tuple(int(x) for x in g.split("x"))
        for g in os.environ["CS598_XL_GRIDS"].split(",")
    ]
elif N == 4_000_000:
    GRIDS = [(32, 32), default_grid2(N)]  # the r13 grid + the rule's pick
else:
    GRIDS = [default_grid2(N)]

spark = get_spark(f"xl{N // 1_000_000}m")
out = {
    "n": N,
    "default_grid2": list(default_grid2(N)),
    "load_start": [round(x, 2) for x in os.getloadavg()],
}

t0 = time.time()
centers = max(256, N // 2000)
lb = spark.read.parquet(benchlib.large_base(spark, n=N, dim=128, centers=centers))
out["base_gen_s"] = round(time.time() - t0, 1)

lbq = lb.filter(F.col("vec_id") < 1000).select(
    F.col("vec_id").alias("q_id"), "embedding"
)
ex = knn_exact(lb, lbq, 10).persist()
ex.count()
out["exact_s"] = round(benchlib.med3(lambda: knn_exact(lb, lbq, 10).count()), 3)
out["exact_qps"] = round(1000 / out["exact_s"], 1)

# per-grid: build (cached across runs), cold + warm served probe at the
# serving config, then a small widening sweep so the frontier around
# the 0.95 recall bar is on record for both layers
SWEEP = [(6, 10, 32), (8, 12, 32), (8, 16, 48)]
for n1, n2 in GRIDS:
    tag = f"{n1}x{n2}"
    g2_path = f"/tmp/cs598_spark_io/large_base_{N // 1_000_000}m/graph2_{tag}"
    grid_out = {}
    if not os.path.exists(os.path.join(g2_path, "l1")):
        t0 = time.time()
        idx = build_layered_graph2(lb, nlist1=n1, nlist2=n2, degree=16)
        materialize_layered2(idx, g2_path, pinned=False)
        idx.segments.unpersist()
        grid_out["build_s"] = round(time.time() - t0, 1)
    srv = open_layered2(spark, g2_path, served=True)

    kw = dict(k=10, nprobe1=6, nprobe2=10, beam=32, rounds=4, n_entry=12)
    t0 = time.time()
    knn_graph_layered2(srv, lbq, **kw).count()  # cold (cache fill)
    grid_out["served_cold_s"] = round(time.time() - t0, 3)
    grid_out["served_s"] = round(
        benchlib.med3(lambda: knn_graph_layered2(srv, lbq, **kw).count()), 3
    )
    grid_out["served_recall"] = recall_at_k(
        knn_graph_layered2(srv, lbq, **kw), ex, 10
    ).collect()[0]["recall"]
    grid_out["served_qps"] = round(1000 / grid_out["served_s"], 1)

    pts = []
    for np1, np2, beam in SWEEP:
        kws = dict(k=10, nprobe1=np1, nprobe2=np2, beam=beam, rounds=4, n_entry=12)
        knn_graph_layered2(srv, lbq, **kws).count()  # warm this config
        t0 = time.time()
        knn_graph_layered2(srv, lbq, **kws).count()
        sec = max(time.time() - t0, 1e-9)
        rec = recall_at_k(
            knn_graph_layered2(srv, lbq, **kws), ex, 10
        ).collect()[0]["recall"]
        pts.append(
            {
                "nprobe1": np1, "nprobe2": np2, "beam": beam,
                "seconds": round(sec, 3), "qps": round(1000 / sec, 1),
                "recall": rec,
            }
        )
    grid_out["sweep"] = pts
    out[f"grid_{tag}"] = grid_out

out["load_end"] = [round(x, 2) for x in os.getloadavg()]
dest = f"/tmp/xl{N // 1_000_000}m.json"
with open(dest, "w") as fh:
    json.dump(out, fh, indent=1)
print(json.dumps(out))
