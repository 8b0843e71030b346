"""Adjudicate the batched IVF-PQ serving ceiling (VERDICT r16 item 7):
the r16 record read batched_ivfpq_50 at 107.5 sum-QPS (93 s wall for
one merged 10,000-query fused probe of the 1M index) vs graph2's
1,384 under the identical herd — the fused probe's per-query ADC work
did not amortize under merging the way the graph walk does. This
harness measures the fused refined probe's QPS as a function of merged
batch width on the SAME cached 1M index bench.py serves
(nlist=1024, m=16, ksub=256, keep_vectors), 3 passes per width with
the median kept, so the knee (if any) is measured rather than guessed:

  - QPS rising through the widest point  -> no internal ceiling; the
    93 s wall is simply the family's per-query ADC+refine cost, and
    the right record is a documented ceiling next to graph2's.
  - QPS peaking at some width W          -> chunk merged probes at W
    inside DynamicBatcher (max_batch_queries=W — the cap-chunking
    machinery already splits whole tenant frames) and re-record.

Env knobs: CS598_IB_WIDTHS (comma list, default
"500,1000,2000,5000,10000"), CS598_IB_PASSES (3).
Writes /tmp/ivfpq_batch_knee.json; quiet-start results are committed
and quoted in SCALING.md.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib
from pyspark.sql import functions as F

from cs598vectordb_spark.operators.ivfpq import knn_ivfpq_refined
from cs598vectordb_spark.session import get_spark

WIDTHS = [
    int(w) for w in os.environ.get(
        "CS598_IB_WIDTHS", "500,1000,2000,5000,10000"
    ).split(",")
]
PASSES = int(os.environ.get("CS598_IB_PASSES", "3"))
K, NPROBE, MULT = 10, 8, 10

spark = get_spark("xl-ivfpq-batch")
rec = {
    "index": {"n": 1_000_000, "nlist": 1024, "m": 16, "ksub": 256},
    "probe": {"k": K, "nprobe": NPROBE, "mult": MULT},
    "passes": PASSES,
    "load_start": [round(x, 2) for x in os.getloadavg()],
    "calibration_start": benchlib.host_calibration(),
}

lb1m_root = "/tmp/cs598_spark_io/large_base_1m"
lb1m = spark.read.parquet(
    benchlib.large_base(spark, n=1_000_000, dim=128, centers=1024)
).select("vec_id", "embedding")
idx = benchlib.cached_ivfpq(
    spark, lb1m, os.path.join(lb1m_root, "ivfpq_k256"),
    nlist=1024, m=16, ksub=256, train_sample=50_000, meta={},
)

# merged-width query frames: the bench herd's 200-query tenant frame
# replicated with slot-strided q_ids — exactly what DynamicBatcher
# hands the probe_fn (the q_id relabeling is opaque to the kernel)
qbase = lb1m.filter(F.col("vec_id") < 200).select(
    F.col("vec_id").alias("q_id"), "embedding"
).toPandas()

import pandas as pd

def frame(width: int):
    n_rep = (width + len(qbase) - 1) // len(qbase)
    reps = []
    for s in range(n_rep):
        f = qbase.copy()
        f["q_id"] = f["q_id"] + s * (1 << 40)
        reps.append(f)
    merged = pd.concat(reps, ignore_index=True).head(width)
    return spark.createDataFrame(
        merged, schema="q_id long, embedding array<float>"
    )

points = {}
# warm the fused path once at the smallest width
knn_ivfpq_refined(idx, lb1m, frame(WIDTHS[0]), k=K, nprobe=NPROBE,
                  mult=MULT).count()
for w in WIDTHS:
    qdf = frame(w)
    walls = []
    for _ in range(PASSES):
        t0 = time.time()
        n = knn_ivfpq_refined(
            idx, lb1m, qdf, k=K, nprobe=NPROBE, mult=MULT
        ).count()
        walls.append(max(time.time() - t0, 1e-9))
    med = sorted(walls)[len(walls) // 2]
    points[str(w)] = {
        "wall_s_median": round(med, 2),
        "walls": [round(x, 2) for x in walls],
        "qps": round(w / med, 1),
        "rows": int(n),
    }
    print(f"width {w}: median {med:.2f}s -> {w / med:.1f} QPS", flush=True)

rec["points"] = points
best = max(points, key=lambda w: points[w]["qps"])
rec["best_width"] = int(best)
rec["best_qps"] = points[best]["qps"]
widest = str(max(int(w) for w in points))
rec["ceiling"] = (
    "none_within_sweep" if best == widest else "knee_at_" + best
)
rec["load_end"] = [round(x, 2) for x in os.getloadavg()]
rec["calibration_end"] = benchlib.host_calibration()

path = "/tmp/ivfpq_batch_knee.json"
with open(path, "w") as fh:
    json.dump(rec, fh, indent=1)
print(json.dumps({k: v for k, v in rec.items() if k != "points"}))
print("written:", path)
