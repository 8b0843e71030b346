"""XL dynamic point (r15, VERDICT r14 item 5): the reference's
signature delete->reinsert cycle (dynamic_script_faiss.py:75-117) at
10M on the headline graph2_served index — one beyond-cache-scale
measurement of the term most likely to scale superlinearly
(insert-repair: 55-65 s at 1M).

Protocol mirrors bench.py's 1M dynamic_graph2 block: maintenance runs
on the PINNED in-memory index, each settled snapshot MATERIALIZES to
the dynamic path and is served worker-side from disk; the post phase
overwrites that path in place, exercising the _EPOCH cache
invalidation at 10M. Probes are pairwise-interleaved vs the pristine
served index (per-rotation over_pre pairs, median + range), and
post_matches_pinned records row-equality of the post-rebuild served
probe vs a freshly pinned index — the staleness check as data.

Not part of bench.py: the one-time 10M truth recomputes (~2x 30 s
exact passes) plus a multi-minute repair would bill every per-round
run; re-run manually when the update architecture changes. Results
land in /tmp/xl{N}m_dynamic.json.

Env knobs: CS598_XL_N (default 10_000_000); SPARK_DRIVER_MEM
(pinned-index + repair working set at 10M wants >=32g; see the heap
note in SCALING.md)."""
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
    delete_from_layered2,
    insert_into_layered2,
    knn_graph_layered2,
    materialize_layered2,
    open_layered2,
)
from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.metrics import recall_at_k
from cs598vectordb_spark.session import get_spark

N = int(os.environ.get("CS598_XL_N", "10000000"))
MM = N // 1_000_000
spark = get_spark(f"xl{MM}m_dyn")
out = {
    "n": N,
    "delete_pct": 25,
    "load_start": [round(x, 2) for x in os.getloadavg()],
    # fixed-work BLAS probe: makes the scale claim load-auditable the
    # same way the bench record is (VERDICT r16 item 8)
    "calibration_start": benchlib.host_calibration(),
}

centers = max(256, N // 2000)
lb = spark.read.parquet(benchlib.large_base(spark, n=N, dim=128, centers=centers))
lbq = lb.filter(F.col("vec_id") < 1000).select(
    F.col("vec_id").alias("q_id"), "embedding"
)

n1, n2 = default_grid2(N)
out["grid"] = [n1, n2]
g2_path = f"/tmp/cs598_spark_io/large_base_{MM}m/graph2_{n1}x{n2}"
if not os.path.exists(os.path.join(g2_path, "l1")):
    t0 = time.time()
    idx = build_layered_graph2(lb, nlist1=n1, nlist2=n2, degree=16)
    materialize_layered2(idx, g2_path, pinned=False)
    idx.segments.unpersist()
    out["build_s"] = round(time.time() - t0, 1)

kw = dict(k=10, nprobe1=6, nprobe2=10, beam=32, rounds=4, n_entry=12)


def probe(ix):
    return knn_graph_layered2(ix, lbq, **kw)


srv_pre = open_layered2(spark, g2_path, served=True)
probe(srv_pre).count()  # cold cache fill before any timed pair

ex = knn_exact(lb, lbq, 10).persist()
ex.count()
out["pre_recall"] = recall_at_k(probe(srv_pre), ex, 10).collect()[0]["recall"]

keep = lb.filter(F.pmod(F.col("vec_id"), F.lit(4)) != 0)
dropped = lb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == 0)
truth_del = knn_exact(keep, lbq, 10).persist()
truth_del.count()

# maintenance on the pinned in-memory index (the COW discipline)
idx_pin = open_layered2(spark, g2_path, pinned=True)
dyn_path = f"/tmp/cs598_spark_io/large_base_{MM}m/graph2_dyn"

t0 = time.time()
g2_del = delete_from_layered2(idx_pin, keep, dropped=dropped)
materialize_layered2(g2_del, dyn_path, pinned=False)
out["delete_and_materialize_s"] = round(time.time() - t0, 1)

srv_del = open_layered2(spark, dyn_path, served=True)
probe(srv_del).count()  # cold
rot_del = benchlib.interleaved_rotations(
    {"pre": lambda: probe(srv_pre).count(),
     "during": lambda: probe(srv_del).count()},
    rounds=3,
)
from statistics import median as _med

out["during"] = {
    "seconds": round(_med(rot_del["during"]), 3),
    "qps": round(1000 / _med(rot_del["during"]), 1),
    "recall_vs_exact": recall_at_k(probe(srv_del), truth_del, 10).collect()[
        0
    ]["recall"],
    "over_pre_interleaved": benchlib.over_pre_ratio(rot_del, "during"),
}
truth_del.unpersist()

t0 = time.time()
g2_ins = insert_into_layered2(g2_del, dropped)
materialize_layered2(g2_ins, dyn_path, pinned=False)  # in-place overwrite
out["insert_repair_and_materialize_s"] = round(time.time() - t0, 1)
g2_del.segments.unpersist()

srv_post = open_layered2(spark, dyn_path, served=True)
probe(srv_post).count()  # cold (epoch invalidated every worker entry)
rot_post = benchlib.interleaved_rotations(
    {"pre": lambda: probe(srv_pre).count(),
     "post": lambda: probe(srv_post).count()},
    rounds=3,
)
out["pre"] = {
    "seconds": round(_med(rot_post["pre"]), 3),
    "qps": round(1000 / _med(rot_post["pre"]), 1),
    "recall_vs_exact": out.pop("pre_recall"),
}
out["post"] = {
    "seconds": round(_med(rot_post["post"]), 3),
    "qps": round(1000 / _med(rot_post["post"]), 1),
    "recall_vs_exact": recall_at_k(probe(srv_post), ex, 10).collect()[0][
        "recall"
    ],
    "over_pre_interleaved": benchlib.over_pre_ratio(rot_post, "post"),
}

pinned_post = open_layered2(spark, dyn_path, pinned=True)
srv_rows = sorted(
    (r.q_id, r.rank, r.vec_id) for r in probe(srv_post).collect()
)
pin_rows = sorted(
    (r.q_id, r.rank, r.vec_id) for r in probe(pinned_post).collect()
)
out["post_matches_pinned"] = bool(srv_rows == pin_rows)
pinned_post.segments.unpersist()
g2_ins.segments.unpersist()
idx_pin.segments.unpersist()

out["load_end"] = [round(x, 2) for x in os.getloadavg()]
out["calibration_end"] = benchlib.host_calibration()
dest = f"/tmp/xl{MM}m_dynamic.json"
with open(dest, "w") as fh:
    json.dump(out, fh, indent=1)
print(json.dumps(out))
