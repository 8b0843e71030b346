"""Scale points for the distributed kNN join, with SELF-EXCLUSION-CORRECT
recall sampling (ADVICE r15 item 2: the r15 points' brute-force truth
included each query's own (q, q) pair while the join ran
exclude_self=True, capping recall_sampled_500 at exactly 0.9 — both
committed r15 points read exactly 0.9, i.e. ~1.0 true recall
misreported — and saturating away the 0.9–1.0 band where real recall
loss would show). This harness re-records the series with truth =
top-k AFTER dropping self-pairs (k+1 exact probe), the same fix
bench.py's 100k block carries since r16.

Env knobs:
  CS598_KJ_N       base rows (default 1_000_000)
  CS598_KJ_NQ      query rows (default = N; queries are the base head,
                   exclude_self=True — the self-join configuration)
  CS598_KJ_NLIST   blocking cells (default: the rows-per-cell rule)
  CS598_KJ_NPROBE  probed cells per query (default 10)
  CS598_KJ_K       neighbors (default 10)

Writes /tmp/kj_<base>m_q<queries>m.json (the join and the 100M-row
parquet sink are timed as separate terms since r17); quiet-start
results are committed to the repo as knn_join_*.json and quoted in
SCALING.md §7.
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib
from pyspark.sql import functions as F

from cs598vectordb_spark.operators.knn import knn_exact
from cs598vectordb_spark.operators.knnjoin import (
    build_join_index,
    default_join_nlist,
    knn_join_ivf,
)
from cs598vectordb_spark.session import get_spark

N = int(os.environ.get("CS598_KJ_N", "1000000"))
NQ = int(os.environ.get("CS598_KJ_NQ", str(N)))
NLIST = int(os.environ.get("CS598_KJ_NLIST", str(default_join_nlist(N))))
NPROBE = int(os.environ.get("CS598_KJ_NPROBE", "10"))
K = int(os.environ.get("CS598_KJ_K", "10"))
# query-side slices run SEQUENTIALLY, each its own job whose shuffle
# files free when the job's plan is GC'd: at 10M x 10M the monolithic
# join's transient shuffle (|Q| x nprobe exploded vectors + |Q| x
# nprobe x k candidate rows) exceeds this host's free disk, and
# slicing the QUERY side is exactly how a bounded-resource cluster
# runs a corpus x corpus join anyway (the base index builds once and
# is reused by every slice; per-query cost is slice-invariant)
SLICES = int(os.environ.get("CS598_KJ_SLICES", "1"))

spark = get_spark("xl-knnjoin")
centers = max(256, N // 2000)
rec = {
    "n_base": N, "n_queries": NQ, "k": K, "nlist": NLIST, "nprobe": NPROBE,
    "query_slices": SLICES,
    "load_start": [round(x, 2) for x in os.getloadavg()],
    # fixed-work BLAS probe: makes the scale claim load-auditable the
    # same way the bench record is (VERDICT r16 item 8)
    "calibration_start": benchlib.host_calibration(),
    "recall_truth": "top-k of the k+1 exact probe minus self-pairs (r16 fix)",
}

lb = spark.read.parquet(
    benchlib.large_base(spark, n=N, dim=128, centers=centers)
).select("vec_id", "embedding")
q = lb.filter(F.col("vec_id") < NQ).select(
    F.col("vec_id").alias("q_id"), "embedding"
)
lb.persist().count()

t0 = time.time()
idx = build_join_index(lb, nlist=NLIST, metric="cosine", train_sample=100_000)
idx.assigned.persist().count()
rec["build_s"] = round(time.time() - t0, 1)

sink = "/tmp/cs598_spark_io/xl_kj_out"
shutil.rmtree(sink, ignore_errors=True)
join_s = 0.0
sink_s = 0.0
out_rows = 0
gc_every_slice = SLICES > 1
for sl in range(SLICES):
    qs = q.filter(F.col("q_id") % SLICES == sl) if SLICES > 1 else q
    o = knn_join_ivf(qs, idx, k=K, nprobe=NPROBE, exclude_self=True)
    o.persist()
    t0 = time.time()
    out_rows += o.count()
    join_s += time.time() - t0
    # the SINK term, timed separately (VERDICT r16 item 5): at 100M
    # output rows the parquet write is its own cost center and folding
    # it into join_s would make the series non-comparable
    t0 = time.time()
    o.write.mode("append").parquet(sink)
    sink_s += time.time() - t0
    o.unpersist()
    if gc_every_slice:
        # drop the slice's plan so the ContextCleaner frees its
        # shuffle files before the next slice writes its own
        del o
        spark.sparkContext._jvm.System.gc()
rec["out_rows"] = out_rows
rec["join_s"] = round(join_s, 1)
rec["join_qps"] = round(NQ / join_s, 1)
rec["sink_write_s"] = round(sink_s, 1)
out = spark.read.parquet(sink)

# corrected recall sample: 500 queries re-scored by the exact
# driver-batch kernel at k+1, self-pairs dropped, top-k of the remainder.
# The exact kernel is timed WARM (one unmeasured pass first) — it is
# the join's speedup DENOMINATOR, and a cold scan would flatter the
# join; the headline suite times warmed passes for the same reason.
sample = q.filter(F.col("q_id") < 500)
knn_exact(lb, sample.limit(50), k=K + 1, metric="cosine").count()
t0 = time.time()
truth_rows = (
    knn_exact(lb, sample, k=K + 1, metric="cosine")
    .filter(F.col("q_id") != F.col("vec_id"))
    .select("q_id", "vec_id", "rank")
    .collect()
)
rec["exact_sampled_qps"] = round(500 / max(time.time() - t0, 1e-9), 1)
by_q: dict = {}
for r in truth_rows:
    by_q.setdefault(r.q_id, []).append((r.rank, r.vec_id))
truth = {
    (qid, vid) for qid, rows in by_q.items() for _, vid in sorted(rows)[:K]
}
got = {
    (r.q_id, r.vec_id)
    for r in out.filter(F.col("q_id") < 500).select("q_id", "vec_id").collect()
}
rec["recall_sampled_500"] = round(len(got & truth) / max(len(truth), 1), 4)
rec["speedup_vs_exact"] = round(
    rec["join_qps"] / max(rec["exact_sampled_qps"], 1e-9), 1
)
rec["load_end"] = [round(x, 2) for x in os.getloadavg()]
rec["calibration_end"] = benchlib.host_calibration()

idx.assigned.unpersist()
path = f"/tmp/kj_{N // 1_000_000}m_q{NQ // 1_000_000}m.json"
with open(path, "w") as fh:
    json.dump(rec, fh)
print(json.dumps(rec))
print("written:", path)
