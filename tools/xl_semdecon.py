"""Corpus-scale semantic decontamination demo (VERDICT r17 item 4):
the 10M-era composition of the distributed kNN join — a 10M-row
training corpus streams through the cogrouped join against a 100k-row
indexed EVAL base (the 100 TB orientation: eval small and indexed,
train never visits the driver), every train row getting its single
nearest eval vector and the contaminated flag at cosine >= tau.

Full probe over the eval base => the flag is EXACT, verified here by a
500-query brute-force sample (must read 1.0). Unlike the 10Mx10M join
series, the eval side is SMALL, so the right nlist is not the
rows-per-cell rule (that would explode the full-probe query side to
|train| x 100 rows); a handful of cells keeps the per-cell GEMM block
executor-sized (eval_n/nlist x 128 floats) while the exploded query
shuffle stays |train| x nlist. Train slices run sequentially so each
slice's shuffle files free before the next (the xl_knnjoin.py disk
discipline at 10M scale).

Env knobs:
  CS598_SD_N_TRAIN  training rows (default 10_000_000; the first
                    N_EVAL ids of the shared base are the eval split,
                    train = ids >= N_EVAL, mirroring the registered
                    sf-fixture op's <50 / >=50 split)
  CS598_SD_N_EVAL   eval rows (default 100_000)
  CS598_SD_NLIST    eval blocking cells (default 8)
  CS598_SD_TAU      contamination threshold (default 0.35)
  CS598_SD_SLICES   sequential train slices (default 4)
  CS598_SD_SHARDS   query_shards for the cogroup (default 16 — with
                    NLIST=8 cells the unsharded cogroup runs 8
                    single-core kernels and idles 3/4 of a 32-core
                    host; nlist×shards = 128 tasks)

Writes /tmp/semdecon_<train>m_e<eval>k.json; the quiet-start result is
committed as semantic_decontamination_10m_r18.json and quoted in
SCALING.md §7. This run also rehearses the entry's r19 oracle
promotion at scale.
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
    knn_join_ivf,
)
from cs598vectordb_spark.session import get_spark

N_TRAIN = int(os.environ.get("CS598_SD_N_TRAIN", "10000000"))
N_EVAL = int(os.environ.get("CS598_SD_N_EVAL", "100000"))
NLIST = int(os.environ.get("CS598_SD_NLIST", "8"))
TAU = float(os.environ.get("CS598_SD_TAU", "0.35"))
SLICES = int(os.environ.get("CS598_SD_SLICES", "4"))
SHARDS = int(os.environ.get("CS598_SD_SHARDS", "16"))
# run only the first N slices (r19: one-slice quiet-window re-draw of
# the r18 contended 10M run, VERDICT r18 item 7 — same base, same
# index build, 1/SLICES of the train stream; rows/s is computed from
# the rows actually processed, so it is comparable across limits)
SLICE_LIMIT = int(os.environ.get("CS598_SD_SLICE_LIMIT", str(SLICES)))
if SLICE_LIMIT < 1:
    sys.exit(f"CS598_SD_SLICE_LIMIT must be >= 1, got {SLICE_LIMIT}: "
             "with no slice run there is no join to time")

spark = get_spark("xl-semdecon")
n_total = N_TRAIN + N_EVAL
centers = max(256, n_total // 2000)
rec = {
    "n_train": N_TRAIN, "n_eval": N_EVAL, "nlist": NLIST, "tau": TAU,
    "train_slices": SLICES, "query_shards": SHARDS,
    "probe": "full (nprobe = nlist) => exact nearest-eval",
    "load_start": [round(x, 2) for x in os.getloadavg()],
    "calibration_start": benchlib.host_calibration(),
}

base = spark.read.parquet(
    benchlib.large_base(spark, n=n_total, dim=128, centers=centers)
).select("vec_id", "embedding")
eval_set = base.filter(F.col("vec_id") < N_EVAL)
train = base.filter(F.col("vec_id") >= N_EVAL).select(
    F.col("vec_id").alias("q_id"), "embedding"
)
eval_set.persist().count()

t0 = time.time()
idx = build_join_index(eval_set, nlist=NLIST, metric="cosine",
                       train_sample=50_000)
idx.assigned.persist().count()
rec["build_s"] = round(time.time() - t0, 1)

sink = "/tmp/cs598_spark_io/xl_semdecon_out"
shutil.rmtree(sink, ignore_errors=True)
join_s = 0.0
sink_s = 0.0
out_rows = 0
for sl in range(min(SLICES, SLICE_LIMIT)):
    qs = train.filter(F.col("q_id") % SLICES == sl) if SLICES > 1 else train
    o = knn_join_ivf(
        qs, idx, k=1, nprobe=NLIST, metric="cosine", query_shards=SHARDS
    ).select(
        F.col("q_id").alias("train_id"),
        F.col("vec_id").alias("eval_id"),
        "cos_sim",
        (F.col("cos_sim") >= TAU).alias("contaminated"),
    )
    o.persist()
    t0 = time.time()
    out_rows += o.count()
    join_s += time.time() - t0
    t0 = time.time()
    o.write.mode("append").parquet(sink)
    sink_s += time.time() - t0
    o.unpersist()
    if SLICES > 1:
        del o
        spark.sparkContext._jvm.System.gc()
rec["out_rows"] = out_rows
rec["slices_run"] = min(SLICES, SLICE_LIMIT)
rec["join_s"] = round(join_s, 1)
# k=1 emits at most one row per train row (none when no eval vector
# is in reach), so out_rows <= train rows processed and this is the
# rate of rows emitted; it stays comparable across SLICE_LIMIT
rec["train_rows_per_s"] = round(out_rows / join_s, 1)
rec["sink_write_s"] = round(sink_s, 1)

out = spark.read.parquet(sink)
agg = out.agg(
    F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
    F.expr("percentile_approx(cos_sim, array(0.5, 0.9, 0.99))").alias("q"),
).collect()[0]
rec["n_contaminated"] = int(agg["n_contaminated"])
rec["contamination_rate"] = round(agg["n_contaminated"] / out_rows, 4)
rec["cos_sim_p50_p90_p99"] = [round(float(x), 4) for x in agg["q"]]

# exactness sample: 500 train rows re-scored by the driver-batch exact
# kernel over the eval base (k=1 nearest eval; no self-pairs possible,
# the splits are disjoint) — full probe must read 1.0
sample_ids = [r.train_id for r in out.select("train_id").limit(500).collect()]
sample = train.filter(F.col("q_id").isin(sample_ids))
knn_exact(eval_set, sample.limit(50), k=1, metric="cosine").count()  # warm
t0 = time.time()
truth = {
    (r.q_id, r.vec_id)
    for r in knn_exact(eval_set, sample, k=1, metric="cosine")
    .select("q_id", "vec_id").collect()
}
rec["exact_sampled_qps"] = round(len(sample_ids) / max(time.time() - t0, 1e-9), 1)
got = {
    (r.train_id, r.eval_id)
    for r in out.filter(F.col("train_id").isin(sample_ids))
    .select("train_id", "eval_id").collect()
}
rec["nearest_eval_match_500"] = round(len(got & truth) / max(len(truth), 1), 4)
rec["load_end"] = [round(x, 2) for x in os.getloadavg()]
rec["calibration_end"] = benchlib.host_calibration()

idx.assigned.unpersist()
eval_set.unpersist()
sfx = f"_s{SLICE_LIMIT}of{SLICES}" if SLICE_LIMIT < SLICES else ""
path = f"/tmp/semdecon_{N_TRAIN // 1_000_000}m_e{N_EVAL // 1_000}k{sfx}.json"
with open(path, "w") as fh:
    json.dump(rec, fh)
print(json.dumps(rec))
print("written:", path)
