"""Sustained-rate point for `stream_index_ingest` at 1M (VERDICT r15
item 6): the batch maintenance path has 1M/10M evidence, but the
streaming WRITE path — the operator a live vector store actually runs —
had only fixture-scale accounting. This harness seeds a 1M IVF-PQ
index (the bench 1M shape: nlist=1024, m=16, ksub=256, keep_vectors),
then streams ≥100k arrivals through the same foreachBatch ingest loop
as streaming.jobs.stream_index_ingest (insert_into_ivfpq delta writes +
auto_compact_ivfpq LSM policy), recording per micro-batch:

  - ingest wall (the O(|batch|) encode + delta write),
  - whether the LSM fold fired and what it cost (the compaction stall),
  - probe-freshness lag: batch-arrival start -> first rank-1 self-hit
    of a 20-query sample of THAT batch against the live index (ingest
    wall + probe wall — the number a serving user asks first).

Summary: arrivals/s sustained (ingest-only and end-to-end including
freshness probes), fold count, generations left, p50/p95 freshness
lag, stall vs non-stall batch walls, and a final 5k-sample self-hit
rate. Env knobs: CS598_SI_SEED (default 1_000_000), CS598_SI_ARR
(100_000), CS598_SI_BATCHES (20), CS598_SI_MAXGEN (4). Batch WIDTH =
CS598_SI_ARR / CS598_SI_BATCHES — the rate-vs-freshness lever the r17
width sweep records (widths 2.5k/5k/10k/20k = 40/20/10/5 batches).
Writes /tmp/stream_ingest_<seed>m_w<width>.json; quiet-start results
are committed and quoted in SCALING.md §8.
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

from cs598vectordb_spark.operators.ivfpq import (
    auto_compact_ivfpq,
    build_ivfpq,
    delta_generations,
    insert_into_ivfpq,
    knn_ivfpq_refined,
)
from cs598vectordb_spark.session import get_spark
from cs598vectordb_spark.streaming.jobs import _stream_session

N_SEED = int(os.environ.get("CS598_SI_SEED", "1000000"))
N_ARR = int(os.environ.get("CS598_SI_ARR", "100000"))
N_BATCHES = int(os.environ.get("CS598_SI_BATCHES", "20"))
MAX_GEN = int(os.environ.get("CS598_SI_MAXGEN", "4"))
K, NPROBE, MULT = 10, 16, 10

spark = get_spark("xl-stream-ingest")
n_total = N_SEED + N_ARR
centers = max(256, n_total // 2000)
rec = {
    "n_seed": N_SEED, "n_arrivals": N_ARR, "n_batches": N_BATCHES,
    "max_generations": MAX_GEN,
    "probe": {"k": K, "nprobe": NPROBE, "mult": MULT, "nlist": 1024},
    "load_start": [round(x, 2) for x in os.getloadavg()],
    # fixed-work BLAS probe: makes the scale claim load-auditable the
    # same way the bench record is (VERDICT r16 item 8)
    "calibration_start": benchlib.host_calibration(),
}

lb = spark.read.parquet(
    benchlib.large_base(spark, n=n_total, dim=128, centers=centers)
).select("vec_id", "embedding")
seed_rows = lb.filter(F.col("vec_id") < N_SEED)
arrivals = lb.filter(F.col("vec_id") >= N_SEED)

work = "/tmp/cs598_spark_io/xl_stream_ingest"
if os.path.isdir(work):
    shutil.rmtree(work)
adir = os.path.join(work, "arrivals")
os.makedirs(adir)
now = time.time()
for i in range(N_BATCHES):
    tmp = os.path.join(work, f"_tmp{i}")
    arrivals.filter(F.col("vec_id") % N_BATCHES == i).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = os.path.join(adir, f"batch{i:03d}.parquet")
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    os.utime(dst, (now - 3600 + i * 60, now - 3600 + i * 60))

t0 = time.time()
index = build_ivfpq(
    seed_rows, nlist=1024, m=16, ksub=256, train_sample=50_000,
    path=os.path.join(work, "index", "t"), keep_vectors=True,
)
rec["seed_build_s"] = round(time.time() - t0, 1)

state = {"index": index, "ingested": 0}
batches = []

def ingest(batch_df, batch_id: int) -> None:
    if batch_df.isEmpty():
        return
    b0 = time.time()
    n_b = batch_df.count()
    idx = insert_into_ivfpq(state["index"], batch_df)
    idx, compacted = auto_compact_ivfpq(idx, MAX_GEN)
    state["index"] = idx
    state["ingested"] += n_b
    ingest_s = time.time() - b0
    # freshness probe: 20 of THIS batch's ids against the live index;
    # lag = batch-arrival start -> rank-1 self-hit confirmed
    sample = (
        batch_df.orderBy("vec_id").limit(20)
        .withColumnRenamed("vec_id", "q_id")
    )
    hits = (
        knn_ivfpq_refined(idx, None, sample, k=K, nprobe=NPROBE, mult=MULT)
        .filter((F.col("rank") == 1) & (F.col("vec_id") == F.col("q_id")))
        .count()
    )
    lag_s = time.time() - b0
    batches.append({
        "rows": n_b, "ingest_s": round(ingest_s, 2),
        "compacted": bool(compacted),
        "freshness_lag_s": round(lag_s, 2),
        "probe_self_hits": int(hits),
    })

stream_spark = _stream_session(spark)
stream = (
    stream_spark.readStream.schema(arrivals.schema)
    .option("maxFilesPerTrigger", "1")
    .parquet(adir)
)
t0 = time.time()
q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
q.awaitTermination()
drain_s = time.time() - t0

ingest_only_s = sum(b["ingest_s"] for b in batches)
lags = sorted(b["freshness_lag_s"] for b in batches)
stall = [b["ingest_s"] for b in batches if b["compacted"]]
clean = [b["ingest_s"] for b in batches if not b["compacted"]]
rec.update({
    "n_ingested": state["ingested"],
    "drain_s": round(drain_s, 1),
    "arrivals_per_s_end_to_end": round(state["ingested"] / drain_s, 1),
    "arrivals_per_s_ingest_only": round(
        state["ingested"] / max(ingest_only_s, 1e-9), 1
    ),
    "n_compactions": sum(1 for b in batches if b["compacted"]),
    "generations_left": len(delta_generations(state["index"].path)),
    "freshness_lag_s": {
        "p50": lags[len(lags) // 2],
        "p95": lags[min(len(lags) - 1, int(len(lags) * 0.95))],
        "max": lags[-1],
    },
    "batch_ingest_s": {
        "clean_median": round(sorted(clean)[len(clean) // 2], 2) if clean else None,
        "stall_median": round(sorted(stall)[len(stall) // 2], 2) if stall else None,
        "stall_max": round(max(stall), 2) if stall else None,
    },
    "probe_sample_self_hit_rate": round(
        sum(b["probe_self_hits"] for b in batches)
        / max(20 * len(batches), 1), 4
    ),
    "batches": batches,
})

# final hit rate on a 5k arrival sample against the settled index
final = state["index"]
qdf = (
    arrivals.filter(F.col("vec_id") % 20 == 0)
    .withColumnRenamed("vec_id", "q_id")
)
n_q = qdf.count()
t0 = time.time()
hits = (
    knn_ivfpq_refined(final, None, qdf, k=K, nprobe=NPROBE, mult=MULT)
    .filter((F.col("rank") == 1) & (F.col("vec_id") == F.col("q_id")))
    .count()
)
rec["final_self_hit"] = {
    "n_queries": int(n_q),
    "rate": round(hits / max(n_q, 1), 4),
    "probe_s": round(time.time() - t0, 1),
}
rec["load_end"] = [round(x, 2) for x in os.getloadavg()]
rec["calibration_end"] = benchlib.host_calibration()

width = N_ARR // N_BATCHES
path = f"/tmp/stream_ingest_{N_SEED // 1_000_000}m_w{width}.json"
with open(path, "w") as fh:
    json.dump(rec, fh)
print(json.dumps({k: v for k, v in rec.items() if k != "batches"}))
print("written:", path)
