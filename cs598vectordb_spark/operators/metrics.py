"""Evaluation metrics — recall@k, QPS/latency, summary aggregates
(SURVEY.md §2.4, the reference's scoring core).

recall@k reference: per query |pred[:k] ∩ truth[:k]| summed / (n·k)
(/root/reference/dynamic_script_faiss.py:25-29, identical in all nine
scripts). Here truth and pred are long-form (q_id, rank, vec_id) frames
from operators.knn, and the intersection is an equi-join — the join IS
the set intersection, executed hash-partitioned on q_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, ORACLE_ROUND


def recall_at_k(pred: DataFrame, truth: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Single-row DataFrame (recall DOUBLE): mean over queries of
    |pred[:k] ∩ truth[:k]| / k. Joins on (q_id, vec_id) — duplicate-free
    by construction since rank is unique per (q_id, rank)."""
    p = pred.filter(F.col("rank") <= k).select("q_id", "vec_id")
    t = truth.filter(F.col("rank") <= k).select("q_id", "vec_id")
    n_queries = truth.select("q_id").distinct().count()
    hits = p.join(t, ["q_id", "vec_id"]).count()
    recall = hits / (n_queries * k) if n_queries else 0.0
    spark = pred.sparkSession
    return spark.createDataFrame([(round(recall, ORACLE_ROUND),)], "recall double")


def per_query_recall(pred: DataFrame, truth: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """(q_id, recall) — distributed form, no driver-side scalar."""
    p = pred.filter(F.col("rank") <= k).select("q_id", "vec_id")
    t = truth.filter(F.col("rank") <= k).select("q_id", "vec_id")
    hits = p.join(t, ["q_id", "vec_id"]).groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    qs = truth.select("q_id").distinct()
    return qs.join(hits, "q_id", "left").select(
        "q_id",
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / k, ORACLE_ROUND).alias("recall"),
    )


def summary_last5(metrics: DataFrame) -> DataFrame:
    """A4: mean of the last 5 intervals per (backend, update_pct, metric)
    — the reference's summary rule (dynamic_script_faiss.py:120-122)."""
    w = Window.partitionBy("backend", "update_pct").orderBy(F.col("interval").desc())
    last5 = metrics.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= 5)
    return last5.groupBy("backend", "update_pct").agg(
        F.round(F.avg("qps"), ORACLE_ROUND).alias("avg_qps"),
        F.round(F.avg("latency_ms"), ORACLE_ROUND).alias("avg_latency_ms"),
        F.round(F.avg("recall"), ORACLE_ROUND).alias("avg_recall"),
    )


def tenant_summary(metrics: DataFrame) -> DataFrame:
    """A5: multi-tenant aggregate — mean latency/qps/recall plus SUM of
    qps as system throughput (multi_tenant_script.py:175-180)."""
    return metrics.groupBy("backend", "n_clients").agg(
        F.round(F.avg("latency_ms"), ORACLE_ROUND).alias("avg_latency_ms"),
        F.round(F.avg("qps"), ORACLE_ROUND).alias("avg_qps"),
        F.round(F.sum("qps"), ORACLE_ROUND).alias("total_qps"),
        F.round(F.avg("recall"), ORACLE_ROUND).alias("avg_recall"),
    )


def comparison_chart(metrics: DataFrame, value_col: str = "qps") -> DataFrame:
    """S7 analog — the reference's comparison plots (plots.py:47-95,
    logs/plot.py:39-71) as a deterministic engine-side artifact: per
    (backend, update_pct), the interval-ordered series as CSV plus a
    Unicode-block sparkline (▁..█, min-max scaled within the series).
    The reference renders PNGs from parsed logs; the engine renders the
    same series shape as rows a sink can write — chart-as-data."""
    blocks = "▁▂▃▄▅▆▇█"
    per = metrics.groupBy("backend", "update_pct").agg(
        F.array_sort(F.collect_list(F.struct("interval", F.col(value_col).alias("v")))).alias("s"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
    )

    def level(elem):
        return (
            F.floor((elem["v"] - F.col("mn")) / (F.col("mx") - F.col("mn") + F.lit(1e-9)) * 8)
            .cast("int")
        )

    return per.select(
        "backend",
        "update_pct",
        F.array_join(
            F.transform(F.col("s"), lambda e: F.round(e["v"], 2).cast("string")), ","
        ).alias("series_csv"),
        F.array_join(
            F.transform(
                F.col("s"),
                lambda e: F.substr(F.lit(blocks), F.least(level(e), F.lit(7)) + 1, F.lit(1)),
            ),
            "",
        ).alias("sparkline"),
    )


def phase_regions(metrics: DataFrame) -> DataFrame:
    """A7: (backend, update_pct, phase) → [min,max] interval span. The
    reference marks phases with sentinel rows −1..−4 (logs/plot.py:17);
    we model phase as an explicit column."""
    return metrics.groupBy("backend", "update_pct", "phase").agg(
        F.min("interval").alias("start_interval"),
        F.max("interval").alias("end_interval"),
    )
