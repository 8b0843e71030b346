"""cs598vectordb_spark — a PySpark-native analytics + vector-search engine.

Re-implements, Spark-first, the query and data-processing capabilities of
the reference harness sunkadshreyas/CS598VectorDB (an ANN benchmark over
SIFT1M: batch top-k kNN under L2, dynamic delete/insert cycles, recall/QPS/
latency metrics, multi-tenant scaling), and extends the surface with the
relational and LLM-data-pipeline operators a 100 TB training-data pipeline
needs (dedup, similarity search, text analysis, multimodal plumbing).

Architecture stance ("index = table"):
  * Everything is a DataFrame; plans are declared via DataFrame/SQL and
    optimized by Catalyst (predicate pushdown, broadcast joins, AQE).
  * A "vector index" is a materialized, partitioned parquet table
    (KMeans/IVF centroid-partitioned), so approximate
    search becomes partition pruning — Spark's native strength.
  * The slow path (batch distance kernels) is Arrow-vectorized
    mapInPandas/pandas_udf; never row-at-a-time Python UDFs.
"""

__version__ = "0.1.0"

from cs598vectordb_spark.config import DEFAULT_K, DEFAULT_N_QUERIES, SEED
from cs598vectordb_spark.session import get_spark

__all__ = ["get_spark", "DEFAULT_K", "DEFAULT_N_QUERIES", "SEED", "__version__"]
