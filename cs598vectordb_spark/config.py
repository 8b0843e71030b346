"""Engine-wide constants.

Mirrors the reference harness's fixed parameters (k=10 everywhere, e.g.
/root/reference/dynamic_script_faiss.py:60) and the FIXTURES.md derivation
rules (queries = first N rows of embeddings; deterministic seed 42).
"""

# top-k for every kNN query — reference uses k=10 throughout
# (dynamic_script_faiss.py:50, multi_tenant_script.py:121).
DEFAULT_K = 10

# number of query vectors derived from the head of the embeddings table
# (FIXTURES.md: sf0.001 n_q=50 for smoke, sf0.01 n_q=100 for the oracle
# gate). The oracle SQL bakes in the same constant.
DEFAULT_N_QUERIES = 100
SMOKE_N_QUERIES = 50

# every randomized component (KMeans init, MinHash permutations, sampling).
SEED = 42

# decimals used when rounding floating aggregates that face the DuckDB
# oracle; keeps order-of-summation fp noise below the hash boundary.
ORACLE_ROUND = 4

# update percentages exercised by the dynamic protocol — the union of the
# library runs' [50] (dynamic_script_faiss.py:46) and the server runs'
# [25, 75] (dynamic_script_milvus.py:59).
UPDATE_PERCENTS = [25, 50, 75]

# State-store shard count for streaming aggregations. Unlike batch
# shuffles (sized to cores), stateful-stream partitioning should track
# KEY CARDINALITY: every shard is a state-store instance with per-batch
# open/commit overhead, so 32 shards for a few hundred keys is pure
# scheduling tax (measured 2× wall on the hourly/session windows at
# sf0.1). A cluster deployment raises this to ~2-3× total cores once the
# keyspace (users, windows) actually needs it; it is pinned at stream
# START and immutable for the checkpoint's lifetime thereafter.
STREAM_STATE_PARTITIONS = 8

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
