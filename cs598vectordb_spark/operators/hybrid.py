"""Hybrid lexical + vector retrieval: BM25 ranked search over the
documents corpus fused with embedding-space kNN by reciprocal-rank
fusion (RRF) — the retrieval shape RAG/training-data pipelines actually
serve (a pure ANN hit list misses exact-term matches; a pure lexical
list misses paraphrases; Cormack et al. 2009 showed rank-level fusion
beats either and needs no score calibration between the two systems).

The engine's documents and embeddings fixtures share an id space
(doc_id ↔ vec_id, FIXTURES.md), so a hybrid query is natural: the
query document's own text drives the lexical leg while its embedding
drives the vector leg ("more-like-this" retrieval — dedup triage,
near-duplicate audit, contrastive-pair mining all query this way).

Scale shape (100 TB): BM25 is the classic inverted-index join — query
terms ⋈ (doc, token) term frequencies on the token key. Both sides are
partial-aggregated before the join; tokens above a document-frequency
cap are dropped (the stopword hatch, same discipline as
dedup.decontamination's df cap) so no token key can fan out
quadratically; the per-(q, doc) score is one sum-aggregate. The vector
leg is the existing broadcast-queries exact/served kNN. RRF is a
full-outer join of two (q_id, id, rank) relations followed by one
window — rank arithmetic only, no recalibration, nothing driver-side.

Reference analog: none — the reference harness is vector-only; this is
part of the engine's LLM-pipeline surface (SURVEY §2's training-data
operators), not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.functions.text import normalize_ws, token_count, tokens


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    df_cap_frac: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(q_id, rank, doc_id, bm25): Okapi BM25 top-k per query.

    `queries` is (q_id, <text_col>) — each query row's DISTINCT tokens
    are the query terms (standard Robertson weighting for short
    queries; for doc-as-query the distinct-term form keeps the score a
    pure function of term overlap, not of the query's own repetition).
    idf = ln(1 + (N − df + ½)/(df + ½)) ≥ 0, tf saturation
    tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).

    df_cap_frac < 1 excludes tokens with df > df_cap_frac·N from
    scoring on BOTH legs — the stopword hatch that keeps the token-key
    join linear at corpus scale (such tokens carry ~no idf mass but
    dominate the join fanout; same discipline as decontamination's df
    cap). It defaults OFF because it changes scores (standard BM25
    ranks every term) and because the synthetic fixture corpus is
    all-stopwords by construction (31-word vocabulary, 30 words in
    >50% of docs — a cap would erase it); a real 100 TB corpus runs
    with the cap on (0.5 drops ~dozens of stopwords, the Zipf head).
    N and avgdl come from one two-column scalar aggregate (one collect).
    Ties break by doc_id ascending after the score is rounded to 6 dp,
    so rank order cannot flip on a last-ulp summation difference.

    The tf rows' `localCheckpoint(eager=True)` runs its job when this
    function is called, before the returned frame is used. Its blocks
    stay in executor storage (memory, spilling to disk) until the
    driver garbage-collects the checkpointed plan (ContextCleaner) or
    the application ends, so drop the returned frame once consumed. A
    local checkpoint keeps no lineage: if an executor holding its
    blocks is lost, a later action on the returned frame fails instead
    of recomputing them. That trades fault tolerance for one kernel pass.

    Rows-only (float scoring; ANSI-expressible in principle — the SQL
    twin is a token-join CTE — promotable when an oracle slot frees);
    value-level pin vs an independent pure-Python BM25 in
    tests/test_hybrid.py::test_bm25_matches_pure_python."""
    from cs598vectordb_spark.functions.tokenstream import term_counts

    # N and avgdl in ONE scalar-aggregate job: count(1) is docs.count(),
    # and avg runs over the same per-doc dl expression the join uses
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(token_count(normalize_ws(F.col(text_col)))).alias("avgdl"),
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])
    # ONE Arrow term-count kernel pass replaces explode + the
    # per-occurrence (doc, token) aggregation (r19; row identity with
    # the explode form pinned in tests/test_dedup_text.py::
    # test_term_counts_kernel_matches_explode — including the
    # empty-string token an empty doc's unfiltered split yields);
    # localCheckpoint so the df rollup and the scoring join read the
    # same materialized rows instead of re-running the kernel.
    tf = term_counts(
        docs.select(
            F.col(id_col).alias("doc_id"),
            tokens(normalize_ws(F.col(text_col))).alias("_ws"),
        ),
        ["doc_id"],
        "_ws",
    ).localCheckpoint(eager=True)
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= int(df_cap_frac * n_docs)
    )
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(normalize_ws(F.col(text_col))).alias("dl"),
    )

    qt = queries.select(
        "q_id",
        F.explode(
            F.array_distinct(tokens(normalize_ws(F.col(text_col))))
        ).alias("token"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    scored = (
        qt.join(df, "token")  # df-capped vocabulary prunes both legs
        .join(tf, "token")
        .join(dl, "doc_id")
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 6).alias("bm25"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "doc_id", "bm25")
    )


def rrf_fuse(
    lexical: DataFrame,
    vector: DataFrame,
    k: int = 10,
    c: float = 60.0,
    lex_id: str = "doc_id",
    vec_id: str = "vec_id",
) -> DataFrame:
    """(q_id, rank, doc_id, rrf, lex_rank, vec_rank): reciprocal-rank
    fusion of two (q_id, rank, id) relations —
    rrf = Σ_legs 1/(c + rank), a leg contributing 0 where the id is
    unranked. Rank-level fusion needs no score calibration (the BM25
    and distance scales never meet); c = 60 is the Cormack et al.
    constant. One full-outer join on (q_id, id) + one window; both
    inputs are already top-k-bounded, so the join is k-sized per query
    regardless of corpus size. Exact rank arithmetic (both sides IEEE
    doubles over small integers) — pinned value-exact in
    tests/test_hybrid.py::test_rrf_fusion_is_exact_rank_arithmetic."""
    lex = lexical.select(
        "q_id",
        F.col(lex_id).alias("doc_id"),
        F.col("rank").alias("lex_rank"),
    )
    vec = vector.select(
        "q_id",
        F.col(vec_id).alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    fused = lex.join(vec, ["q_id", "doc_id"], "full_outer").select(
        "q_id",
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(1.0 / (F.lit(c) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(c) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "doc_id", "rrf", "lex_rank", "vec_rank")
    )


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    c: float = 60.0,
    expand: int = 2,
) -> DataFrame:
    """More-like-this hybrid retrieval over the shared doc_id ↔ vec_id
    space: the first `n_queries` documents query BOTH legs — their text
    through BM25, their embedding through exact cosine kNN — and the
    legs fuse by RRF. Each leg retrieves k·expand candidates so a
    fusion winner ranked just past k on one leg still surfaces. The
    vector leg's self-retrieval (cosine of a vector with itself is
    maximal) is a built-in sanity anchor; the lexical leg's is not an
    invariant on a near-degenerate vocabulary (the fixture corpus),
    which is exactly why the hybrid pin runs on a planted-vocabulary
    corpus (tests/test_hybrid.py::test_hybrid_search_self_retrieval).

    BOTH legs rank on a 6-dp-rounded score before their rank windows —
    the promoted knn_join / bm25 twins' discipline (ADVICE r16): the
    vector leg passes score_round=COS_ROUND into the exact kNN kernel
    (rounding happens before the local cut AND the final window), and
    the DuckDB twin rounds its brute-force cosine identically, so a
    sub-1e-6 rank-adjacent margin on some future fixture cannot flip a
    vec_rank cross-engine."""
    from cs598vectordb_spark.operators.knn import knn_exact
    from cs598vectordb_spark.operators.knnjoin import COS_ROUND

    qtext = docs.select(
        F.col("doc_id").alias("q_id"), "text"
    ).filter(F.col("q_id") < n_queries)
    qvec = emb.select(
        F.col("vec_id").alias("q_id"), "embedding"
    ).filter(F.col("q_id") < n_queries)
    lex = bm25_scores(docs, qtext, k=k * expand)
    vec = knn_exact(emb, qvec, k=k * expand, metric="cosine",
                    score_round=COS_ROUND)
    return rrf_fuse(lex, vec, k=k, c=c)
