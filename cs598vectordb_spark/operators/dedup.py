"""Deduplication operators for the training-data pipeline surface.

The reference has no dedup (it is an ANN benchmark), but the north star
(BASELINE.json) extends the engine with LLM-data-pipeline operators. All
four classic families are here, each Spark-first:

* exact        — md5 fingerprint hash-groupBy (one shuffle on the hash)
* MinHash+LSH  — shingle → k minhashes → banded signatures → bucket join;
                 candidate generation never compares all pairs: the join
                 is on (band, signature), so cost is ~|collisions|, the
                 textbook 100 TB-safe near-dup plan
* SimHash      — 64-bit sign-of-weighted-bit-votes fingerprint (Arrow
                 mapInPandas kernel), near-dups = small Hamming distance
* n-gram Jaccard — exact set-similarity on shingles for candidate
                 verification and top-k similar-document search

Determinism: every hash is seeded/closed-form (rolling hash, fixed affine
minhash params from SEED, md5) — no engine-version-dependent hashing in
oracle-facing paths.
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.config import SEED
from cs598vectordb_spark.functions.text import (
    MINHASH_PRIME,
    ROLLING_MOD,
    normalize_ws,
    word_shingles,
)

# ---------------------------------------------------------------- exact


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text: keep the lowest
    id as canonical, count members. Single hash-aggregate; at scale the
    shuffle key is the 128-bit digest (uniform, skew-free)."""
    fp = docs.select(
        F.col(id_col), F.md5(normalize_ws(F.col(text_col))).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ------------------------------------------------------------- minhash


def minhash_params(k: int = 16, seed: int = SEED) -> list[tuple[int, int]]:
    """Deterministic affine minhash coefficients (a, b): h_i(x) =
    (a_i*x + b_i) mod P. Shared with the DuckDB oracle generator."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME)) for _ in range(k)]


def _vectorized_rolling(shingles: list[str], mod: int) -> np.ndarray:
    """Batch polynomial rolling hash: h(s) = Σ ord(s[i])·31^(L-1-i) mod p
    — algebraically identical to the left-to-right Horner form
    acc = (acc·31 + code) % p the Catalyst/DuckDB oracle uses, but one
    numpy pass over the codepoints of ALL strings at once instead of a
    Python char loop per string.

    Overflow-safe in int64: each term is (< 2^21 codepoint)·(< p ≈ 2^30)
    < 2^51, and segment sums add < 2^11 such terms."""
    if not shingles:
        return np.empty(0, dtype=np.int64)
    codes = np.frombuffer("".join(shingles).encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    lens = np.fromiter((len(s) for s in shingles), dtype=np.int64, count=len(shingles))
    starts = np.cumsum(lens) - lens
    pos_in_seg = np.arange(len(codes), dtype=np.int64) - np.repeat(starts, lens)
    exp = np.repeat(lens, lens) - 1 - pos_in_seg
    pows = np.empty(int(lens.max()), dtype=np.int64)
    acc = 1
    for e in range(len(pows)):
        pows[e] = acc
        acc = (acc * 31) % mod
    terms = codes * pows[exp] % mod
    return np.add.reduceat(terms, starts) % mod


# Rows per kernel yield: the kernel re-slices whatever Arrow batch size
# the session delivers (default maxRecordsPerBatch=10000) into chunks
# this big. Measured r19 (ab_r19_shingle.json, 153 MB replica,
# interleaved, 9 rotations): yielding full 10k-row batches ran the pass
# at 13.7 s median with 5-33 s walls (the nested hashes output makes
# per-yield object-column -> Arrow conversion and JVM-side buffering
# balloon), while <=2048-row yields ran 3.0 s median with tight walls
# (~4.5x) - equal to the best session-wide-batch-size setting WITHOUT
# touching maxRecordsPerBatch, which the GEMM-heavy kNN kernels want
# large. A pipelining granule, not a scale knob: it bounds per-yield
# Python/GC work regardless of input size.
SHINGLE_CHUNK_ROWS = 2048


def shingle_hashes(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, hashes ARRAY<BIGINT>): rolling-hash of each distinct
    3-gram word shingle of the normalized text.

    Arrow mapInPandas kernel: per <=SHINGLE_CHUNK_ROWS slice of each
    Arrow batch, the distinct not-yet-seen shingles are hashed in ONE
    vectorized numpy pass (_vectorized_rolling) and memoized across the
    whole task — the hottest LLM-pipeline kernel has no per-character
    Python loop left. Values are bit-identical to the Catalyst/DuckDB
    formulation (acc = (acc*31 + code) % 1e9+7, left to right).
    Tokenization matches normalize_ws + split: lowercase, whitespace runs
    collapse (Python str.split()), first-occurrence dedup. Row identity
    incl. the chunk boundary is pinned by
    tests/test_dedup_text.py::test_shingle_chunking_row_identity."""
    mod = ROLLING_MOD
    chunk = SHINGLE_CHUNK_ROWS

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                ids, per_doc = [], []
                fresh: dict[str, None] = {}
                for did, text in zip(part[id_col].tolist(), part[text_col].tolist()):
                    toks = (text or "").lower().split()
                    if len(toks) >= n:
                        grams = list(
                            dict.fromkeys(
                                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                            )
                        )
                        for g in grams:
                            if g not in cache:
                                fresh[g] = None
                    else:
                        grams = []
                    ids.append(did)
                    per_doc.append(grams)
                new = list(fresh)
                for g, h in zip(new, _vectorized_rolling(new, mod)):
                    cache[g] = int(h)
                yield pd.DataFrame(
                    {id_col: ids, "hashes": [[cache[g] for g in grams] for grams in per_doc]}
                )

    return docs.select(id_col, text_col).mapInPandas(kernel, f"{id_col} long, hashes array<long>")


def minhash_signatures(
    docs: DataFrame, k: int = 16, text_col: str = "text", id_col: str = "doc_id", hashed: DataFrame | None = None
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): column-per-minhash signature, computed as
    array mins over the shingle-hash array — a pure projection, no
    explode/groupBy needed, so it parallelizes perfectly per row."""
    params = minhash_params(k)
    if hashed is None:
        hashed = shingle_hashes(docs, text_col, id_col)
    cols = [F.col(id_col)]
    for i, (a, b) in enumerate(params):
        cols.append(
            F.array_min(
                F.expr(
                    f"transform(hashes, h -> (h * CAST({a} AS BIGINT) "
                    f"+ CAST({b} AS BIGINT)) % CAST({MINHASH_PRIME} AS BIGINT))"
                )
            ).alias(f"mh_{i}")
        )
    return hashed.select(*cols)


def _banded(
    sigs: DataFrame, bands: int, rows: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band, sig): explode a column-per-minhash signature table into
    banded bucket keys — shared by pair generation and the overflow
    report so both see identical buckets.

    Key representation (r18, guide §2.3 "narrower types"): minhash
    values live in [0, MINHASH_PRIME), so a band of `rows` values packs
    losslessly into ONE int64 whenever MINHASH_PRIME**rows < 2^63
    (rows ≤ 2 at the 2^31−1 prime) — base-P positional encoding is
    injective, so bucket membership (and therefore the candidate-pair
    set) is exactly the old concat_ws-string key's. An 8-byte long
    replaces a ~20-char UTF8 string in every banded exchange/broadcast
    and hashes/compares without byte-walking (interleaved A/B at sf0.1:
    1.718 → 1.655 s median for the candidate pipeline). Wider bands
    keep the string form.

    EMPTY-SIGNATURE DOCS are dropped explicitly (r19, VERDICT r18
    what's-wrong #2): a doc with <3 tokens has an empty shingle array,
    so EVERY mh_i is null (array_min of an empty transform). The two
    key forms used to diverge silently on such rows — packed
    arithmetic propagates null (the row then vanishes at the
    candidate self-join), while concat_ws collapsed the all-null band
    to "" and bucketed every short doc together, the exact
    boilerplate-skew hotspot the bucket_cap hatch exists for. An
    empty shingle SET cannot be a true near-duplicate of anything
    (its Jaccard with any set is 0/undefined) and the DuckDB twins'
    null-propagating || already emits no pairs for it, so the filter
    makes packed, string, and oracle semantics agree on ANY data
    instead of only on fixtures without short docs. Pinned (incl.
    planted short docs) by
    tests/test_dedup_text.py::test_banded_packed_key_matches_string_key."""
    pack = MINHASH_PRIME ** rows < 2**63
    sigs = sigs.filter(F.col("mh_0").isNotNull())
    band_cols = []
    for b in range(bands):
        if pack:
            sig = F.col(f"mh_{b * rows}").cast("long")
            for r in range(1, rows):
                sig = sig * F.lit(MINHASH_PRIME).cast("long") + F.col(
                    f"mh_{b * rows + r}"
                )
        else:
            sig = F.concat_ws(
                "-", *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)]
            )
        band_cols.append(F.struct(F.lit(b).alias("band"), sig.alias("sig")))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bs")
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def lsh_bucket_overflow(
    sigs: DataFrame,
    bands: int = 8,
    rows: int = 2,
    id_col: str = "doc_id",
    bucket_cap: int = 1000,
) -> DataFrame:
    """(band, sig, bucket_size, dropped_pairs): the over-cap buckets that
    lsh_candidate_pairs(bucket_cap=...) excludes from pair generation —
    the no-silent-caps report. A pipeline logs/sinks this next to the
    dedup output so truncated mass is measured, not invisible:
    dropped_pairs = C(bucket_size, 2) is the pair count the cap avoided
    per bucket (the quadratic blowup), bucket_size the doc mass whose
    collisions in THIS band went unexamined."""
    return (
        _banded(sigs, bands, rows, id_col)
        .groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > bucket_cap)
        .withColumn(
            "dropped_pairs",
            (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("long"),
        )
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 8,
    rows: int = 2,
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become a candidate
    pair. The self-join is on (band, sig) — a bucket join, not a cross
    product. Skewed buckets (degenerate signatures — boilerplate pages,
    empty docs) would hotspot one reducer at scale; AQE skew-join
    handles moderate cases, and `bucket_cap` is the standard escape
    hatch: a bucket with more than `bucket_cap` members contributes
    O(n²) pairs and near-zero information (its members are duplicates
    of EACH OTHER — any member pair-checks identically), so oversized
    buckets are dropped from pair generation. Docs in a dropped bucket
    still pair through their other bands; the recall cost is only for
    pairs whose EVERY colliding band is over the cap — i.e. mass-scale
    boilerplate, which exact dedup catches first. Default None keeps
    exhaustive semantics (the oracle-checked configuration). Dropped
    mass is observable via lsh_bucket_overflow (same banding), never
    silent."""
    exploded = _banded(sigs, bands, rows, id_col)
    if bucket_cap is not None:
        w = Window.partitionBy("band", "sig")
        exploded = (
            exploded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach true shingle-set Jaccard to candidate pairs (the verify
    stage after LSH candidate generation)."""
    sh = docs.select(F.col(id_col), word_shingles(F.col(text_col)).alias("shingles"))
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
    )


def _lsh_verified_pairs(
    docs: DataFrame,
    k: int,
    bands: int,
    rows: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(unmaterialized verified-pairs plan, persisted shingle-hash
    handle). The caller MUST materialize the plan (localCheckpoint or an
    action on a derived cached frame) before unpersisting the handle —
    split out so dedup_clusters can fold its own edge checkpoint into
    the same materialization instead of paying two back-to-back ones."""
    hashed = shingle_hashes(docs, text_col, id_col).persist()
    sigs = minhash_signatures(docs, k, text_col, id_col, hashed=hashed)
    pairs = lsh_candidate_pairs(sigs, bands, rows, id_col)
    hs = hashed.select(F.col(id_col), F.array_distinct("hashes").alias("hset"))
    a = hs.select(F.col(id_col).alias("doc_a"), F.col("hset").alias("h_a"))
    b = hs.select(F.col(id_col).alias("doc_b"), F.col("hset").alias("h_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("h_a", "h_b")).cast("double")
    union = F.size(F.array_union("h_a", "h_b")).cast("double")
    out = joined.select("doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard"))
    return out, hashed


def minhash_lsh_dedup(
    docs: DataFrame,
    k: int = 16,
    bands: int = 8,
    rows: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full pipeline: signatures → banded candidates → Jaccard verify.

    The expensive step (tokenize → shingle → rolling-hash) runs ONCE and
    is cached; both the signature matrix and the verify stage reuse it.
    Verification Jaccard is computed over the distinct shingle-HASH sets
    (identical values cross-engine; collisions at ~1e9 space are both
    negligible and reproduced exactly by the oracle)."""
    out, hashed = _lsh_verified_pairs(docs, k, bands, rows, text_col, id_col)
    try:
        # materialize before unpersisting the upstream cache
        out = out.localCheckpoint(eager=True)
    finally:
        hashed.unpersist()
    return out


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 8,
    rows: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size): near-duplicate CLUSTERS — the
    connected components of the MinHash-LSH pair graph at `threshold`
    Jaccard, canonical id = min doc_id per component. Pair lists answer
    "which two docs collide"; a training-data pipeline needs "which GROUP
    of docs is one document" to keep exactly one representative, and
    transitive chains (A~B~C with A!~C) make that a graph problem.

    Spark-first min-label propagation WITH PATH HALVING: every doc
    starts labeled with itself; each round takes the min over (own
    label, neighbors' labels, label-of-own-label). The label-of-label
    hop is pointer doubling — the distance a component min travels per
    round doubles, so the fixpoint arrives in O(log diameter) rounds
    instead of O(diameter) (the same shortcutting large-star/small-star
    exploits, as one extra doc_id-equi-join per round instead of an
    edge-rewrite). Each round localCheckpoints to truncate lineage
    (else the plan doubles per iteration).

    The loop runs ONLY over edge-touched vertices: a doc with no
    collision edge is provably its own singleton component, so it joins
    the result directly instead of riding every propagation round. At
    100 TB this is the difference between shuffling |corpus| rows per
    round and shuffling |collision vertices| (≪ corpus for any sane
    near-dup rate); the edge list itself is the banded-LSH output
    (bounded by collisions, never all-pairs) and every shuffle key is a
    uniform doc_id."""
    # the r18 collapsed round 0 runs unconditionally, so max_iter=0
    # would still propagate once — pin the degenerate-parameter
    # contract instead of silently meaning 1 (ADVICE r18)
    assert max_iter >= 1, f"max_iter must be >= 1, got {max_iter}"
    raw_pairs, hashed = _lsh_verified_pairs(docs, k, bands, rows, text_col, id_col)
    try:
        pairs = raw_pairs.filter(F.col("jaccard") >= threshold)
        half = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        # ONE materialization covers the whole pair pipeline + the edge
        # doubling (minhash_lsh_dedup's own checkpoint would be a second
        # full barrier back-to-back with this one)
        edges = half.union(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint(eager=True)
    finally:
        hashed.unpersist()
    # Round 0 collapsed to ONE aggregation (r18, guide §2.4): with the
    # identity starting labels, nb_min(src) = min over neighbors of
    # label(dst) = min(dst), so round 0's edges⋈labels join, the cand
    # join, AND the separate labels-init distinct all reduce to
    # groupBy(src).min(dst) over the checkpointed edges — the touched-
    # vertex set is exactly the groupBy keys (edges carry both
    # directions). Three barriers (labels init + round-0's two-join
    # plan) become one groupBy+checkpoint; round 0 always changes
    # labels when any edge exists, so no count job either.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nb_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("_nb_min")).alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    for _it in range(1, max_iter):
        nb = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"), F.col("cluster_id").alias("nb_label")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nb_label").alias("nb_min"))
        )
        cand = labels.join(
            nb.select(F.col("src").alias("doc_id"), "nb_min"), "doc_id", "left"
        ).select(
            "doc_id",
            F.col("cluster_id").alias("_old"),
            F.least(F.col("cluster_id"), F.coalesce("nb_min", F.col("cluster_id"))).alias(
                "cand_id"
            ),
        )
        # carrying _old through makes change detection a column
        # compare — no third join against the previous label table; the
        # cand_id self-join is the path-halving label-of-label hop
        stepped = (
            cand.join(
                labels.select(
                    F.col("doc_id").alias("cand_id"),
                    F.col("cluster_id").alias("grand"),
                ),
                "cand_id",
                "left",
            )
            .select(
                "doc_id",
                F.least(F.col("cand_id"), F.coalesce("grand", F.col("cand_id"))).alias(
                    "cluster_id"
                ),
                (
                    F.least(F.col("cand_id"), F.coalesce("grand", F.col("cand_id")))
                    != F.col("_old")
                ).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("_chg")).count()
        labels = stepped.drop("_chg")
        if changed == 0:
            break
    w = Window.partitionBy("cluster_id")
    clustered = labels.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )
    singletons = docs.join(
        labels.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    ).select(
        F.col(id_col).alias("doc_id"),
        F.col(id_col).alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    return clustered.unionByName(singletons)


def cross_split_contamination(
    docs: DataFrame,
    splits: DataFrame,
    from_split: str = "train",
    vs_split: str = "test",
    min_shared: int = 2,
    max_df: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(train_doc, test_doc, n_shared): benchmark-decontamination check —
    every train-split document sharing ≥ min_shared distinct 3-gram
    shingles with a test-split document. The op every eval-honest
    training pipeline runs before training: test-set text leaking into
    the train split inflates benchmark numbers.

    Plan: tag each doc's split BEFORE the shingle explode (the join key
    count is |docs|, not |postings| — shingle fan-out never crosses a
    join), shingle-hash ONCE, explode to (doc, split, hash), apply the
    df-cap as a COUNT window over the hash (boilerplate n-grams are not
    contamination and would otherwise fan the final join out
    quadratically — the standard df-cap), then equi-join train ⋈ test
    postings on the hash. The window, the train side, and the test side
    all share one hash-partitioning of the single postings pass, so the
    whole pipeline is ONE shuffle of the postings plus the final
    per-pair partial-agg — the previous groupBy-then-join formulation
    executed the shingle kernel twice (no exchange reuse across its two
    branches). Cost is bounded by true cross-split shingle collisions,
    never |train|×|test|. `splits` is any (doc_id, split) assignment —
    hash_split's output slots in directly. At 100 TB the test side
    (benchmark suites, megabytes by nature) is broadcastable; the
    shuffle-free variant replaces the final join with
    tr.join(F.broadcast(te), "h")."""
    # persist the kernel output (one row per doc, same discipline as
    # _lsh_verified_pairs): the train and test branches both descend from
    # it, and without the pin whether the Python pass runs once or twice
    # is left to AQE exchange reuse
    hashed = shingle_hashes(docs, text_col, id_col).persist()
    # every split's postings stay in until AFTER the df window: a shingle
    # frequent across train+val is boilerplate even if rare within
    # train∪test alone, so the cap counts document frequency globally
    tagged = hashed.join(splits.select(F.col(id_col), "split"), id_col)
    postings = tagged.select(F.col(id_col), "split", F.explode("hashes").alias("h"))
    w = Window.partitionBy("h")
    pruned = (
        postings.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    tr = pruned.filter(F.col("split") == from_split).select(
        F.col(id_col).alias("train_doc"), "h"
    )
    te = pruned.filter(F.col("split") == vs_split).select(
        F.col(id_col).alias("test_doc"), "h"
    )
    out = (
        tr.join(te, "h")
        .groupBy("train_doc", "test_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    try:
        # materialize (bounded by true cross-split collisions) before
        # releasing the kernel cache — same pattern as minhash_lsh_dedup
        return out.localCheckpoint(eager=True)
    finally:
        hashed.unpersist()


# ------------------------------------------------------------ jaccard


def jaccard_topk(
    docs: DataFrame,
    n_query_docs: int = 20,
    topk: int = 3,
    k_minhash: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k most-similar documents (by shingle Jaccard) for each of the
    first `n_query_docs` docs — similarity search over text.

    Candidate generation goes through the MinHash machinery instead of a
    per-block cross join (round 1's `lang`-blocked variant was per-block
    quadratic — at 100 TB a language block IS the corpus): a candidate is
    any doc agreeing with the query on at least one of `k_minhash`
    single-row bands, i.e. sharing the min-hashed shingle for some hash
    function. Expected candidate count tracks true Jaccard (P[collide on
    one band] = J), so cost is ~|similar pairs|, not |block|².

    The query side is `n_query_docs` rows → its exploded band table is
    broadcast; the verify stage joins candidate ids back to the cached
    shingle-hash sets. Jaccard is computed over distinct shingle-HASH
    sets (long arrays intersect much faster than string arrays; values
    are identical cross-engine)."""
    hashed = shingle_hashes(docs, text_col, id_col).persist()
    try:
        sigs = minhash_signatures(docs, k_minhash, text_col, id_col, hashed=hashed)
        bands = sigs.select(
            F.col(id_col),
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("band"), F.col(f"mh_{i}").alias("sig"))
                    for i in range(k_minhash)
                ])
            ).alias("bs"),
        ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        qb = bands.filter(F.col(id_col) < n_query_docs).select(
            F.col(id_col).alias("q_doc"), "band", "sig"
        )
        cand = (
            bands.join(F.broadcast(qb), ["band", "sig"])
            .filter(F.col("q_doc") != F.col(id_col))
            .select("q_doc", F.col(id_col).alias("cand_doc"))
            .distinct()
        )
        hs = hashed.select(F.col(id_col), F.array_distinct("hashes").alias("hset"))
        joined = (
            cand.join(hs.select(F.col(id_col).alias("q_doc"), F.col("hset").alias("sh_q")), "q_doc")
            .join(hs.select(F.col(id_col).alias("cand_doc"), F.col("hset").alias("sh_c")), "cand_doc")
        )
        inter = F.size(F.array_intersect("sh_q", "sh_c")).cast("double")
        union = F.size(F.array_union("sh_q", "sh_c")).cast("double")
        scored = joined.select("q_doc", "cand_doc", F.round(inter / union, 6).alias("jaccard"))
        w = Window.partitionBy("q_doc").orderBy(F.col("jaccard").desc(), F.col("cand_doc").asc())
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("q_doc", "rank", "cand_doc", "jaccard")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        hashed.unpersist()
    return out


# ------------------------------------------------------------ simhash


def simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document (Arrow mapInPandas kernel).

    Token hash = first 8 bytes of md5 (deterministic across processes —
    never Python's salted hash()). Bit b of the output = sign of the
    count-weighted vote of token-hash bits. Near-dups have small Hamming
    distance. Python cost is one md5 per DISTINCT token per batch (vocab
    is cached), the vote matrix is numpy."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        def th(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                v = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                cache[tok] = v
            return v

        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.uint64)
            for row_i, text in enumerate(pdf[text_col].tolist()):
                toks = (text or "").lower().split()
                if not toks:
                    continue
                hs = np.array([th(t) for t in toks], dtype=np.uint64)
                # bit matrix: (n_tokens, bits) of ±1 votes
                bits_m = ((hs[:, None] >> np.arange(bits, dtype=np.uint64)) & 1).astype(np.int64)
                votes = (2 * bits_m - 1).sum(axis=0)
                sig = np.uint64(0)
                for b_i in np.nonzero(votes > 0)[0]:
                    sig |= np.uint64(1) << np.uint64(b_i)
                out[row_i] = sig
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "simhash": out.astype(np.int64)})

    return docs.select(id_col, text_col).mapInPandas(kernel, f"{id_col} long, simhash long")


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 7,
    n_bands: int = 8,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, restricted to
    same-`block_col` pairs, with BANDED candidate generation.

    Round 1's formulation compared every same-lang pair (per-block
    quadratic — at 100 TB a language block IS the corpus) under a
    threshold (16) so loose it passed ~the entire block product. Now
    candidates meet in (band_idx, band_val, block) hash buckets — 8 bands
    of 8 bits — and the pigeonhole bound (max_hamming < n_bands) makes
    the banded set EXACTLY the exhaustive same-block pair set at the
    threshold, so correctness is unchanged while the join cost tracks
    |near-dups|, not |block|²."""
    return simhash_banded_pairs(
        docs,
        max_hamming=max_hamming,
        n_bands=n_bands,
        text_col=text_col,
        id_col=id_col,
        block_col=block_col,
    )


# ------------------------------------------- embedding near-duplicates


def sign_bucket(vec_col: str, n_bits: int = 4):
    """LSH bucket id from the sign bits of the first n_bits coordinates —
    axis-aligned random-hyperplane hashing for cosine similarity.

    Chosen over learned/sampled hyperplanes for the oracle-facing path
    because a single float32 comparison against 0 involves NO summation:
    it is bit-for-bit identical in any engine, so the bucket assignment
    (and therefore the exact output) is reproducible in ANSI SQL. At
    cluster scale the same plan shape takes an IVF centroid id or a
    seeded-hyperplane LSH signature as the bucket key."""
    col = F.lit(0)
    for j in range(n_bits):
        col = col + F.lit(1 << j) * (F.element_at(F.col(vec_col), j + 1) > 0).cast("int")
    return col


def embedding_near_dup_topk(
    embeddings: DataFrame,
    topk: int = 5,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-cosine-similar pairs per LSH bucket — embedding-space
    near-dup detection. Round 1 blocked on the dataset's `label` column
    (a gift the data won't give at 100 TB, and per-label quadratic); the
    block key is now a sign-bit LSH bucket computed from the vectors
    themselves. Near-identical vectors agree on all sign bits, so true
    near-dups land in the same bucket; bucket population is ~N/2^n_bits,
    so the per-bucket pair product shrinks quadratically with added
    bits — n_bits is the knob that keeps buckets executor-sized as N
    grows."""
    from cs598vectordb_spark.functions.distance import cosine_similarity

    e = embeddings.select(
        F.col(id_col), F.col(vec_col), sign_bucket(vec_col, n_bits).alias("bucket")
    )
    a = e.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), "bucket")
    b = e.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), "bucket")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "bucket",
            "id_a",
            "id_b",
            F.round(cosine_similarity("v_a", "v_b"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("cos_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("bucket", "rank", "id_a", "id_b", "cos_sim")
    )


# Expected rows per k-means cluster when n_clusters is derived from the
# corpus. SemDeDup at web scale keeps the cluster count proportional to
# the corpus (Abbas et al. use ~50K clusters on LAION-440M); a CONSTANT
# k would make the within-cluster pair product O((n/k)^2) — quadratic in
# the corpus — which is the one scale-killer the r10 audit found. With
# k = n / target, expected per-cluster pairs stay ~target^2/2 no matter
# how large n grows (pinned on a 10x synthetic corpus in
# tests/test_dedup_text.py::test_semdedup_adaptive_clusters).
SEMDEDUP_TARGET_CLUSTER_SIZE = 200
_SEMDEDUP_MIN_CLUSTERS = 16


def semdedup_n_clusters(n_rows: int) -> int:
    """Corpus-derived cluster count: k ≈ n / target_cluster_size with a
    floor so tiny fixtures still get meaningful blocking."""
    import math

    return max(_SEMDEDUP_MIN_CLUSTERS, math.ceil(n_rows / SEMDEDUP_TARGET_CLUSTER_SIZE))


def semdedup(
    embeddings: DataFrame,
    n_clusters: int | None = None,
    eps: float = 0.03,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means cluster-then-prune. Embeddings are clustered (distributed
    MLlib KMeans, seeded); pairwise cosine runs ONLY within a cluster —
    the O(N^2 / k) blocking that makes web-scale semantic dedup
    tractable, with k the knob that keeps each cluster's pair product
    executor-sized. When n_clusters is None (the registered query's
    path), k is DERIVED from the corpus row count
    (semdedup_n_clusters: k ≈ n/200, floor 16 — the paper's
    constant-cluster-size regime), so the expected per-cluster pair
    product is bounded by a constant independent of n; the one count()
    this costs is bounded metadata. Within every pair above 1 - eps the
    member
    MORE similar to its cluster centroid is dropped: the paper's
    keep-the-least-typical policy (the retained copy is the semantic
    group's "edge" example). Chains (a~b~c, a!~c) prune conservatively
    — b's drop doesn't resurrect c — a deterministic single-pass
    anti-join instead of a connected-components round (dedup_clusters
    has that machinery when exact grouping matters).

    Returns (vec_id, cluster_id, centroid_sim, kept) for every input
    row; kept=false rows are the semantic duplicates a training
    pipeline removes. Physical shape: one KMeans fit + one broadcast
    centroid join + one self-join shuffled by cluster id — no all-pairs
    stage anywhere. Rows-only entry (seeded KMeans assignment is
    engine-internal): planted-duplicate semantics pinned in
    tests/test_dedup_text.py::test_semdedup_prunes_planted_duplicates."""
    from cs598vectordb_spark.functions.distance import cosine_similarity
    from cs598vectordb_spark.operators.index import build_ivf_index_mllib

    if n_clusters is None:
        n_clusters = semdedup_n_clusters(embeddings.count())
    idx = build_ivf_index_mllib(
        embeddings, nlist=n_clusters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(idx.centroids)],
        "cluster_id int, centroid array<double>",
    )
    scored = (
        idx.assigned.withColumnRenamed("centroid_id", "cluster_id")
        .join(F.broadcast(cents), "cluster_id")
        .select(
            "cluster_id",
            id_col,
            vec_col,
            F.round(cosine_similarity(vec_col, "centroid"), 6).alias("centroid_sim"),
        )
    )
    a = scored.select(
        "cluster_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        F.col("centroid_sim").alias("sim_a"),
    )
    b = scored.select(
        "cluster_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        F.col("centroid_sim").alias("sim_b"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity("v_a", "v_b") > F.lit(1.0 - eps))
    )
    # within a duplicate pair, drop the more-typical member; ties on
    # centroid_sim drop the higher id (id_a < id_b here), so the
    # decision is total and deterministic
    dropped = pairs.select(
        F.when(F.col("sim_a") > F.col("sim_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias(id_col)
    ).distinct()
    return (
        scored.join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "centroid_sim",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def simhash_banded_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
) -> DataFrame:
    """Banded SimHash near-dup pairs — the 100 TB formulation: split each
    64-bit signature into n_bands (64/n_bands)-bit bands and equi-join on
    (band_idx, band_value[, block]), so candidates meet in hash buckets
    instead of a per-block cross join.

    Pigeonhole guarantee: with max_hamming < n_bands, two signatures
    within the threshold MUST agree on at least one full band, so the
    banded candidate set loses nothing — output is exactly the
    exhaustive pair set (the DuckDB oracle computes it exhaustively).

    The Hamming filter runs BEFORE the duplicate-pair distinct: bit_count
    on the joined rows is a codegen'd bitop, so the distinct's shuffle
    only carries pairs already under the threshold."""
    assert max_hamming < n_bands, "pigeonhole requires max_hamming < n_bands"
    assert 64 % n_bands == 0, "64-bit signature must split evenly into bands"
    width = 64 // n_bands
    mask = (1 << width) - 1
    sigs = simhash(docs, text_col, id_col)
    if block_col is not None:
        sigs = sigs.join(docs.select(F.col(id_col), F.col(block_col)), id_col)
    join_keys = ["band_idx", "band_val"] + ([block_col] if block_col else [])
    extra = [F.col(block_col)] if block_col else []
    bands = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        *extra,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bv"),
    ).select(id_col, "simhash", *extra, F.col("bv.band_idx").alias("band_idx"), F.col("bv.band_val").alias("band_val"))

    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "band_idx", "band_val", *extra
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "band_idx", "band_val", *extra
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, join_keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def shingle_cardinality_kmv(
    docs: DataFrame, k: int = 256, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(k, k_eff, kth_hash, exact_distinct, est_distinct, rel_err): the
    K-MINIMUM-VALUES cardinality sketch over the corpus's distinct
    shingle hashes — the classic mergeable distinct-count sketch
    (Bar-Yossef et al.): with hashes uniform on [0, M), the k-th
    smallest hash h_k estimates |D| ≈ (k-1)·M/h_k. Unlike HLL the
    estimator here is DETERMINISTIC given the engine's seeded rolling
    hash, so the estimate itself faces the DuckDB value-hash oracle —
    a fully verified approximate operator.

    Scale shape: the k smallest of a distinct-hash stream is a
    distributed TakeOrdered (per-partition top-k then a k-row driver
    merge) — associative and mergeable, the same property that lets KMV
    sketches union across corpus shards. The exact_distinct column is
    the test-scale honesty check; at 100 TB you keep only the sketch
    (that is its point) and rel_err is what the sketch's k buys you."""
    from cs598vectordb_spark.functions.text import ROLLING_MOD

    hashed = shingle_hashes(docs, text_col, id_col)
    vals = hashed.select(F.explode("hashes").alias("h")).distinct()
    kmin = vals.orderBy(F.col("h").asc()).limit(k)
    small = kmin.agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("k_eff"))
    exact = vals.agg(F.count(F.lit(1)).alias("n"))
    est = F.when(
        F.col("k_eff") < k, F.col("n").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(float(ROLLING_MOD)) / F.col("h_k"))
    return (
        small.crossJoin(exact)
        .select(
            F.lit(k).cast("int").alias("k"),
            F.col("k_eff").cast("int").alias("k_eff"),
            F.col("h_k").cast("long").alias("kth_hash"),
            F.col("n").cast("long").alias("exact_distinct"),
            F.round(est, 4).alias("est_distinct"),
            F.round(F.abs(est - F.col("n")) / F.col("n"), 6).alias("rel_err"),
        )
    )
