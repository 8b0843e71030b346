"""Dedup + text ops: constructed duplicates prove the semantics the
DuckDB gate can't see (SimHash), plus pipeline sanity."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cs598vectordb_spark.operators import dedup, textops
from cs598vectordb_spark.sources.tables import load_table


def _docs_with_dups(spark):
    """4 docs: 0 and 1 are exact duplicates (modulo whitespace/case);
    2 is a one-word edit of 0 (near-dup); 3 is unrelated."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest tonight while everyone sleeps soundly"
    )
    near = base.replace("forest", "jungle")
    other = (
        "completely different content about spark query engines and "
        "distributed columnar execution with arrow batches everywhere here"
    )
    rows = [
        (0, base, "en"),
        (1, "  " + base.upper() + "  ", "en"),
        (2, near, "en"),
        (3, other, "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_exact_finds_constructed_dup(spark):
    docs = _docs_with_dups(spark)
    groups = dedup.dedup_exact(docs).collect()
    by_canon = {r.canonical_id: r.n_copies for r in groups}
    assert by_canon[0] == 2  # doc 0 and 1 collapse
    assert by_canon[2] == 1 and by_canon[3] == 1


def test_simhash_near_dup_detects_edit(spark):
    # wide threshold needs many narrow bands for the pigeonhole bound
    docs = _docs_with_dups(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_dups(docs, max_hamming=20, n_bands=32).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0  # exact dup → distance 0
    assert (0, 2) in pairs  # one-word edit → small distance
    assert (0, 3) not in pairs and (2, 3) not in pairs  # unrelated far apart


def test_simhash_tolerates_null_text(spark):
    rows = [(0, "some repeated text some repeated text", "en"), (1, None, "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert got[1] == 0  # empty vote vector → all-zero signature, no crash


def test_minhash_lsh_catches_exact_and_near(spark):
    docs = _docs_with_dups(spark)
    out = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.minhash_lsh_dedup(docs).collect()}
    assert out.get((0, 1)) == 1.0  # identical shingle sets... modulo case
    assert (0, 2) in out and out[(0, 2)] > 0.5


def test_minhash_jaccard_estimate_tracks_truth(spark, sf_dir):
    """Signature agreement rate ≈ true Jaccard (the MinHash property),
    checked on the near-dup pair where it is far from 0."""
    docs = _docs_with_dups(spark)
    sigs = {r.doc_id: [r[f"mh_{i}"] for i in range(16)] for r in dedup.minhash_signatures(docs, 16).collect()}
    agree = sum(a == b for a, b in zip(sigs[0], sigs[2])) / 16
    true_j = dedup.jaccard_verify(
        spark.createDataFrame([(0, 2)], "doc_a long, doc_b long"), docs
    ).collect()[0].jaccard
    assert abs(agree - true_j) <= 0.35  # 16 hashes → coarse but correlated


def test_lang_detect_shapes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = textops.lang_detect(docs)
    assert out.count() == docs.count()
    vals = {r.detected_lang for r in out.select("detected_lang").distinct().collect()}
    assert vals <= {"de", "en", "es", "zh", "und"}


def test_quality_scores_bounded(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = textops.quality_scores(docs)
    bad = out.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count()
    assert bad == 0


def test_embedding_near_dup_ranks(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dup_topk(emb, topk=5, n_bits=4)
    per_bucket = out.groupBy("bucket").count().collect()
    assert all(r["count"] == 5 for r in per_bucket)
    assert len(per_bucket) == 16  # every sign-bit bucket populated at this sf
    assert out.filter(F.col("cos_sim") > 1.000001).count() == 0


def test_semdedup_prunes_planted_duplicates(spark, sf_dir):
    """Evidence pin for the rows-only semdedup entry: planted exact
    copies (cosine 1) are pruned to one survivor per group, the tie on
    centroid_sim keeps the LOWEST id, and every input row comes back
    with a non-null verdict."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = (
        emb.filter(F.col("vec_id") < 2)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
        .union(
            emb.filter(F.col("vec_id") == 0).select(
                (F.col("vec_id") + 20000).alias("vec_id"), "embedding"
            )
        )
    )
    out = dedup.semdedup(emb.union(copies), n_clusters=8, eps=0.01)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == emb.count() + 3
    assert all(r.kept is not None for r in rows.values())
    # group {0, 10000, 20000}: identical vectors share a cluster and a
    # centroid_sim, so ties drop the higher ids and 0 survives alone
    assert [rows[i].kept for i in (0, 10000, 20000)] == [True, False, False]
    assert [rows[i].kept for i in (1, 10001)] == [True, False]


def test_semdedup_adaptive_clusters(spark, sf_dir):
    """The VERDICT-r10 scale fix: n_clusters derives from the corpus so
    the expected per-cluster pair product is bounded by a constant
    independent of n. Checked two ways: (1) the k formula keeps
    expected cluster size ≤ target at every scale (so (n/k)²/2 ≤
    target²/2 — constant); (2) on a REAL 10× synthetic corpus the
    fitted KMeans assignment's normalized pair product Σc_i²/n (=
    within-cluster join rows per input row) stays under a skew-tolerant
    constant bound, where the r10 constant k=16 would have let it grow
    linearly with n."""
    from cs598vectordb_spark.operators.dedup import (
        SEMDEDUP_TARGET_CLUSTER_SIZE,
        semdedup_n_clusters,
    )
    from cs598vectordb_spark.operators.index import build_ivf_index_mllib
    from cs598vectordb_spark.sources.tables import synthetic_queries

    # (1) closed form: expected cluster size n/k ≤ target at EVERY
    # scale (in the floor regime n ≤ 16·target so n/16 ≤ target too)
    for n in (1, 500, 3_200, 5_000, 500_000, 50_000_000):
        assert n / semdedup_n_clusters(n) <= SEMDEDUP_TARGET_CLUSTER_SIZE
    assert semdedup_n_clusters(500) == 16  # floor regime (fixture)
    assert semdedup_n_clusters(5_000) == 25  # adaptive regime
    assert semdedup_n_clusters(50_000_000) == 250_000  # paper-scale ratio

    # (2) executed: 10× jittered corpus, fitted assignment sizes
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base_n = emb.count()
    big = synthetic_queries(emb, 10 * base_n, base_n).select(
        F.col("q_id").alias("vec_id"), "embedding"
    )
    n_big = 10 * base_n
    k_big = semdedup_n_clusters(n_big)
    assert n_big / k_big <= SEMDEDUP_TARGET_CLUSTER_SIZE
    idx = build_ivf_index_mllib(big, nlist=k_big)
    sizes = [
        r["c"]
        for r in idx.assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    pair_rows_per_input = sum(c * c for c in sizes) / n_big
    # balanced would be n/k ≤ target; allow 5× KMeans skew — still a
    # CONSTANT bound, vs ~n/16 (unbounded) under the old fixed k
    assert pair_rows_per_input <= 5 * SEMDEDUP_TARGET_CLUSTER_SIZE, (
        pair_rows_per_input,
        sorted(sizes, reverse=True)[:5],
    )


def test_jaccard_topk_banded_candidates_rank_near_dups_first(spark):
    """The MinHash-band candidate stage must keep the true near-dups of a
    query doc and rank the exact dup above the edit."""
    docs = _docs_with_dups(spark)
    out = {(r.q_doc, r.rank): r.cand_doc for r in dedup.jaccard_topk(docs, n_query_docs=1, topk=3).collect()}
    assert out[(0, 1)] == 1  # exact dup first (jaccard 1.0)
    assert out[(0, 2)] == 2  # near-dup second


def test_banded_simhash_equals_exhaustive(spark, sf_dir):
    """Pigeonhole: hamming <= 3 over 4 bands forces a shared band, so the
    banded candidate set is lossless vs the exhaustive pair scan."""
    from pyspark.sql import functions as F

    from cs598vectordb_spark.operators.dedup import simhash, simhash_banded_pairs
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_banded_pairs(docs, max_hamming=3, n_bands=4).collect()
    }
    sigs = simhash(docs)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    exhaustive = {
        (r["doc_a"], r["doc_b"], r["h"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("h")
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert banded == exhaustive and banded


def test_dedup_clusters_transitive_chain(spark):
    """A~B and B~C but A!~C must still land in ONE cluster (the reason
    pair lists aren't enough) — constructed chain of one-word edits."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = spark.createDataFrame(
        [
            (0, base, "en"),
            (1, base.replace("delta", "DELTA"), "en"),      # ~ 0 (case only)
            (2, base.replace("upsilon", "psi"), "en"),       # ~ 0/1 (one edit)
            (3, "unrelated words entirely disjoint from the others "
                "completely separate vocabulary here today forever", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    from cs598vectordb_spark.operators.dedup import dedup_clusters

    out = {r.doc_id: (r.cluster_id, r.cluster_size) for r in dedup_clusters(docs, threshold=0.5).collect()}
    assert out[0] == (0, 3) and out[1] == (0, 3) and out[2] == (0, 3)
    assert out[3] == (3, 1)


def test_hash_split_deterministic_and_complete(spark, sf_dir):
    from cs598vectordb_spark.operators.textops import hash_split
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id: r.split for r in hash_split(docs, salt="s1").collect()}
    b = {r.doc_id: r.split for r in hash_split(docs, salt="s1").collect()}
    assert a == b  # deterministic
    assert len(a) == docs.count()
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.6 < frac_train < 0.95  # ~80% modulo hash noise
    c = {r.doc_id: r.split for r in hash_split(docs, salt="other").collect()}
    assert a != c  # salt re-rolls assignments


def test_pack_sequences_contiguous_and_parts_invariant(spark, sf_dir):
    """Offsets must tile the concatenated token stream exactly, and the
    block-distributed prefix sum must not depend on the block count."""
    from cs598vectordb_spark.operators.textops import pack_sequences
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        pack_sequences(docs, seq_len=2048, parts=32).collect(), key=lambda r: r.doc_id
    )
    off = 0
    for r in rows:
        assert r.start_offset == off, (r.doc_id, r.start_offset, off)
        assert r.seq_id == off // 2048
        off += r.n_tokens
    other = sorted(
        pack_sequences(docs, seq_len=2048, parts=3).collect(), key=lambda r: r.doc_id
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in other]


def test_stratified_sample_exact_quota(spark, sf_dir):
    from cs598vectordb_spark.operators.textops import stratified_sample
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    strata = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = stratified_sample(docs, quota=50, salt="smp").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    for r in got.collect():
        assert r.n == min(50, strata[r.lang]), (r.lang, r.n)
    a = {r.doc_id for r in stratified_sample(docs, quota=50, salt="smp").collect()}
    b = {r.doc_id for r in stratified_sample(docs, quota=50, salt="other").collect()}
    assert a != b  # salt re-rolls the draw


def test_contamination_detects_planted_leak(spark):
    """Doc 0 (train bucket) and doc 2 (test bucket) share a rare 8-word
    passage -> flagged; docs sharing only a high-df boilerplate phrase are
    not flagged."""
    from cs598vectordb_spark.operators.dedup import cross_split_contamination
    from cs598vectordb_spark.operators.textops import hash_split

    boiler = "all rights reserved click here to subscribe now"
    leak = "the quick crimson fox vaulted over nine sleepy hounds"
    filler = [
        f"document number {i} talks about topic {i * 7} in depth {boiler}"
        for i in range(20)
    ]
    # ids 0,1 train; 2,3 test (bucket values pinned by the s1 salt)
    data = [
        (0, f"intro text {leak} trailing words here", "en"),
        (1, f"unrelated train content entirely {boiler}", "en"),
        (2, f"prefix words {leak} closing remark", "en"),
        (3, f"clean test document nothing shared beyond {boiler}", "en"),
    ] + [(100 + i, t, "en") for i, t in enumerate(filler)]
    docs = spark.createDataFrame(data, "doc_id long, text string, lang string")
    splits = hash_split(docs, salt="s1")
    hits = {
        (r.train_doc, r.test_doc): r.n_shared
        for r in cross_split_contamination(docs, splits, min_shared=2, max_df=10).collect()
    }
    assert (0, 2) in hits and hits[(0, 2)] >= 6  # the leaked passage
    assert (1, 3) not in hits  # boilerplate-only overlap is df-capped away


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """The 100 TB skew escape hatch: 200 byte-identical docs collapse
    into one bucket per band — uncapped that is ~200²/2 pairs per band;
    with bucket_cap the degenerate buckets drop out entirely while
    pairs between genuinely-similar NON-degenerate docs survive through
    their own (small) buckets. Default (cap=None) keeps exhaustive
    semantics — the oracle-checked configuration."""
    from cs598vectordb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    boiler = [(i, "the same boilerplate page text repeated everywhere") for i in range(200)]
    realish = [
        (1000, "alpha bravo charlie delta echo foxtrot golf hotel india"),
        (1001, "alpha bravo charlie delta echo foxtrot golf hotel juliet"),
        (1002, "completely different words about distributed query engines"),
    ]
    docs = spark.createDataFrame(boiler + realish, "doc_id long, text string")
    sigs = minhash_signatures(docs, 16)

    uncapped = lsh_candidate_pairs(sigs, 8, 2)
    capped = lsh_candidate_pairs(sigs, 8, 2, bucket_cap=50)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= 200 * 199 // 2  # the degenerate clique dominates
    assert n_cap < 200  # clique gone, bounded output
    # the near-duplicate pair among real docs survives the cap
    real_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (1000, 1001) in real_pairs, real_pairs


def test_compressibility_signal(spark, sf_dir):
    """The zlib quality signal must order text classes correctly:
    highly repetitive << prose-like fixture text, and tiny-alphabet
    noise still compresses below 1.0 while the ratio never goes
    negative; ratios are deterministic across runs."""
    from cs598vectordb_spark.operators.textops import compressibility
    from cs598vectordb_spark.sources.tables import load_table

    probe = spark.createDataFrame(
        [
            (1, "spam " * 400),
            (2, "the quick brown fox jumps over the lazy dog and keeps "
                "running through fields of green grass toward the river"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in compressibility(probe).collect()}
    assert got[1].compress_ratio < 0.05, got[1]          # repetition collapses
    assert 0.3 < got[2].compress_ratio <= 1.1, got[2]     # prose band

    docs = load_table(spark, sf_dir, "documents")
    out = compressibility(docs)
    assert out.count() == docs.count()
    bad = out.filter(
        (F.col("compress_ratio") <= 0) | (F.col("n_compressed") <= 0)
    ).count()
    assert bad == 0

    a = sorted(compressibility(probe).collect())
    b = sorted(compressibility(probe).collect())
    assert a == b  # bit-deterministic for a fixed zlib level


def test_replica_corpus_has_no_cross_terms(spark, sf_dir):
    """Pins the linearity property the bench dedup-scaling corpus rests
    on (bench._x10_corpus): suffixing every word with a replica tag
    makes replica vocabularies disjoint, so EVERY LSH candidate pair and
    every verified near-dup pair stays within one replica — the 10×
    corpus adds no cross-replica (quadratic) workload term."""
    from pyspark.sql import functions as F

    from cs598vectordb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_lsh_dedup,
        minhash_signatures,
    )
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    reps = spark.range(2).select(F.col("id").cast("int").alias("rep"))
    shift = 10_000_000
    x2 = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep").cast("long") * shift).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda w: F.concat(w, F.lit("r"), F.col("rep").cast("string")),
            ),
        ).alias("text"),
    )

    pairs = lsh_candidate_pairs(minhash_signatures(x2, 16), 8, 2).collect()
    assert pairs
    cross = [
        (r.doc_a, r.doc_b) for r in pairs if (r.doc_a // shift) != (r.doc_b // shift)
    ]
    assert not cross, cross[:5]

    verified = minhash_lsh_dedup(x2, k=16, bands=8, rows=2).collect()
    assert verified
    bad = [
        (r.doc_a, r.doc_b)
        for r in verified
        if (r.doc_a // shift) != (r.doc_b // shift)
    ]
    assert not bad, bad[:5]


def test_pii_redact_known_documents(spark):
    """Evidence pin for the rows-only pii_redact entry: on documents
    with KNOWN PII, counts and the redacted text are exact, and staged
    redaction never double-counts a digit run inside an IP or email."""
    from cs598vectordb_spark.operators.textops import pii_redact

    rows = [
        (0, "contact bob@example.com or alice@mail.co today"),
        (1, "server at 192.168.0.1 answered"),
        (2, "call +1 (415) 555-0132 now"),
        (3, "bob@example.com from 10.0.0.2 dialed 415-555-0199"),
        (4, "no pii here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert (got[0].n_emails, got[0].n_ipv4, got[0].n_phones) == (2, 0, 0)
    assert (got[1].n_emails, got[1].n_ipv4, got[1].n_phones) == (0, 1, 0)
    assert (got[2].n_emails, got[2].n_ipv4, got[2].n_phones) == (0, 0, 1)
    assert (got[3].n_emails, got[3].n_ipv4, got[3].n_phones) == (1, 1, 1)
    assert (got[4].n_emails, got[4].n_ipv4, got[4].n_phones) == (0, 0, 0)

    import hashlib

    expect3 = "<EMAIL> from <IP> dialed <PHONE>"
    assert got[3].clean_md5 == hashlib.md5(expect3.encode()).hexdigest()
    expect4 = "no pii here at all"
    assert got[4].clean_md5 == hashlib.md5(expect4.encode()).hexdigest()


def test_repetition_scores_known_documents(spark):
    """Evidence pin for the rows-only repetition_scores entry: exact
    fractions on documents with KNOWN repetition structure, in the
    exclude-first-occurrence (RedPajama dups_*) counting convention."""
    rows = [
        (0, "Spam spam spam. Unique one here. Spam spam spam! Another line."),
        (1, "One sentence only. And a second one."),
        (2, "buy buy buy buy buy now"),
        (3, ""),
        (4, None),
        (
            5,
            "alpha beta gamma delta epsilon zeta"
            " alpha beta gamma delta epsilon zeta eta theta",
        ),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.repetition_scores(docs).collect()}

    # doc 0: sentences [spam spam spam | unique one here | spam spam
    # spam | another line] -> 1 duplicate occurrence of 4 and 14 dup
    # chars of 55; words: spam x6 of 11 (punctuation stripped)
    assert (got[0].n_sents, got[0].n_words) == (4, 11)
    assert got[0].dup_sent_frac == 0.25
    assert got[0].dup_sent_char_frac == round(14 / 55, 4)
    assert got[0].top_word_frac == round(6 / 11, 4)
    assert got[0].repetitive  # char frac > 0.20 and top word > 0.30
    # word chars 48; "spam spam" x4 of 8 chars -> 32/48; "spam spam
    # spam" x2 of 12 -> 24/48; all 4-grams unique so the tie rule picks
    # the lexicographically smallest ("here spam spam spam", 16 chars)
    assert got[0].top_2gram_char_frac == round(32 / 48, 4)
    assert got[0].top_3gram_char_frac == 0.5
    assert got[0].top_4gram_char_frac == round(16 / 48, 4)
    assert got[0].dup_5gram_char_frac == 0.0  # no repeated 5-gram

    # doc 1: no duplicate sentence; "one" twice of 7 words = 0.2857,
    # under every threshold
    assert (got[1].dup_sent_frac, got[1].dup_sent_char_frac) == (0.0, 0.0)
    assert got[1].top_word_frac == round(2 / 7, 4)
    assert not got[1].repetitive

    # doc 2: a single unpunctuated sentence, "buy" 5 of 6 words ->
    # keyword stuffing trips ONLY the top-word filter. Overlapping
    # "buy buy" occurrences (4 x 6 chars > 18 word chars) exercise the
    # [0,1] clamp on the top-gram fractions.
    assert (got[2].n_sents, got[2].dup_sent_frac) == (1, 0.0)
    assert got[2].top_word_frac == round(5 / 6, 4)
    assert got[2].top_2gram_char_frac == 1.0
    assert got[2].repetitive

    # docs 3/4: empty and NULL text -> the same all-zero row, never
    # flagged (a NULL flag would make a keep-filter drop the doc)
    for d in (3, 4):
        assert (got[d].n_sents, got[d].n_words) == (0, 0)
        assert got[d].top_4gram_char_frac == 0.0
        assert got[d].dup_10gram_char_frac == 0.0
        assert got[d].repetitive is False

    # doc 5: a 6-word phrase repeated verbatim then a unique tail —
    # the dup-n-gram coverage case. 5- and 6-grams repeat (covering
    # word positions 1..12 = 60 of 68 chars, distinct-position union so
    # the overlap never double-counts); 7-grams don't repeat (the
    # second block ends differently), so the bank separates gram sizes.
    assert got[5].dup_5gram_char_frac == round(60 / 68, 4)
    assert got[5].dup_6gram_char_frac == round(60 / 68, 4)
    assert got[5].dup_7gram_char_frac == 0.0
    assert got[5].repetitive


def test_repetition_scores_fixture_invariants(spark, sf_dir):
    """One row per fixture document, every fraction in [0, 1]."""
    docs = load_table(spark, sf_dir, "documents")
    out = textops.repetition_scores(docs)
    assert out.count() == docs.count()
    frac_cols = (
        ["dup_sent_frac", "dup_sent_char_frac", "top_word_frac"]
        + [f"top_{n}gram_char_frac" for n in textops.GOPHER_TOP_NGRAM_THRESHOLDS]
        + [f"dup_{n}gram_char_frac" for n in textops.GOPHER_DUP_NGRAM_THRESHOLDS]
    )
    cond = F.lit(False)
    for c in frac_cols:
        cond = cond | (F.col(c) < 0) | (F.col(c) > 1)
    assert out.filter(cond).count() == 0
    # a longer gram can only cover fewer-or-equal duplicated positions
    # when the shorter gram's duplicates are supersets — not a theorem
    # in general, but the trivial direction IS: if no 5-gram repeats,
    # no 10-gram can (a repeated 10-gram contains repeated 5-grams)
    bad = out.filter(
        (F.col("dup_5gram_char_frac") == 0) & (F.col("dup_10gram_char_frac") > 0)
    ).count()
    assert bad == 0


def test_lm_surprisal_closed_form(spark, sf_dir):
    """Evidence pin for the rows-only lm_surprisal entry: exact unigram
    MLE surprisal on a closed-form corpus, plus fixture invariants
    (one row per doc, perplexity ≥ 1, the all-common-token doc scores
    lowest)."""
    import math

    rows = [(0, "a a b"), (1, "b c"), (2, ""), (3, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.lm_surprisal(docs).collect()}
    # counts: a=2, b=2, c=1, total=5
    # doc 0 (a a b): mean -ln = ln(5/2) everywhere -> ppl = 2.5
    assert got[0].n_tokens == 3
    assert got[0].avg_neg_logprob == round(math.log(2.5), 4)
    assert got[0].perplexity == 2.5
    # doc 1 (b c): (ln 2.5 + ln 5) / 2
    anl = (math.log(2.5) + math.log(5.0)) / 2
    assert got[1].avg_neg_logprob == round(anl, 4)
    assert got[1].perplexity == round(math.exp(anl), 4)
    # empty / NULL text -> zero row, perplexity 1 (no evidence)
    for d in (2, 3):
        assert (got[d].n_tokens, got[d].perplexity) == (0, 1.0)

    corpus = load_table(spark, sf_dir, "documents")
    out = textops.lm_surprisal(corpus)
    assert out.count() == corpus.count()
    assert out.filter(F.col("perplexity") < 1.0).count() == 0


def test_curation_funnel_report(spark, sf_dir):
    """Evidence pin for the rows-only curation_funnel_report entry:
    stage conservation (n_in − n_dropped = n_out; stage i's out =
    stage i+1's in), the first stage sees the whole corpus, counts
    never increase, and the final survivors equal the independently
    composed filter count."""
    from cs598vectordb_spark.operators.dedup import dedup_exact
    from cs598vectordb_spark.operators.textops import (
        curation_funnel_report,
        quality_scores,
        repetition_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(curation_funnel_report(docs).collect(), key=lambda r: r.stage_id)
    assert [r.stage for r in rows] == [
        "lang_filter",
        "exact_dedup",
        "repetition_gate",
        "quality_floor",
    ]
    assert rows[0].n_in == docs.count()
    for r in rows:
        assert r.n_in - r.n_dropped == r.n_out
        assert r.n_dropped >= 0
    for a, b in zip(rows, rows[1:]):
        assert a.n_out == b.n_in

    canon = dedup_exact(docs).select(F.col("canonical_id").alias("doc_id"))
    survivors = (
        docs.filter(F.col("lang").isin(["en", "es", "de"]))
        .join(canon, "doc_id")
        .join(repetition_scores(docs).select("doc_id", "repetitive"), "doc_id")
        .filter(~F.col("repetitive"))
        .join(quality_scores(docs).select("doc_id", "quality"), "doc_id")
        .filter(F.col("quality") >= 0.5)
        .count()
    )
    assert rows[-1].n_out == survivors > 0


def test_export_training_set(spark, sf_dir, tmp_path):
    """Evidence pin for the rows-only export_training_set entry: the
    manifest's totals conserve the curation funnel exactly, every kept
    doc lands in exactly one shard, a re-export of the same corpus
    yields an IDENTICAL manifest (ids_md5 included — the
    byte-comparability claim), and the written shards round-trip the
    kept doc_id set."""
    from cs598vectordb_spark.operators.dedup import dedup_exact
    from cs598vectordb_spark.operators.textops import (
        export_training_set,
        quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    m1 = export_training_set(docs, str(tmp_path / "e1"), n_shards=8).collect()

    q = quality_scores(docs).select("doc_id", "quality")
    canon = dedup_exact(docs).select(F.col("canonical_id").alias("doc_id"))
    kept = (
        docs.select("doc_id", "lang")
        .filter(F.col("lang").isin(["en", "es", "de"]))
        .join(canon, "doc_id")
        .join(q, "doc_id")
        .filter(F.col("quality") >= 0.5)
    )
    n_kept = kept.count()
    assert sum(r.n_docs for r in m1) == n_kept > 0
    assert len(m1) <= 8 and len({r.shard for r in m1}) == len(m1)

    # written shards hold exactly the kept ids, each once
    written = spark.read.parquet(str(tmp_path / "e1" / "shards"))
    assert written.count() == n_kept
    assert written.select("doc_id").distinct().count() == n_kept
    assert written.join(kept.select("doc_id"), "doc_id").count() == n_kept

    # idempotence: same corpus -> identical manifest, checksums included
    m2 = export_training_set(docs, str(tmp_path / "e2"), n_shards=8).collect()
    assert sorted(map(tuple, m1), key=lambda t: t[0]) == sorted(
        map(tuple, m2), key=lambda t: t[0]
    )


def test_corpus_topics(spark, sf_dir):
    """Evidence pin for the rows-only corpus_topics entry: exactly topk
    ranked labels per discovered topic, deterministic across runs
    (seeded KMeans + lexicographic lift ties), doc counts conserve the
    corpus, and every label's lift is positive (a topic's top token
    must be over-represented vs the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    a = textops.corpus_topics(docs, emb, n_topics=8, topk=5)
    rows = a.collect()
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r.topic_id, []).append(r)
    assert 1 <= len(by_topic) <= 8
    assert sum(rs[0].n_docs for rs in by_topic.values()) == docs.count()
    for rs in by_topic.values():
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        assert all(r.lift > 0 for r in rs)
        ordered = sorted(rs, key=lambda r: r.rank)
        lifts = [r.lift for r in ordered]
        assert lifts == sorted(lifts, reverse=True), lifts  # rank = lift order
    # determinism: a second invocation yields identical rows
    b = textops.corpus_topics(docs, emb, n_topics=8, topk=5)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_clean_text_known_documents(spark, sf_dir):
    """Evidence pin for the rows-only clean_text entry: tag stripping,
    double-escape-safe entity unescaping (&amp;lt; must become the
    LITERAL '&lt;', never a strippable tag), control-char removal, and
    whitespace collapse — each checked through the cleaned text's md5
    against a Python reference of the same staged pipeline."""
    import hashlib

    rows = [
        (0, "<p>Hello <b>world</b></p>"),
        (1, "Tom &amp; Jerry say &lt;hi&gt;"),
        (2, "double &amp;lt; escape"),
        (3, "ctrl\x00chars\x1fhere"),
        (4, None),
        # leading/trailing NON-SPACE whitespace: trim() strips only
        # ASCII spaces, so the collapse must run BEFORE the trim
        # (review finding r11) — else a stray edge space survives
        (5, "\nHello world\t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.clean_text(docs).collect()}

    expect = {
        0: ("Hello world", 4, 0, 0),
        1: ('Tom & Jerry say <hi>', 0, 3, 0),
        2: ("double &lt; escape", 0, 1, 0),
        3: ("ctrl chars here", 0, 0, 2),
        4: ("", 0, 0, 0),
        5: ("Hello world", 0, 0, 0),
    }
    for d, (clean, n_tags, n_ents, n_ctrl) in expect.items():
        r = got[d]
        assert (r.n_tags, r.n_entities, r.n_ctrl) == (n_tags, n_ents, n_ctrl), (d, r)
        assert r.clean_len == len(clean), (d, r)
        assert r.clean_md5 == hashlib.md5(clean.encode()).hexdigest(), (d, clean)

    corpus = load_table(spark, sf_dir, "documents")
    out = textops.clean_text(corpus)
    assert out.count() == corpus.count()


def test_exact_substring_stats(spark, sf_dir):
    """Evidence pin for the rows-only exact_substring_stats entry: a
    planted 10-token verbatim quote inside two otherwise-unrelated
    documents is found exactly (the case whole-document near-dup
    misses), counts are distinct-k-gram counts, short docs keep zero
    rows, and on the fixture the flagged-doc count matches the
    relational closed form."""
    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, f"intro words here {quote} and a unique tail for zero"),
        (1, f"totally different opening {quote} closing remarks one"),
        (2, "no shared content in this document at all nine words"),
        (3, "short doc"),
        (4, None),  # NULL text keeps a zero row, never a kernel crash
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.exact_substring_stats(docs, k=10).collect()}
    # doc 0 (19 words -> 10 windows) and doc 1 (16 words -> 7 windows):
    # exactly ONE window each (the quote itself) is verbatim-shared
    assert (got[0].n_kgrams, got[0].n_shared) == (10, 1)
    assert (got[1].n_kgrams, got[1].n_shared) == (7, 1)
    assert got[0].shared_frac == 0.1
    assert (got[2].n_kgrams, got[2].n_shared) == (1, 0)
    for d in (3, 4):
        assert (got[d].n_kgrams, got[d].n_shared, got[d].shared_frac) == (0, 0, 0.0)

    corpus = load_table(spark, sf_dir, "documents")
    out = textops.exact_substring_stats(corpus, k=10)
    assert out.count() == corpus.count()
    # a doc's shared k-grams can never exceed its k-gram count
    assert out.filter(F.col("n_shared") > F.col("n_kgrams")).count() == 0
    # the fixture carries real cross-doc verbatim structure (47 docs at
    # sf0.01, checked relationally) — the signal must be live, and
    # sharing is symmetric so flagged docs come in groups >= 2
    n_flagged = out.filter(F.col("n_shared") > 0).count()
    assert n_flagged >= 2


def test_dsir_closed_form(spark, sf_dir):
    """Evidence pin for the rows-only dsir_logweights entry: exact
    hashed-n-gram importance weights against a Python reference of the
    same rolling hash / Laplace-smoothed ratio, plus the fixture
    invariant that makes DSIR DSIR — with English as the target, the
    mean weight of English docs exceeds the mean weight of Chinese
    docs (disjoint vocabularies force the separation)."""
    import math

    rows = [
        (0, "the cat sat", "en"),
        (1, "the dog ran fast", "en"),
        (2, "le chat noir", "fr"),
        (3, "", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: r
        for r in textops.dsir_logweights(docs, F.col("lang") == "en").collect()
    }

    B = 10_000
    # bucket assignments come from the ENGINE's own hash expression (the
    # reference reimplements the weighting math, not xxhash64)
    all_feats = sorted(
        {
            f
            for _, text, _ in rows
            for ws in [text.split()]
            for f in ws + [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        }
    )
    fdf = spark.createDataFrame([(f,) for f in all_feats], "feat string")
    bucket_of = {
        r.feat: r.b
        for r in fdf.select(
            "feat", F.pmod(F.xxhash64("feat"), F.lit(B)).alias("b")
        ).collect()
    }

    def feats(text: str) -> list[int]:
        ws = text.split()
        fs = ws + [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        return [bucket_of[f] for f in fs]

    from collections import Counter

    raw, tgt = Counter(), Counter()
    for _, text, lang in rows:
        for b in feats(text):
            raw[b] += 1
            if lang == "en":
                tgt[b] += 1
    t_raw, t_tgt = sum(raw.values()), sum(tgt.values())

    def lw(text: str) -> float:
        return sum(
            math.log(tgt.get(b, 0) + 1)
            - math.log(t_tgt + B)
            - math.log(raw[b] + 1)
            + math.log(t_raw + B)
            for b in feats(text)
        )

    for d, text, lang in rows:
        assert got[d].is_target == (lang == "en")
        assert got[d].n_feats == len(feats(text))
        assert abs(got[d].log_weight - lw(text)) <= 5.1e-5, (d, got[d])

    corpus = load_table(spark, sf_dir, "documents")
    out = textops.dsir_logweights(corpus, F.col("lang") == "en")
    assert out.count() == corpus.count()
    means = {
        r.lang: r.m
        for r in out.join(corpus.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg("log_weight").alias("m"))
        .collect()
    }
    assert means["en"] > means["zh"], means


def test_mixture_sample_quotas(spark, sf_dir):
    """Evidence pin for the rows-only mixture_sample entry: per-source
    quotas equal the closed-form largest-remainder allocation of
    n_s^alpha weights, the draw totals exactly `total`, selection is
    deterministic for a fixed salt, and alpha=1 reduces to proportional
    allocation."""
    from cs598vectordb_spark.operators.textops import mixture_sample
    from cs598vectordb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    counts = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}

    def closed_form(total, alpha):
        w = {s: n**alpha for s, n in counts.items()}
        z = sum(w.values())
        raw = {s: total * x / z for s, x in w.items()}
        quota = {s: min(int(raw[s]), counts[s]) for s in raw}
        # true largest-remainder: one unit per source in descending
        # fractional order, cycling (NOT a greedy lump to the first)
        short = total - sum(quota.values())
        order = sorted(raw, key=lambda s: (-(raw[s] - int(raw[s])), s))
        i = 0
        while short > 0 and any(counts[s] > quota[s] for s in quota):
            s = order[i % len(order)]
            if counts[s] > quota[s]:
                quota[s] += 1
                short -= 1
            i += 1
        return quota

    for alpha in (0.5, 1.0):
        out = mixture_sample(docs, total=120, alpha=alpha).collect()
        got = {}
        for r in out:
            got[r.source] = got.get(r.source, 0) + 1
        assert sum(got.values()) == 120
        assert got == {s: q for s, q in closed_form(120, alpha).items() if q > 0}
        # independent largest-remainder invariant (not derived from the
        # implementation): every uncapped source ends within one unit of
        # its real-valued share — a greedy lump violates this
        w = {s: n**alpha for s, n in counts.items()}
        z = sum(w.values())
        for s, q in got.items():
            if q < counts[s]:  # uncapped
                share = 120 * w[s] / z
                assert int(share) <= q <= int(share) + 1, (s, q, share)

    a = sorted((r.source, r.doc_id) for r in mixture_sample(docs, total=120).collect())
    b = sorted((r.source, r.doc_id) for r in mixture_sample(docs, total=120).collect())
    assert a == b
    c = sorted((r.source, r.doc_id) for r in mixture_sample(docs, total=120, salt="other").collect())
    assert a != c  # a new salt is a fresh draw


def _mixture_quota_loop(counts: dict, total: int, alpha: float = 0.5) -> dict:
    """The operator's quota computation, replicated verbatim (counts →
    quotas) so the oracle's closed form can be checked against it on
    inputs the uniform driver fixture never produces."""
    weights = {s: n**alpha for s, n in counts.items()}
    z = sum(weights.values()) or 1.0
    raw = {s: round(total * w / z, 9) for s, w in weights.items()}
    quota = {s: min(int(raw[s]), counts[s]) for s in raw}
    short = total - sum(quota.values())
    order = sorted(raw, key=lambda s: (-(raw[s] - int(raw[s])), s))
    i = 0
    while short > 0 and any(counts[s] > quota[s] for s in quota):
        s = order[i % len(order)]
        if counts[s] > quota[s]:
            quota[s] += 1
            short -= 1
        i += 1
    return quota


def _mixture_quota_closed_form(counts: dict, total: int, alpha: float = 0.5) -> dict:
    """The oracle SQL's `extra` CTE as Python: source t receives a unit
    in cycle c iff c < headroom(t) and the units handed out strictly
    before t's slot in cycle c stay below the shortfall."""
    weights = {s: n**alpha for s, n in counts.items()}
    z = sum(weights.values()) or 1.0
    raw = {s: round(total * w / z, 9) for s, w in weights.items()}
    q0 = {s: min(int(raw[s]), counts[s]) for s in raw}
    short = total - sum(q0.values())
    order = sorted(raw, key=lambda s: (-(raw[s] - int(raw[s])), s))
    p = {s: i for i, s in enumerate(order)}
    h = {s: counts[s] - q0[s] for s in counts}
    out = {}
    for s in counts:
        extra = 0
        for c in range(total):
            if c >= h[s]:
                break
            before = sum(
                min(h[t], c + (1 if p[t] < p[s] else 0)) for t in counts
            )
            if before < short:
                extra += 1
        out[s] = q0[s] + extra
    return out


def test_mixture_topup_closed_form_matches_loop():
    """The driver fixture's uniform source counts give short=0, so the
    gate never exercises the largest-remainder top-up — pin the oracle's
    closed form against the operator's cyclic capacity-aware loop on
    skewed counts instead, property-style."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        counts=st.dictionaries(
            st.sampled_from([f"s{i}" for i in range(12)]),
            st.integers(min_value=1, max_value=400),
            min_size=1,
            max_size=12,
        ),
        total=st.integers(min_value=1, max_value=300),
    )
    def check(counts, total):
        assert _mixture_quota_closed_form(counts, total) == _mixture_quota_loop(
            counts, total
        )

    check()


def test_mixture_sample_oracle_sql_on_skewed_corpus():
    """Run the REGISTERED mixture_sample oracle SQL in DuckDB over
    skewed synthetic corpora (top-up exercised, capacity saturation
    exercised) and compare the full selection to a pure-Python
    reference: loop quotas + per-source (md5(id#mix), id) ranking.
    Catches oracle-SQL bugs the uniform sf0.01 fixture cannot."""
    import hashlib

    import duckdb

    from cs598vectordb_spark.registry import oracle_sql

    sql = oracle_sql()["mixture_sample"]
    cases = [
        # heavy skew: top-up lands unevenly across fractional parts
        {"web": 311, "books": 57, "code": 13, "wiki": 3, "forum": 1},
        # saturation: tiny strata hit their capacity during top-up
        {f"s{i}": (1 if i % 3 else 97) for i in range(9)},
        # fewer rows than the 200 target: quotas cap at stratum sizes
        {"a": 40, "b": 20, "c": 9},
    ]
    for counts in cases:
        rows, did = [], 0
        for src in sorted(counts):
            for _ in range(counts[src]):
                rows.append((did, src))
                did += 1
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, source VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        got = {(r[0], r[1], r[2]) for r in con.execute(sql).fetchall()}

        quota = _mixture_quota_loop(counts, 200)
        want = set()
        for src in counts:
            ids = [d for d, s in rows if s == src]
            ids.sort(key=lambda d: (hashlib.md5(f"{d}#mix".encode()).hexdigest(), d))
            for rank, d in enumerate(ids[: quota[src]], start=1):
                want.add((src, d, rank))
        assert got == want, (counts, len(got), len(want))
        total_sel = sum(quota.values())
        assert total_sel == min(200, sum(counts.values()))
        assert len(got) == total_sel


def test_token_counts_closed_form(spark, sf_dir):
    """Value-exact pin for the ORACLE-RETIRED-r12 token_counts entry:
    both counts recomputed independently with Python re in ASCII mode
    (matching Java's ASCII-only \\s and the ASCII character classes the
    pattern is restricted to by design) on edge documents covering
    every BPE branch, then across the WHOLE sf fixture."""
    import re

    from cs598vectordb_spark.queries_text import _BPE_PAT, token_counts_df

    pat = re.compile(_BPE_PAT, re.ASCII)

    def ws_count(text: str) -> int:
        # Spark: size(split(trim(text), '\s+')) — trim strips ASCII
        # spaces only; Java split keeps leading/trailing empties
        return len(re.split(r"\s+", text.strip(" "), flags=re.ASCII))

    rows = [
        (0, "the quick brown fox"),          # plain words
        (1, "it's 42 degrees!! don't"),      # contraction/digits/punct
        (2, "  a  b\tc  "),                  # \t edge: trim is space-only
        (3, "x1y2 3.14 --- 'tis"),           # mixed runs + leading '
        (4, "word"),                         # single token
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in token_counts_df(docs).collect()}
    for did, text in rows:
        assert got[did].n_tokens_ws == ws_count(text), (did, text)
        assert got[did].n_tokens_bpe == len(pat.findall(text)), (did, text)
    # hand-derived spot values so the recomputation itself is checked:
    # doc 1 BPE: it|'s|␠42|␠degrees|!!|␠don|'t = 7; ws: 4 words
    assert (got[1].n_tokens_ws, got[1].n_tokens_bpe) == (4, 7)
    # doc 2: trim(' ') keeps the \t, so ws splits "a  b\tc" into 3;
    # BPE: ws-run|a|ws|b|ws(\t)|c|ws-run = 7
    assert (got[2].n_tokens_ws, got[2].n_tokens_bpe) == (3, 7)

    corpus = load_table(spark, sf_dir, "documents")
    out = {r.doc_id: r for r in token_counts_df(corpus).collect()}
    for row in corpus.select("doc_id", "text").collect():
        assert out[row.doc_id].n_tokens_ws == ws_count(row.text)
        assert out[row.doc_id].n_tokens_bpe == len(pat.findall(row.text))


def test_doc_repetition_closed_form(spark, sf_dir):
    """Value-exact pin for the ORACLE-RETIRED-r12 doc_repetition entry:
    all three trigram statistics recomputed with a Python Counter over
    the shared normalization (lower + collapse whitespace + split) on
    constructed edge docs AND the whole sf fixture."""
    import re
    from collections import Counter

    def expect(text):
        # mirrors tokens(normalize_ws(.)): ASCII-space trim, lower,
        # ASCII-\s collapse, trim, split — empty string -> no tokens
        norm = re.sub(
            r"\s+", " ", (text or "").strip(" ").lower(), flags=re.ASCII
        ).strip(" ")
        toks = norm.split(" ") if norm else []
        if len(toks) < 3:
            return (0, 0, 0.0)
        c = Counter(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )
        n = sum(c.values())
        return (n, max(c.values()), round((n - len(c)) / n, 6))

    rows = [
        (0, "spam spam spam spam spam spam"),   # one trigram repeated
        (1, "all distinct words here now"),      # zero repetition
        (2, "ab cd"),                            # too short -> zero row
        (3, ""),                                 # empty
        (4, "Tick TOCK tick tock tick tock"),    # case-folds to repeats
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.doc_repetition(docs).collect()}
    for did, text in rows:
        n, mx, frac = expect(text)
        r = got[did]
        assert (r.n_grams, r.max_gram_count, r.dup_gram_frac) == (n, mx, frac), (
            did,
            text,
        )
    # hand-derived: doc 0 has 4 trigrams, all "spam spam spam"
    assert (got[0].n_grams, got[0].max_gram_count, got[0].dup_gram_frac) == (
        4,
        4,
        0.75,
    )

    corpus = load_table(spark, sf_dir, "documents")
    out = {r.doc_id: r for r in textops.doc_repetition(corpus).collect()}
    for row in corpus.select("doc_id", "text").collect():
        n, mx, frac = expect(row.text)
        r = out[row.doc_id]
        assert (r.n_grams, r.max_gram_count, r.dup_gram_frac) == (n, mx, frac)


def test_doc_repetition_queued_oracle_dress_rehearsal(spark, sf_dir):
    """Dress rehearsal for the QUEUED doc_repetition oracle
    (registry.queued_oracle_sql, second in line behind
    semantic_decontamination — the r12-retired trigram twin resurrected
    r18 to keep the queue ≥2 deep after the knn_join_l2 promotion):
    the engine's trigram statistics and the DuckDB twin must agree row
    for row at sf0.001 under the driver's sorted-columns value
    comparison."""
    import duckdb

    import __spark_entry__ as em
    from cs598vectordb_spark.registry import queued_oracle_sql

    sql = queued_oracle_sql()["doc_repetition"]
    sdf = em.queries()["doc_repetition"](spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows) and len(srows) > 0

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])

        def c(v):
            return f"{v:.6f}" if isinstance(v, float) else str(v)

        return sorted(tuple(c(r[i]) for i in order) for r in rows)

    assert canon(srows, scols) == canon(drows, dcols)


def test_dsir_queued_oracle_matches_duckdb(spark, sf_dir):
    """End-to-end value verification of the QUEUED DSIR oracle
    (registry.queued_oracle_sql, VERDICT r11 item 6): the Spark
    operator and the DuckDB twin — features re-derived relationally,
    buckets joined from the engine's exported (feature → bucket)
    parquet — must agree row for row at sf0.001, the same
    sorted-columns value comparison the driver's gate applies. This is
    the promotion gate's dress rehearsal; the registered entry stays
    rows-only until a grading slot frees."""
    import duckdb

    from cs598vectordb_spark.queries_text import (
        _export_dsir_bucket_map,
        dsir_oracle_sql,
        q_dsir_logweights,
    )

    sdf = q_dsir_logweights(spark, sf_dir)
    path = _export_dsir_bucket_map(spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    res = con.execute(dsir_oracle_sql(path))
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows) and len(srows) > 0

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])

        def c(v):
            return f"{v:.6f}" if isinstance(v, float) else str(v)

        return sorted(tuple(c(r[i]) for i in order) for r in rows)

    assert canon(srows, scols) == canon(drows, dcols)


def test_minhash_signatures_value_exact(spark, sf_dir):
    """Value-exact pin for the ORACLE-RETIRED-r13 minhash_signatures
    entry (shared-oracle class: its SQL is the literal `sigs` CTE
    embedded verbatim in the minhash_lsh_dedup / dedup_clusters /
    jaccard_topk oracles, which remain graded): every one of the k=16
    signature values recomputed independently in pure Python — same
    normalization (lower + whitespace split), first-occurrence-distinct
    3-gram shingles, Horner base-31 rolling hash mod 1e9+7, affine
    (a·h+b) mod 2^31−1 minhash — on the constructed duplicate set AND
    the first 20 fixture documents."""
    from cs598vectordb_spark.functions.text import MINHASH_PRIME, ROLLING_MOD

    params = dedup.minhash_params(16)

    def py_sig(text: str) -> list[int | None]:
        toks = (text or "").lower().split()
        grams = (
            list(dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)))
            if len(toks) >= 3
            else []
        )
        hs = []
        for g in grams:
            acc = 0
            for ch in g:
                acc = (acc * 31 + ord(ch)) % ROLLING_MOD
            hs.append(acc)
        if not hs:
            return [None] * len(params)
        return [min((h * a + b) % MINHASH_PRIME for h in hs) for a, b in params]

    for docs in (
        _docs_with_dups(spark),
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20),
    ):
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        got = {
            r.doc_id: [r[f"mh_{i}"] for i in range(16)]
            for r in dedup.minhash_signatures(docs, 16).collect()
        }
        assert set(got) == set(texts)
        for did, text in texts.items():
            assert got[did] == py_sig(text), (did, text)


def test_simhash_banded_value_exact(spark, sf_dir):
    """Value-exact pin for the ORACLE-RETIRED-r13 simhash_banded entry
    (near-duplicate-evidence class: simhash_near_dups — still graded —
    shares the identical signature CTEs; this entry differs only by
    threshold/banding, and the pigeonhole equivalence is separately
    pinned by test_banded_simhash_equals_exhaustive). Signatures
    recomputed bit-for-bit in pure Python (md5-first-8-bytes token
    hash, count-weighted bit votes, two's-complement int64), the pair
    set recomputed exhaustively at Hamming ≤ 3."""
    import hashlib

    def py_simhash(text: str) -> int:
        toks = (text or "").lower().split()
        if not toks:
            return 0
        votes = [0] * 64
        for t in toks:
            v = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for b in range(64):
                votes[b] += 1 if (v >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    local = _docs_with_dups(spark)
    fixture = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    for docs in (local, fixture):
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        exp_sig = {did: py_simhash(t) for did, t in texts.items()}
        got_sig = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
        assert got_sig == exp_sig

    # pair set: exhaustive Hamming ≤ 3 over the Python signatures must
    # equal the banded engine output (the registered query's config)
    texts = {r.doc_id: r.text for r in local.select("doc_id", "text").collect()}
    exp_sig = {did: py_simhash(t) for did, t in texts.items()}
    ids = sorted(exp_sig)
    exp_pairs = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin((exp_sig[a] ^ exp_sig[b]) & ((1 << 64) - 1)).count("1")
            if ham <= 3:
                exp_pairs[(a, b)] = ham
    got_pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_banded_pairs(local, max_hamming=3, n_bands=4).collect()
    }
    assert exp_pairs, "constructed set must contain a near-dup pair"
    assert got_pairs == exp_pairs


def test_exact_substring_hatches(spark, sf_dir):
    """The flag-gated 100 TB hatches (r13): the 128-bit two-multiplier
    window hash and the salted two-level skew-safe aggregate must both
    produce output IDENTICAL to the default 64-bit window form — at
    fixture scale and on a synthetic boilerplate corpus where one
    k-gram appears in EVERY document (the hot-key case the skew hatch
    exists for) — and the skew-safe plan must contain no Window
    operator (the skewed gram key never becomes a window partition or
    join key)."""
    from tests.test_plans import plan_of

    boiler = "shared boiler plate sentence that repeats in every single document here"
    rows = [
        (i, f"unique words number {i} " * 3 + boiler + f" tail {i}")
        for i in range(30)
    ]
    hot = spark.createDataFrame(rows, "doc_id long, text string")
    fixture = load_table(spark, sf_dir, "documents")

    for docs in (hot, fixture):
        base = {
            r.doc_id: (r.n_kgrams, r.n_shared, r.shared_frac)
            for r in textops.exact_substring_stats(docs, k=10).collect()
        }
        assert base, "default form returned nothing"
        for kw in (
            dict(hash_bits=128),
            dict(skew_safe=True),
            dict(hash_bits=128, skew_safe=True),
        ):
            got = {
                r.doc_id: (r.n_kgrams, r.n_shared, r.shared_frac)
                for r in textops.exact_substring_stats(docs, k=10, **kw).collect()
            }
            assert got == base, kw

    # the hot corpus actually exercises sharing, and the skew-safe plan
    # has no Window operator
    hot_stats = {r.doc_id: r.n_shared for r in
                 textops.exact_substring_stats(hot, k=10).collect()}
    assert all(v > 0 for v in hot_stats.values())
    plan = plan_of(textops.exact_substring_stats(hot, k=10, skew_safe=True))
    assert "Window" not in plan, plan


def test_exact_substring_queued_oracle(spark, sf_dir):
    """Dress rehearsal for the exact_substring_stats oracle (PROMOTED
    r14; graded live since): the engine's hash-keyed window stats
    must match the DuckDB literal-string k-gram recomputation row for
    row at sf0.001 — verifying both the window semantics and that the
    64-bit positional hash introduced no collisions at this scale."""
    import duckdb

    import __spark_entry__ as em

    sdf = em.queries()["exact_substring_stats"](spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    res = con.execute(em.oracle_sql()["exact_substring_stats"])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows) and len(srows) > 0

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])

        def c(v):
            return f"{v:.6f}" if isinstance(v, float) else str(v)

        return sorted(tuple(c(r[i]) for i in order) for r in rows)

    assert canon(srows, scols) == canon(drows, dcols)


# ---------------------------------------------------------------- r18
# focused pins for the r18 optimization-round internal changes: each
# asserts the optimized form is ROW-IDENTICAL to the formulation it
# replaced (OPTIMIZATION_r18.md).


def _banded_string(sigs, bands, rows, id_col="doc_id"):
    """`_banded`'s string-key form (concat_ws of the band's values), under
    the shared contract that empty-signature rows are dropped first."""
    sigs = sigs.filter(F.col("mh_0").isNotNull())
    band_cols = []
    for b in range(bands):
        sig = F.concat_ws(
            "-",
            *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)],
        )
        band_cols.append(F.struct(F.lit(b).alias("band"), sig.alias("sig")))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bs")
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _band_pairs(banded):
    """The candidate-pair set of a (doc_id, band, sig) table."""
    a, b = banded.alias("a"), banded.alias("b")
    return {
        (r.doc_a, r.doc_b)
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .collect()
    }


def test_banded_packed_key_matches_string_key(spark, sf_dir):
    """_banded's int64-packed band signature (r18) must bucket exactly
    like the concat_ws string key it replaced: same candidate-pair set
    on the real fixture (base-P positional packing is injective for
    rows <= 2 at the 2^31-1 prime) — PLUS planted short docs (<3
    tokens -> empty shingle set -> all-null signature), which the r19
    explicit empty-signature filter must drop from BOTH key forms
    (the old string key collapsed all-null bands to "" and bucketed
    every short doc together; the DuckDB twins' null-propagating ||
    never emitted pairs for them)."""
    docs = load_table(spark, sf_dir, "documents").unionByName(
        spark.createDataFrame(
            [(2_000_001, "tiny", "en"), (2_000_002, "two words", "en"),
             (2_000_003, "", "en"), (2_000_004, None, "en")],
            "doc_id long, text string, lang string",
        ),
        allowMissingColumns=True,
    )
    sigs = dedup.minhash_signatures(docs, 16).cache()
    try:
        packed = _band_pairs(dedup._banded(sigs, 8, 2))
        stringy = _band_pairs(_banded_string(sigs, 8, 2))
    finally:
        sigs.unpersist()
    assert packed == stringy and len(packed) > 0
    # empty-signature docs form no pairs in either key form
    shorts = {2_000_001, 2_000_002, 2_000_003, 2_000_004}
    assert not any(a in shorts or b in shorts for a, b in packed)


_sig_row = st.one_of(
    st.none(),  # an empty shingle set: every mh_i NULL
    st.lists(st.integers(0, 3), min_size=8, max_size=8),
    st.lists(
        st.integers(dedup.MINHASH_PRIME - 3, dedup.MINHASH_PRIME - 1),
        min_size=8,
        max_size=8,
    ),
)


@given(st.lists(_sig_row, min_size=1, max_size=30), st.sampled_from([(4, 2), (8, 1)]))
@settings(max_examples=8, deadline=None)
def test_banded_packed_key_matches_string_key_generated(spark, rows, shape):
    """`_banded`'s packed int64 keys against the string keys on generated
    signatures: all-NULL rows, and values from a few-value alphabet at
    both ends of [0, MINHASH_PRIME), so bands repeat within and across
    documents. The candidate-pair sets are equal."""
    bands, per_band = shape
    cols = ", ".join(f"mh_{i} long" for i in range(8))
    sigs = spark.createDataFrame(
        [(i, *(r if r is not None else [None] * 8)) for i, r in enumerate(rows)],
        f"doc_id long, {cols}",
    )
    packed = _band_pairs(dedup._banded(sigs, bands, per_band))
    assert packed == _band_pairs(_banded_string(sigs, bands, per_band))
    assert not any(rows[a] is None or rows[b] is None for a, b in packed)


def test_empty_signature_is_all_null_and_never_banded(spark):
    """On one seeded generated frame — NULL, "", whitespace-only (incl.
    Unicode spaces), one- and two-token, non-ASCII and ordinary texts —
    every minhash signature is all-NULL or NULL-free, `mh_0 IS NULL`
    holds exactly for docs with fewer than 3 tokens, and `_banded`
    emits no row for those docs and every band for the rest, in both
    key forms (packed at rows=2, string at rows=4)."""
    import random
    from collections import Counter

    rng = random.Random(19)
    words = ["spark", "index", "a", "to", "naïve", "straße", "日本語", "İstanbul", "🙂"]
    spaces = [" ", "  ", "\t", "\n", "\u3000", "\xa0", "\u2003"]

    def text(kind):
        if kind < 2:  # NULL, ""
            return [None, ""][kind]
        # whitespace-only, 1 and 2 tokens, ordinary, non-ASCII only
        n = [0, 1, 2, rng.randint(3, 12), rng.randint(1, 6)][kind - 2]
        toks = rng.choices(words[4:] if kind == 6 else words, k=n)
        return rng.choice(spaces) + "".join(t + rng.choice(spaces) for t in toks)

    rows = [(i, text(i % 7)) for i in range(350)]
    empty = {i for i, t in rows if len((t or "").lower().split()) < 3}
    assert 0 < len(empty) < len(rows)

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, 16)
    got = {r.doc_id: [r[f"mh_{i}"] for i in range(16)] for r in sigs.collect()}
    assert set(got) == {i for i, _ in rows}
    for did, mh in got.items():
        assert sum(v is None for v in mh) in (0, 16), (did, mh)
        assert (mh[0] is None) == (did in empty), (did, rows[did][1])
    for bands, per_band in ((8, 2), (4, 4)):
        n = Counter(r.doc_id for r in dedup._banded(sigs, bands, per_band).collect())
        assert n == {i: bands for i in got if i not in empty}


def test_curate_corpus_matches_join_composition(spark, sf_dir):
    """curate_corpus's r18 inline-projection plan (2 scans, 1 semi-join)
    must reproduce the old 4-scan join composition row for row."""
    from cs598vectordb_spark.operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    langs, min_quality = ("en", "es", "de"), 0.5
    q = textops.quality_scores(docs).select("doc_id", "quality", "n_tokens")
    canon = dedup_exact(docs).select(F.col("canonical_id").alias("doc_id"))
    s = textops.hash_split(docs).select("doc_id", "split")
    kept = (
        docs.select("doc_id", "lang")
        .filter(F.col("lang").isin(list(langs)))
        .join(canon, "doc_id")
        .join(q, "doc_id")
        .filter(F.col("quality") >= min_quality)
        .join(s, "doc_id")
    )
    old = {
        (r.split, r.lang): (r.n_docs, r.total_tokens, r.avg_quality)
        for r in kept.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .collect()
    }
    new = {
        (r.split, r.lang): (r.n_docs, r.total_tokens, r.avg_quality)
        for r in textops.curate_corpus(docs).collect()
    }
    assert new == old and len(new) > 0


def test_dsir_totals_closed_form_size(spark):
    """The r18 totals shortcut — size(unigrams+bigrams) == n + max(n-1,
    0) over the token count — on the edge cases: empty text, one token,
    two tokens, many tokens, null text."""
    from cs598vectordb_spark.operators.textops import (
        _dsir_feats_expr,
        _dsir_token_col,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, "a b c d e"), (4, None)],
        "doc_id long, text string",
    )
    mid = docs.select("doc_id", _dsir_token_col("text"))
    nt = F.size(F.col("_ws"))
    rows = mid.select(
        "doc_id",
        F.size(_dsir_feats_expr()).alias("built"),
        (nt + F.greatest(nt - F.lit(1), F.lit(0))).alias("closed"),
    ).collect()
    for r in rows:
        assert r.built == r.closed, (r.doc_id, r.built, r.closed)


def test_dedup_clusters_deep_chain(spark):
    """A 5-link similarity chain (component diameter > 2) must collapse
    to one cluster — exercises propagation rounds BEYOND the collapsed
    round 0 (r18: init+round-0 folded into one aggregation), where the
    path-halving label-of-label hop does the work."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    words = base.split()
    rows = [(0, base, "en")]
    # doc i replaces the first i words -> adjacent docs are similar,
    # distant docs are not (Jaccard decays along the chain)
    for i in range(1, 6):
        edited = " ".join([f"w{j}x" for j in range(i)] + words[i:])
        rows.append((i, edited, "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.dedup_clusters(docs, threshold=0.5).collect()
    }
    assert all(out[i] == (0, 6) for i in range(6)), out


def _edge_docs(spark):
    """Docs exercising every tokenizer edge: NULL text, empty text,
    whitespace-only, single token, repeated tokens, multi-space runs."""
    return spark.createDataFrame(
        [
            (1, "The cat sat on the the mat", "en"),
            (2, "", "en"),
            (3, None, "en"),
            (4, "one", "es"),
            (5, "a b a b a", "en"),
            (6, "  spaced   out  ", "de"),
            (7, "\t tabs\nand newlines \t", "en"),
        ],
        "doc_id long, text string, lang string",
    )


def test_term_counts_kernel_matches_explode(spark, sf_dir):
    """The r19 Arrow term-count kernels (functions/tokenstream) must be
    row-identical to the explode + groupBy-per-token forms they
    replaced, on the real fixture AND on tokenizer edge docs (NULL
    text, empty text -> the unfiltered split's empty-string token,
    whitespace-only, single-token)."""
    from cs598vectordb_spark.functions.text import normalize_ws, tokens
    from cs598vectordb_spark.functions.tokenstream import (
        feature_counts,
        term_counts,
    )

    for docs in (load_table(spark, sf_dir, "documents"), _edge_docs(spark)):
        # bm25's unfiltered path: empty docs keep their "" token
        arr = tokens(normalize_ws(F.col("text")))
        new = term_counts(
            docs.select("doc_id", arr.alias("_ws")), ["doc_id"], "_ws"
        )
        old = (
            docs.select("doc_id", F.explode(arr).alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        got = sorted(tuple(r) for r in new.collect())
        want = sorted(tuple(r) for r in old.collect())
        assert got == want and len(got) > 0
        # nullability may differ (kernel DDL declares nullable); names
        # and types must not
        assert [(f.name, f.dataType) for f in new.schema] == [
            (f.name, f.dataType) for f in old.schema
        ]

        # dsir's unigram+bigram feature family
        mid = docs.select(
            "doc_id", (F.col("lang") == "en").alias("_is_t"),
            textops._dsir_token_col("text"),
        )
        newf = feature_counts(mid, ["doc_id", "_is_t"], "_ws")
        oldf = (
            mid.select(
                "doc_id", "_is_t",
                F.explode(textops._dsir_feats_expr()).alias("feat"),
            )
            .groupBy("doc_id", "_is_t", "feat")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        gotf = sorted(
            tuple(r) for r in newf.collect()
        )
        wantf = sorted(tuple(r) for r in oldf.collect())
        assert gotf == wantf and len(gotf) > 0
        assert [(f.name, f.dataType) for f in newf.schema] == [
            (f.name, f.dataType) for f in oldf.schema
        ]


def test_dsir_kernel_matches_explode_form(spark, sf_dir):
    """dsir_logweights' r19 kernel formulation (one feature_counts pass
    + combined bucket rollup + feat-level weighted sum) must reproduce
    the r18 three-branch explode formulation row for row on the real
    fixture plus edge docs appended."""
    docs = load_table(spark, sf_dir, "documents").unionByName(
        _edge_docs(spark).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
        ),
        allowMissingColumns=True,
    )
    n_buckets, id_col = 10_000, "doc_id"
    target = F.col("lang") == "en"

    # --- the r18 formulation, reconstructed inline ---
    mid = docs.select(
        F.col(id_col), target.alias("_is_t"), textops._dsir_token_col("text")
    )
    nt = F.size(F.col("_ws"))
    n_feats_row = nt + F.greatest(nt - F.lit(1), F.lit(0))
    totals = mid.agg(
        F.coalesce(F.sum(n_feats_row), F.lit(0)).alias("raw"),
        F.coalesce(
            F.sum(F.when(F.col("_is_t"), n_feats_row).otherwise(0)), F.lit(0)
        ).alias("tgt"),
    ).collect()[0]
    t_raw, t_tgt = int(totals["raw"]), int(totals["tgt"])
    exploded = mid.select(
        F.col(id_col), F.col("_is_t"),
        F.explode(textops._dsir_feats_expr()).alias("feat"),
    ).select(
        id_col, "_is_t",
        F.pmod(F.xxhash64("feat"), F.lit(n_buckets)).alias("bucket"),
    )
    per_doc = exploded.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    raw_b = exploded.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_b = (
        exploded.filter("_is_t").groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    w = raw_b.join(tgt_b, "bucket", "left").select(
        "bucket",
        (
            F.log(F.coalesce(F.col("c_tgt"), F.lit(0)).cast("double") + 1.0)
            - F.log(F.lit(float(t_tgt + n_buckets)))
            - F.log(F.col("c_raw").cast("double") + 1.0)
            + F.log(F.lit(float(t_raw + n_buckets)))
        ).alias("w"),
    )
    per = (
        per_doc.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c").cast("double") * F.col("w")).alias("_lw"),
        )
    )
    old = (
        docs.select(id_col, target.alias("is_target"))
        .join(per, id_col, "left")
        .select(
            id_col,
            "is_target",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.round(F.coalesce(F.col("_lw"), F.lit(0.0)), 4).alias(
                "log_weight"
            ),
        )
    )

    want = sorted(tuple(r) for r in old.collect())
    got = sorted(
        tuple(r)
        for r in textops.dsir_logweights(docs, target).collect()
    )
    assert got == want and len(got) > 0


def test_shingle_chunking_row_identity(spark, monkeypatch):
    """shingle_hashes re-slices each Arrow batch into
    SHINGLE_CHUNK_ROWS-row yields (r19 pipelining fix; the memo cache
    spans chunks within a task). Row identity must hold across the
    chunk boundary: a >1-chunk corpus hashed with the shipped chunk
    size equals the same corpus hashed in one unbounded chunk."""
    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon token"),
            F.col("id").cast("string"),
            F.lit(" zeta eta theta"),
        ).alias("text"),
    ).coalesce(1)  # one partition -> one task sees all 3000 rows

    assert dedup.SHINGLE_CHUNK_ROWS < 3000
    chunked = {
        r["doc_id"]: r["hashes"]
        for r in dedup.shingle_hashes(docs).collect()
    }
    monkeypatch.setattr(dedup, "SHINGLE_CHUNK_ROWS", 1 << 30)
    unchunked = {
        r["doc_id"]: r["hashes"]
        for r in dedup.shingle_hashes(docs).collect()
    }
    assert chunked == unchunked and len(chunked) == 3000


_shingle_ws = st.sampled_from([" ", "  ", "\t", "\n", "\u3000", "\xa0"])
_shingle_word = st.sampled_from(["spark", "Spark", "a", "naïve", "straße", "日本語", "İstanbul", "🙂"])
_shingle_text = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_shingle_ws, min_size=1, max_size=3).map("".join),  # whitespace only
    st.lists(st.tuples(_shingle_word, _shingle_ws), max_size=10).map(
        lambda parts: "".join(w + s for w, s in parts)
    ),
)


@given(st.lists(_shingle_text, min_size=1, max_size=25), st.sampled_from([1, 3, 7]))
@settings(max_examples=10, deadline=None)
def test_shingle_hashes_match_rolling_hash_reference(spark, texts, chunk):
    """shingle_hashes against a pure-Python left-to-right rolling hash
    (acc = (acc·31 + codepoint) mod ROLLING_MOD per 3-gram shingle, in
    first-occurrence order) on generated NULL, empty, whitespace-only,
    non-ASCII and repeated-token text. SHINGLE_CHUNK_ROWS is shrunk so
    one task's rows straddle chunk boundaries, and repeated shingles
    hit the task-wide memo in later chunks."""
    import pytest

    def reference(text):
        toks = (text or "").lower().split()
        grams = dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
        out = []
        for g in grams:
            acc = 0
            for ch in g:
                acc = (acc * 31 + ord(ch)) % dedup.ROLLING_MOD
            out.append(acc)
        return out

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string").coalesce(1)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "SHINGLE_CHUNK_ROWS", chunk)
        got = {r["doc_id"]: r["hashes"] for r in dedup.shingle_hashes(docs).collect()}
    assert got == {i: reference(t) for i, t in enumerate(texts)}
