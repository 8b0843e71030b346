"""Text-analysis table operators (language ID, quality scoring, token
stats, fingerprinting) over the documents table.

Per-row projections only — no shuffle except the final group-bys. These
are the text half of the LLM-data-pipeline surface (the north star's
"text analysis" bucket): expressions are Catalyst-codegen'd, EXCEPT
where measurement said otherwise — repetition_scores' Counter math
runs as one Arrow kernel because Catalyst higher-order functions are
interpreted per element (3 → 23.5 MB/s, r12). The DuckDB oracle
mirrors each formula either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs598vectordb_spark.config import ORACLE_ROUND
from cs598vectordb_spark.functions.text import (
    LANG_MARKERS,
    alpha_ratio,
    lang_score,
    normalize_ws,
    punct_ratio,
    rolling_hash,
    token_count,
    tokens,
)


def _r(c: F.Column) -> F.Column:
    return F.round(c, ORACLE_ROUND)


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document token/char statistics."""
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        token_count("text").alias("n_tokens"),
        _r(F.length("text").cast("double") / F.greatest(token_count("text"), F.lit(1))).alias(
            "avg_token_len"
        ),
    )


def quality_columns(text_col: str = "text") -> list[F.Column]:
    """The quality-score projection as named column expressions, so a
    composing pipeline (curate_corpus) can evaluate them inline on its
    own scan instead of joining quality_scores' output back by doc_id."""
    n_tok = token_count(text_col)
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    composite = _r(
        0.4 * len_score
        + 0.4 * alpha_ratio(text_col)
        + 0.2 * (1.0 - punct_ratio(text_col))
    )
    return [
        n_tok.alias("n_tokens"),
        _r(punct_ratio(text_col)).alias("punct_ratio"),
        _r(alpha_ratio(text_col)).alias("alpha_ratio"),
        composite.alias("quality"),
    ]


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality components + composite score in [0,1]:
    rewards mid-length docs, alphabetic content, and sane punctuation —
    the standard cheap pre-filter before expensive model-based scoring."""
    return docs.select("doc_id", *quality_columns("text"))


def lang_detect(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: argmax over per-language stopword hit
    counts, 'und' (undetermined) when all scores are zero. Deterministic
    argmax: ties broken by language code order."""
    scored = docs.select(
        "doc_id",
        "lang",
        *[lang_score("text", lg).alias(f"score_{lg}") for lg in sorted(LANG_MARKERS)],
    )
    # greatest + chained when() = deterministic argmax by (score desc, lang asc)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):
        pred = F.when((best > 0) & (F.col(f"score_{lg}") == best), lg).otherwise(pred)
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("detected_lang"),
        *[F.col(f"score_{lg}") for lg in langs],
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Two deterministic fingerprints per doc: md5 of normalized text
    (exact-dup key) and the polynomial rolling hash (cheap int64 key)."""
    return docs.select(
        "doc_id",
        F.md5(normalize_ws(F.col("text"))).alias("md5_fp"),
        rolling_hash("text").alias("rolling_fp"),
    )


def source_summary(docs: DataFrame) -> DataFrame:
    """Corpus composition by source: doc counts, char volume, language
    spread — the pipeline-health dashboard query."""
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        _r(F.avg("n_chars")).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("first_doc"),
    )


# hash_split's defaults, shared by curate_corpus and the oracle twins'
# _duck_split fragment (ADVICE r18: curate_corpus hard-coded these as
# literals, so a drift here would have silently diverged the inlined
# split from the operator it claims to reproduce)
SPLIT_SALT = "s1"
SPLIT_WEIGHTS = {"train": 80, "val": 10, "test": 10}


def hash_split(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    salt: str = SPLIT_SALT,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bucket, split): deterministic train/val/test assignment by
    hashing the document ID (+ a salt) into 100 buckets and slicing by the
    cumulative weights — the standard reproducible dataset split for a
    training pipeline. Keyed on the ID, not the content, so a later text
    re-crawl keeps every doc in its split; changing the salt re-rolls all
    assignments at once. Pure per-row projection, no shuffle, and the
    same polynomial hash formula is evaluated by the DuckDB oracle."""
    weights = weights or dict(SPLIT_WEIGHTS)
    assert sum(weights.values()) == 100, "weights must sum to 100"
    return (
        docs.select(F.col(id_col), split_key_column(id_col, salt))
        .select(F.col(id_col), split_bucket_column().alias("bucket"))
        .select(
            id_col, "bucket", split_case_column(F.col("bucket"), weights).alias("split")
        )
    )


def split_key_column(id_col: str, salt: str = SPLIT_SALT) -> F.Column:
    """The `id#salt` fingerprint key hash_split hashes, as a column
    aliased `_split_key` — MATERIALIZE this in a select, then apply
    split_bucket_column() one projection later: rolling_hash embeds its
    input column NAME in a higher-order expression that re-references
    it per character, so an inline concat would be re-evaluated per
    character (the free-expression-in-HOF pitfall _dsir_token_col's
    docstring records). id_col and salt are interpolated into SQL text
    downstream, so both are restricted to identifier-safe characters
    (ADVICE r18: a quote in the salt would break or inject into the
    expression)."""
    import re as _re

    assert _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", id_col), id_col
    assert _re.fullmatch(r"[A-Za-z0-9_]+", salt), salt
    return F.concat(
        F.col(id_col).cast("string"), F.lit(f"#{salt}")
    ).alias("_split_key")


def split_bucket_column(key_col: str = "_split_key") -> F.Column:
    """hash_split's bucket (rolling hash of the materialized
    `_split_key` column mod 100) — the same formula hash_split
    evaluates, exposed so composing pipelines (curate_corpus) can
    compute the split inline without a self-join."""
    import re as _re

    assert _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", key_col), key_col
    return (rolling_hash(key_col) % 100).cast("int")


def split_case_column(bucket: F.Column, weights: dict[str, int]) -> F.Column:
    """The cumulative-weight bucket→split CASE expression (insertion
    order of `weights` defines the slices, as in hash_split)."""
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    parts: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, start_offset, seq_id, n_seqs): GPT-style sample
    packing — concatenate all documents in doc_id order and chunk the
    token stream into fixed seq_len training sequences. Each doc learns
    its global token start offset, the sequence it starts in, and how
    many sequences it spans.

    The global prefix sum is computed WITHOUT a single-partition window
    (the classic cumsum scale trap): doc ids are range-blocked into
    ~`parts` blocks, per-block token totals (tiny — one row per block)
    come to the driver for an exact prefix, and each block then computes
    its local cumulative sum in parallel. Two shuffles on the block key,
    nothing ever funnels through one task — the distributed prefix-sum
    pattern that survives 100 TB. The oracle states the same thing as one
    ANSI window cumsum."""
    d = docs.select(F.col(id_col), token_count("text").alias("n_tokens"))
    max_id = d.agg(F.max(id_col)).first()[0]
    if max_id is None:
        return d.select(
            id_col,
            "n_tokens",
            F.lit(0).cast("long").alias("start_offset"),
            F.lit(0).cast("long").alias("seq_id"),
            F.lit(0).cast("long").alias("n_seqs"),
        ).limit(0)
    block_size = max(1, (int(max_id) + parts) // parts)
    d = d.withColumn("_block", F.floor(F.col(id_col) / F.lit(block_size)).cast("long"))
    totals = {
        r["_block"]: r["t"]
        for r in d.groupBy("_block").agg(F.sum("n_tokens").alias("t")).collect()
    }
    prefix, acc = {}, 0
    for b in sorted(totals):
        prefix[b] = acc
        acc += totals[b]
    prefix_col = F.element_at(
        F.create_map(
            *[F.lit(x).cast("long") for b in sorted(prefix) for x in (b, prefix[b])]
        ),
        F.col("_block"),
    )
    w = (
        Window.partitionBy("_block")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (prefix_col + F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    out = d.withColumn("start_offset", start).select(
        id_col,
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / F.lit(seq_len)).alias("seq_id"),
        (
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / F.lit(seq_len))
            - F.floor(F.col("start_offset") / F.lit(seq_len))
            + 1
        ).alias("n_seqs"),
    )
    return out


def stratified_sample(
    docs: DataFrame,
    quota: int = 50,
    salt: str = "smp",
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, lang, sample_rank): exact per-stratum quota sampling —
    every language contributes exactly min(quota, |stratum|) documents,
    chosen by ranking on a salted hash of the id. Deterministic (same
    salt → same sample, new salt → fresh draw), unlike df.sample()'s
    partition-dependent Bernoulli. One window shuffle keyed by the
    stratum; quota rows per stratum survive — the standard balanced-
    training-mix draw."""
    key = F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))
    ranked = docs.select(
        F.col(id_col), F.col(strat_col), key.alias("_key")
    ).withColumn("_h", rolling_hash("_key"))
    w = Window.partitionBy(strat_col).orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        ranked.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
        .select(id_col, strat_col, "sample_rank")
    )


def pii_redact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_phones, clean_md5): PII scrubbing —
    the compliance pass every public-corpus pipeline runs before
    training. Emails, IPv4 addresses, and phone-shaped digit runs are
    replaced with typed placeholders; the md5 of the redacted text plus
    per-kind counts face downstream checks. Pure Catalyst regexp
    (whole-stage codegen), no Python, no shuffle — a projection that
    scales like the scan itself. Redaction is STAGED (emails, then IPs,
    then phones) so a digit run inside an already-redacted span is
    never double-counted; counts are computed on the stage input that
    matches each kind."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
    phone = r"\+?\d[\d\s().-]{7,}\d"
    t = F.col(text_col)
    no_email = F.regexp_replace(t, email, "<EMAIL>")
    no_ip = F.regexp_replace(no_email, ipv4, "<IP>")
    clean = F.regexp_replace(no_ip, phone, "<PHONE>")
    return docs.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(email)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(ipv4)).alias("n_ipv4"),
        F.regexp_count(no_ip, F.lit(phone)).alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
    )


# Gopher §A1.1 repetition thresholds (Rae et al. 2021, Table A1)
GOPHER_TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def repetition_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    standard pretraining quality gate that removes boilerplate-heavy
    documents BEFORE expensive dedup/model scoring. Per document:

      - dup_sent_frac       fraction of sentence occurrences beyond
                            each sentence's first = (n - n_distinct)/n
                            (Gopher's duplicate-line fraction in the
                            RedPajama counting convention; the unit
                            here is the sentence — the single-line
                            web-text analog, and live on the fixture,
                            whose documents carry no newlines)
      - dup_sent_char_frac  fraction of sentence characters inside
                            duplicate occurrences beyond the first
                            (the CHARACTER twin — catches one huge
                            repeated block among many short uniques)
      - top_word_frac       most-frequent-word share of all words,
                            punctuation-stripped (the keyword-stuffing
                            signal; like every whitespace-token op
                            here, degenerate on unsegmented scripts)
      - top_{2,3,4}gram_char_frac
                            count(most frequent n-gram) × its word-char
                            length over total word chars (Gopher's top
                            n-gram character fractions; overlapping
                            occurrences can push the raw product past
                            the denominator, so the value is clamped
                            to 1.0 — both engines clamp identically)
      - dup_{5..10}gram_char_frac
                            fraction of word characters covered by at
                            least one occurrence of an n-gram that
                            occurs more than once (coverage is a
                            DISTINCT position set, so overlapping
                            duplicate grams never double-count a word)
      - repetitive          any filter over its Gopher threshold
                            (0.30 / 0.20 / 0.30 for the sentence/word
                            trio; Rae et al. Table A1 values for the
                            n-gram bank — GOPHER_*_THRESHOLDS above).
                            Top-gram thresholds require the top gram
                            to occur ≥ 2 times: Gopher pre-filters
                            docs under 50 words, and without that a
                            count-1 gram on a tiny doc trips on
                            arithmetic, not repetition (see the flag
                            comment below)

    Physical strategy (r12): the normalization and both tokenizations
    stay JVM-codegen regexps (the semantics anchor the DuckDB oracle
    shares), and the per-document Counter math runs in ONE Arrow
    `mapInPandas` kernel. This op used to be the showcase "pure
    Catalyst expression bank" (9 per-row sort_array + aggregate
    passes), but higher-order functions are INTERPRETED per element —
    never whole-stage-codegen — and the honest full-output-write
    measurement put that form at ~3 MB/s, the heaviest gate in the
    text bank by 5× (two cheaper JVM variants were measured first:
    hashing the gram keys changed nothing, a neighbor-check dup scan
    won 13% — the cost IS the interpreted HOF machinery, not the
    string work). The Arrow kernel measures 23.5 MB/s end to end at
    the kernel-bound 153 MB corpus (32 threads) — 7.7× — with values
    IDENTICAL column for column: the DuckDB oracle, the known-document
    pins, and the collections.Counter property test all gate the swap.
    Still zero shuffle, still scales like the scan; 100 TB is ~50
    node-days of a 32-core node — comparable to the rest of the text
    bank, no longer its 5× outlier.

    ORACLE PROMOTED r11: every column is closed-form over the word
    array, so DuckDB recomputes the full bank relationally
    (unnest → group → pivot) in queries_text.py."""
    from cs598vectordb_spark.config import ORACLE_ROUND

    # NULL text folds to the empty-string path (all-zero row, flag
    # false) — split(NULL) would otherwise yield size() = -1 and a NULL
    # flag that a downstream keep-filter silently drops
    norm = normalize_ws(F.coalesce(F.col(text_col), F.lit("")))
    sents = F.filter(
        F.transform(F.split(norm, r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    words = F.filter(
        F.split(norm, r"[^\p{L}\p{N}]+"), lambda w: F.length(w) > 0
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    base = docs.select(
        F.col(id_col), sents.alias("_sents"), words.alias("_words")
    )

    top_thr = dict(GOPHER_TOP_NGRAM_THRESHOLDS)
    dup_thr = dict(GOPHER_DUP_NGRAM_THRESHOLDS)
    rnd = ORACLE_ROUND
    cols = (
        [id_col, "n_sents", "n_words", "dup_sent_frac", "dup_sent_char_frac",
         "top_word_frac"]
        + [f"top_{n}gram_char_frac" for n in top_thr]
        + [f"dup_{n}gram_char_frac" for n in dup_thr]
        + ["repetitive"]
    )

    def kern(batches):
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        quantum = Decimal(1).scaleb(-rnd)

        def r(x: float) -> float:
            # mirrors Spark's round(double, n): HALF_UP on the
            # shortest decimal representation (Double.toString and
            # Python repr use the same shortest-round-trip rule)
            return float(Decimal(repr(x)).quantize(quantum, ROUND_HALF_UP))

        for pdf in batches:
            if not len(pdf):
                continue
            out = {c: [] for c in cols}
            for did, sl, wl in zip(pdf[id_col], pdf["_sents"], pdf["_words"]):
                sl, wl = list(sl), list(wl)
                n_s, n_w = len(sl), len(wl)
                wlens = [len(w) for w in wl]
                wchars = sum(wlens)
                sc = Counter(sl)
                schars = sum(len(s) for s in sl)
                dup_sent_frac = r((n_s - len(sc)) / max(n_s, 1))
                dup_sent_char_frac = r(
                    sum((c - 1) * len(s) for s, c in sc.items() if c > 1)
                    / max(schars, 1)
                )
                wc = Counter(wl)
                top_word_frac = r(
                    (max(wc.values()) if wc else 0) / max(n_w, 1)
                )
                vals = [did, n_s, n_w, dup_sent_frac, dup_sent_char_frac,
                        top_word_frac]
                # flag reads the ROUNDED values so boundary docs decide
                # identically in Spark and the DuckDB oracle
                flag = (
                    dup_sent_frac > 0.30
                    or dup_sent_char_frac > 0.20
                    or top_word_frac > 0.30
                )
                for n, thr in top_thr.items():
                    if n_w >= n:
                        gc = Counter(
                            tuple(wl[i : i + n]) for i in range(n_w - n + 1)
                        )
                        best = max(gc.values())
                        # count ties keep the lexicographically smallest
                        # gram — tuple order equals joined-string order
                        # here (words contain no chars below 0x20, so
                        # the ' ' separator sorts before any word char,
                        # i.e. prefix-first — and Python code-point
                        # order equals the UTF8-byte order Spark and
                        # DuckDB both compare by)
                        top = min(g for g, c in gc.items() if c == best)
                        chars = sum(len(w) for w in top)
                        frac = r(min(best * chars / max(wchars, 1), 1.0))
                    else:
                        best, frac = 0, 0.0
                    vals.append(frac)
                    # top-gram thresholds require the top gram to REPEAT
                    # (count ≥ 2): Gopher applies this bank after a
                    # ≥50-word filter, and without the gate a count-1
                    # gram on a tiny doc trips on arithmetic, not
                    # repetition
                    flag = flag or (frac > thr and best >= 2)
                for n, thr in dup_thr.items():
                    if n_w >= n:
                        grams = [
                            tuple(wl[i : i + n]) for i in range(n_w - n + 1)
                        ]
                        gc = Counter(grams)
                        cov = set()
                        for i, g in enumerate(grams):
                            if gc[g] > 1:
                                cov.update(range(i, i + n))
                        # coverage is a DISTINCT position set, so
                        # overlapping duplicate grams never double-count
                        frac = r(
                            sum(wlens[i] for i in cov) / max(wchars, 1)
                        )
                    else:
                        frac = 0.0
                    vals.append(frac)
                    flag = flag or frac > thr
                vals.append(bool(flag))
                for c, v in zip(cols, vals):
                    out[c].append(v)
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"{id_col} {id_type}", "n_sents int", "n_words int"]
        + [
            f"{c} double"
            for c in cols
            if c not in (id_col, "n_sents", "n_words", "repetitive")
        ]
        + ["repetitive boolean"]
    )
    return base.mapInPandas(kern, schema)


def mixture_sample(
    docs: DataFrame,
    total: int = 200,
    alpha: float = 0.5,
    salt: str = "mix",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(source, doc_id, mix_rank): temperature-scaled multi-source
    mixing — the training-mix draw multi-corpus pretraining uses
    (quota_s ∝ n_s^alpha: alpha=1 proportional, alpha→0 uniform across
    sources, 0<alpha<1 upweights small sources the way multilingual
    mixes do). Quotas use largest-remainder rounding to EXACTLY `total`
    (capped by stratum size); selection within a source ranks on
    md5(id#salt) — deterministic, engine-independent (md5 is shared
    with DuckDB, so the entry is oracle-promotable when a slot frees).
    The driver-side quota computation touches |sources| count rows —
    bounded metadata, never documents. One window shuffle keyed by
    source, exactly like stratified_sample."""
    counts = {
        r[source_col]: r["n"]
        for r in docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    weights = {s: n**alpha for s, n in counts.items()}
    z = sum(weights.values()) or 1.0
    # round to 9 decimals BEFORE floor/frac: float summation order for z
    # differs between engines (Python fold vs DuckDB blocked SUM), and an
    # unrounded raw a few ulps under an integer would flip floor() — the
    # DuckDB oracle applies the identical ROUND(, 9)
    raw = {s: round(total * w / z, 9) for s, w in weights.items()}
    quota = {s: min(int(raw[s]), counts[s]) for s in raw}
    # largest-remainder top-up to exactly `total` (feasible when the
    # corpus has >= total rows): ONE unit per source in descending
    # fractional-part order, cycling until the shortfall is gone —
    # a greedy lump to the first source would skew the mix
    short = total - sum(quota.values())
    order = sorted(raw, key=lambda s: (-(raw[s] - int(raw[s])), s))
    i = 0
    while short > 0 and any(counts[s] > quota[s] for s in quota):
        s = order[i % len(order)]
        if counts[s] > quota[s]:
            quota[s] += 1
            short -= 1
        i += 1

    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(s, q) for s, q in quota.items()], f"{source_col} string, _quota int"
    )
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt)))
    ranked = docs.select(F.col(source_col), F.col(id_col), key.alias("_h"))
    w = Window.partitionBy(source_col).orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        ranked.withColumn("mix_rank", F.row_number().over(w))
        .join(F.broadcast(qdf), source_col)
        .filter(F.col("mix_rank") <= F.col("_quota"))
        .select(source_col, id_col, "mix_rank")
    )


def corpus_topics(
    docs: DataFrame,
    embeddings: DataFrame,
    n_topics: int = 8,
    topk: int = 5,
    seed: int | None = None,
) -> DataFrame:
    """(topic_id, n_docs, rank, token, lift): the corpus MAP — embed-
    space k-means topics labeled by their most DISTINCTIVE tokens (the
    Nomic-Atlas / BERTopic-style exploration view a curation team uses
    to see what a crawl actually contains). Clusters come from the
    embedding table (distributed MLlib KMeans, seeded — doc_id and
    vec_id share an id space, FIXTURES.md); labels come from the text:
    per (topic, token), lift = P(token | topic) / P(token | corpus),
    smoothed, ranked per topic with deterministic (lift DESC, token
    ASC) ties. High-lift tokens are what the topic talks about that
    the corpus at large does not.

    The one cross-modal join in the text bank: vectors pick the
    blocks, tokens name them. Plan: KMeans fit + one broadcast-able
    (doc_id → topic) join + the tfidf-class two-pass token aggs + a
    per-topic top-k window (WindowGroupLimit). Rows-only (seeded
    KMeans assignment is engine-internal); structure + determinism
    pinned in tests/test_dedup_text.py::test_corpus_topics."""
    from cs598vectordb_spark.config import SEED
    from cs598vectordb_spark.operators.index import build_ivf_index_mllib

    idx = build_ivf_index_mllib(
        embeddings, nlist=n_topics, seed=SEED if seed is None else seed
    )
    assign = idx.assigned.select(
        F.col("vec_id").alias("doc_id"), F.col("centroid_id").alias("topic_id")
    )
    toks = (
        docs.join(assign, "doc_id")
        .select("topic_id", F.explode(tokens(normalize_ws(F.col("text")))).alias("token"))
        .filter(F.length("token") > 0)
    )
    per_topic = toks.groupBy("topic_id", "token").agg(F.count(F.lit(1)).alias("c_t"))
    corpus = per_topic.groupBy("token").agg(F.sum("c_t").alias("c_all"))
    topic_tot = per_topic.groupBy("topic_id").agg(F.sum("c_t").alias("n_topic"))
    total = int(corpus.agg(F.sum("c_all")).collect()[0][0] or 0)
    n_docs = assign.groupBy("topic_id").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        per_topic.join(F.broadcast(topic_tot), "topic_id")
        .join(corpus, "token")
        .select(
            "topic_id",
            "token",
            _r(
                (F.col("c_t").cast("double") / F.col("n_topic"))
                / ((F.col("c_all").cast("double") + 1.0) / float(max(total, 1) + 1))
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("topic_id").orderBy(F.col("lift").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .join(F.broadcast(n_docs), "topic_id")
        .select("topic_id", "n_docs", "rank", "token", "lift")
    )


def clean_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tags, n_entities, n_ctrl, clean_len, clean_md5): the
    CLEANING transform itself (the trafilatura-lite pass every web
    pipeline runs before quality scoring) — not a statistic: strip
    HTML-ish tags, unescape the five core entities (&amp; last, so
    '&amp;lt;' becomes the literal '&lt;' and never a tag), drop
    control characters, collapse whitespace. Per-kind counts ride
    along; the cleaned text faces tests (and a future oracle) through
    its md5, the chunk_documents trick for unsortable long strings.

    Staged regexp_replace chain — pure codegen projection, zero
    shuffle, scales like the scan; measured kernel rate ~87 MB/s at
    the kernel-bound 153 MB corpus (r12, full-output write, 32
    threads) — ~2.8 MB/s/core, so 100 TB is ~14 node-days: the cheap
    first gate the rest of the funnel should run behind. The stage
    ORDER is the semantics (tags before entities: '&lt;b&gt;' must not
    become a strippable tag). ORACLE PROMOTED r12 (the staged chain
    replayed stage for stage in DuckDB — queries_text.py);
    known-document pins in
    tests/test_dedup_text.py::test_clean_text_known_documents."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    tag = r"<[^>]+>"
    ctrl = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    n_tags = F.regexp_count(t, F.lit(tag))
    no_tags = F.regexp_replace(t, tag, " ")
    ent_pat = r"&(amp|lt|gt|quot|apos);"
    n_ents = F.regexp_count(no_tags, F.lit(ent_pat))
    unescaped = no_tags
    for pat, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        unescaped = F.replace(unescaped, F.lit(pat), F.lit(rep))
    n_ctrl = F.regexp_count(unescaped, F.lit(ctrl))
    no_ctrl = F.regexp_replace(unescaped, ctrl, " ")
    # collapse BEFORE trim: F.trim strips only ASCII spaces, so a doc
    # starting/ending with \n or \t would otherwise keep a stray edge
    # space after the collapse (review finding r11, verified live)
    clean = F.trim(F.regexp_replace(no_ctrl, r"\s+", " "))
    return docs.select(
        F.col(id_col),
        n_tags.alias("n_tags"),
        n_ents.alias("n_entities"),
        n_ctrl.alias("n_ctrl"),
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


def exact_substring_stats(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_bits: int = 64,
    skew_safe: bool = False,
    n_salts: int = 16,
) -> DataFrame:
    """(doc_id, n_kgrams, n_shared, shared_frac): per-document count of
    DISTINCT k-token windows that occur verbatim in at least one OTHER
    document — the ExactSubstr dedup signal (Lee et al. 2021: training
    data repeated verbatim across documents is memorization fuel, and
    near-dup methods tuned for whole-document similarity miss a long
    quote inside an otherwise-unique page). shared_frac is the
    fraction of the doc's distinct k-grams that are cross-document
    duplicates; a downstream pass can clip or drop flagged spans.

    Physical strategy (r12, second revision): tokenization stays a
    JVM-codegen regexp (the semantics anchor the pins share), and the
    k-gram windows are extracted by ONE Arrow `mapInPandas` kernel
    that emits (doc, window-hash) rows — a 64-bit polynomial hash of
    the window's pandas-siphashed tokens, vectorized in numpy. The
    first cut built gram STRINGS with an interpreted
    sequence→transform→array_join chain and shuffled them twice
    (agg + join-back): the honest full-output-write measurement put
    it at 3.97 MB/s on the 153 MB corpus, the slowest gate in the
    bank — the same interpreted-HOF tax repetition_scores paid before
    its r12 Arrow rewrite, plus ~70-byte string shuffle rows. The
    kernel form ships 16-byte (doc, long) rows and counts document
    frequency with a hash-keyed WINDOW over the single kernel output
    (no join-back, so the kernel is evaluated exactly once — plan
    pinned); measured 36 MB/s end to end on the same 153 MB corpus in
    the quiet-host bench record (9.6 MB/s under a fully saturated
    host) — 9× the string form at matched conditions, roughly half
    extraction kernel and half gh-window + doc rollup. 'Exact' survives the hash in the only sense that
    matters: tokens are hashed individually and combined positionally
    (distinct odd multipliers P^j mod 2^64), so two windows collide
    only by 64-bit accident (~n²/2⁶⁵ expected false-shares — ~10⁻⁴ at
    one BILLION distinct grams). Docs shorter than k emit nothing and
    keep a zero row via the left join.

    The two 100 TB hatches (designed r12, flag-gated code since r13;
    fixture-scale outputs pinned identical to the default in
    tests/test_dedup_text.py::test_exact_substring_hatches):

    * ``hash_bits=128`` — a second independent multiplier family
      (xxhash prime2) gives each window a (gh, gh2) pair; every
      downstream key is the pair, squaring the accidental-collision
      exponent (~n²/2¹²⁹) for corpora past a billion distinct grams.
    * ``skew_safe=True`` — replaces the df WINDOW with a salted
      two-level AGGREGATE. A boilerplate gram present in every
      document concentrates one window-partition key; the hatch
      first aggregates on (gh, salt = doc-hash mod n_salts) — map-side
      partial agg plus a reduce bounded to 1/n_salts of the hot key —
      then on gh alone (≤ n_salts rows per gram). The designed
      count-then-broadcast-join turned out unnecessary: a gram with
      df == 1 has exactly one owner doc, so per-doc UNIQUE counts come
      from min(doc) of the df==1 grams and n_shared = n_kgrams −
      n_unique — no join back on the (skewed) gram key at all, and the
      final rollups key on doc_id, which is uniform. Plan shape (no
      Window operator) asserted in the same test on a synthetic
      every-doc-shares-one-gram corpus."""
    # NULL text folds to the empty-token path (zero row) — without the
    # coalesce, _ws arrives in the kernel as None and len() raises
    # (repetition_scores guards identically; the replaced Catalyst form
    # fell through its size(NULL) >= k WHEN to the empty array)
    tok_expr = F.filter(
        tokens(normalize_ws(F.coalesce(F.col(text_col), F.lit("")))),
        lambda w: F.length(w) > 0,
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    base = docs.select(F.col(id_col), tok_expr.alias("_ws"))
    kk = int(k)

    wide = int(hash_bits) == 128

    def kern(batches):
        import numpy as np
        import pandas as pd

        # P odd => every multiplier P^j mod 2^64 is odd (invertible):
        # permuting or swapping tokens across positions always moves
        # the hash. Same constant family as splitmix64's increment.
        # Q (xxhash prime2, also odd) seeds the independent second
        # family for the 128-bit hatch.
        P = 0x9E3779B97F4A7C15
        Q = 0xC2B2AE3D27D4EB4F
        pows = np.array(
            [pow(P, j, 1 << 64) for j in range(kk)], dtype=np.uint64
        )
        pows2 = np.array(
            [pow(Q, j, 1 << 64) for j in range(kk)], dtype=np.uint64
        )
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [np.asarray(wl, dtype=object) for wl in pdf["_ws"]]
            lens = np.fromiter(
                (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
            )
            if not lens.size or int(lens.max()) < kk:
                continue
            # one siphash call for the whole batch's tokens, then
            # per-doc slices — hash_array's per-call overhead is the
            # batch's, not each document's
            th_all = pd.util.hash_array(np.concatenate(arrs))
            offs = np.concatenate(([0], np.cumsum(lens)))
            ids, hashes, hashes2 = [], [], []
            with np.errstate(over="ignore"):
                for i, did in enumerate(pdf[id_col]):
                    L = int(lens[i])
                    if L < kk:
                        continue
                    th = th_all[offs[i] : offs[i + 1]]
                    acc = th[: L - kk + 1] * pows[0]
                    for j in range(1, kk):
                        acc = acc + th[j : L - kk + 1 + j] * pows[j]
                    if wide:
                        acc2 = th[: L - kk + 1] * pows2[0]
                        for j in range(1, kk):
                            acc2 = acc2 + th[j : L - kk + 1 + j] * pows2[j]
                        # per-doc distinct on the PAIR
                        order = np.lexsort((acc2, acc))
                        a, a2 = acc[order], acc2[order]
                        keep = np.ones(len(a), dtype=bool)
                        keep[1:] = (a[1:] != a[:-1]) | (a2[1:] != a2[:-1])
                        gh, gh2 = a[keep], a2[keep]
                        hashes2.append(gh2)
                    else:
                        gh = np.unique(acc)
                    ids.extend([did] * len(gh))
                    hashes.append(gh)
            if not hashes:
                continue
            cols = {id_col: ids, "gh": np.concatenate(hashes).view(np.int64)}
            if wide:
                cols["gh2"] = np.concatenate(hashes2).view(np.int64)
            yield pd.DataFrame(cols)

    gh_schema = f"{id_col} {id_type}, gh long" + (", gh2 long" if wide else "")
    gram_keys = ["gh", "gh2"] if wide else ["gh"]
    dgh = base.mapInPandas(kern, gh_schema)
    if skew_safe:
        # the salted two-level aggregate (see docstring): df and the
        # df==1 owner doc, never a window or a join on the gram key
        lvl1 = dgh.groupBy(
            *gram_keys,
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(n_salts))).alias("_salt"),
        ).agg(
            F.count(F.lit(1)).alias("_c"), F.min(id_col).alias("_md")
        )
        lvl2 = lvl1.groupBy(*gram_keys).agg(
            F.sum("_c").alias("df"), F.min("_md").alias("_md")
        )
        uniq = (
            lvl2.filter(F.col("df") == 1)
            .groupBy(F.col("_md").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )
        per = (
            dgh.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_kgrams"))
            .join(uniq, id_col, "left")
            .select(
                id_col,
                "n_kgrams",
                (
                    F.col("n_kgrams") - F.coalesce("n_unique", F.lit(0))
                ).alias("n_shared"),
            )
        )
    else:
        per = (
            dgh.withColumn(
                "df", F.count(F.lit(1)).over(Window.partitionBy(*gram_keys))
            )
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_kgrams"),
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_shared"),
            )
        )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_kgrams", F.lit(0)).cast("long").alias("n_kgrams"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            _r(
                F.coalesce("n_shared", F.lit(0))
                / F.greatest(F.coalesce("n_kgrams", F.lit(0)), F.lit(1))
            ).alias("shared_frac"),
        )
    )


def _dsir_token_col(text_col: str = "text") -> F.Column:
    """Filtered-token array materialized AS A COLUMN named `_ws` before
    any HOF lambda references it — a free array expression inside a
    transform body re-evaluates per element (the whole regex split per
    bigram): 23.7 s → ~2 s at sf0.1 (r11)."""
    return F.filter(
        tokens(normalize_ws(F.col(text_col))), lambda w: F.length(w) > 0
    ).alias("_ws")


def _dsir_feats_expr() -> F.Column:
    """Unigram+bigram feature array over the `_ws` token column — the
    Catalyst definition of the DSIR feature family. dsir_bucket_map
    (the oracle bridge) still evaluates it directly; dsir_logweights'
    tf pass moved to the equivalent Arrow kernel
    (functions/tokenstream.feature_counts) in r19, with row identity
    between the two forms pinned by
    tests/test_dedup_text.py::test_dsir_kernel_matches_explode_form —
    so the exported (feature → bucket) mapping stays lossless."""
    t = F.col("_ws")
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(0)))
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(t, i.cast("int")), F.element_at(t, (i + 1).cast("int"))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(t, bigrams)


def dsir_bucket_map(
    docs: DataFrame, n_buckets: int = 10_000, text_col: str = "text"
) -> DataFrame:
    """(feat, bucket): the corpus's DISTINCT hashed-feature mapping —
    the oracle bridge for dsir_logweights' one engine-private primitive
    (pmod(xxhash64, n_buckets) has no DuckDB twin). A relational oracle
    re-derives the features from the text, joins this export for the
    bucket ids, and recomputes the DSIR formula in pure SQL — the
    promotion route the operator docstring names. Distinct-feature
    sized (vocabulary + bigrams), not token-stream sized."""
    mid = docs.select(_dsir_token_col(text_col))
    return (
        mid.select(F.explode(_dsir_feats_expr()).alias("feat"))
        .distinct()
        .select("feat", F.pmod(F.xxhash64("feat"), F.lit(n_buckets)).alias("bucket"))
    )


def dsir_logweights(
    docs: DataFrame,
    target: F.Column,
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, is_target, n_feats, log_weight): DSIR — Data Selection
    via Importance Resampling (Xie et al. 2023, arXiv:2302.03169), the
    standard recipe for selecting web-scale pretraining data that looks
    like a high-quality target corpus. Features are hashed word
    unigrams + bigrams (the paper's 10K-bucket hashed n-grams; the
    hash is Spark's native xxhash64 — codegen, one call per feature;
    the r11 first cut used the per-character rolling hash for DuckDB
    parity and measured 0.08 MB/s at the bench SF, ~50× under the rest
    of the text bank, so the hash is the one deliberate departure from
    oracle-shared primitives — an oracle twin would re-derive buckets
    from a Spark-side (feature → bucket) export, or swap hashes at
    promotion time; the formula is hash-agnostic); per-bucket
    probabilities are Laplace-
    smoothed MLEs over the TARGET slice (rows where `target` is true)
    and the RAW corpus; a document's log importance weight is
    Σ_features count·(ln p_target[bucket] − ln p_raw[bucket]) — high
    for documents whose feature profile matches the target. Selection
    = rank/threshold on log_weight downstream (the paper adds Gumbel
    noise for sampled selection; the deterministic weight is the
    engine artifact).

    Plan (r19 — the hashed-feature Arrow kernel round): one
    explode-free eager scan for the two totals — feature-array SIZE is
    closed-form in the token count (n + max(n−1, 0) for
    unigrams+bigrams), so the totals pass tokenizes but never builds a
    bigram string (r18, measured 2.29 → 1.02 s on the 236 MB replica,
    identical totals) — then ONE functions/tokenstream.feature_counts
    mapInArrow pass emits final (doc, flag, feat, count) rows (a doc
    lives wholly inside its row: no Generate, no per-occurrence
    aggregation, bigram strings built once by a vectorized Arrow join
    instead of a per-token Catalyst lambda). The kernel output is
    localCheckpoint'd and read by BOTH consumers: (a) one combined
    bucket rollup — sum(c) and sum(c where target) per bucket in a
    single aggregation whose partial aggs collapse to ≤n_buckets rows
    map-side (replacing the r12–r18 raw_b/tgt_b explode branches and
    their left join; this is NOT the r18-reverted shared-EXCHANGE
    shape — the revert re-read a big per-doc shuffle, this reads a
    local checkpoint) — and (b) the per-doc scoring join against the
    broadcast weight table, whose per-doc partial agg collapses to
    ~one row per doc because the kernel emits a doc's rows
    contiguously (the old (doc,bucket) pre-aggregation is dropped
    outright: the weighted sum is linear in the counts, so feat-level
    rows give identical n_feats/_lw). Nothing is per-row Python
    beyond the one Arrow kernel.
    The kernel output's `localCheckpoint(eager=True)` runs its job when
    this function is called, before the returned frame is used. Its blocks
    stay in executor storage (memory, spilling to disk) until the
    driver garbage-collects the checkpointed plan (ContextCleaner) or
    the application ends, so drop the returned frame once consumed. A
    local checkpoint keeps no lineage: if an executor holding its
    blocks is lost, a later action on the returned frame fails instead
    of recomputing them. That trades fault tolerance for one kernel pass.
    Oracle: sidecar-backed (dsir_bucket_map export bridges the
    xxhash64 buckets, registry.oracle_sql_for re-bakes per SF);
    closed-form values pinned in
    tests/test_dedup_text.py::test_dsir_closed_form and the
    language-separation invariant alongside; row identity vs the r18
    explode form pinned in
    tests/test_dedup_text.py::test_dsir_kernel_matches_explode_form."""
    from cs598vectordb_spark.functions.tokenstream import feature_counts

    mid = docs.select(
        F.col(id_col), target.alias("_is_t"), _dsir_token_col(text_col)
    )

    # size(concat(t, bigrams)) == size(t) + greatest(size(t)-1, 0),
    # including the empty (0) and single-token (1) cases; null text
    # propagates null either way and F.sum skips it.
    nt = F.size(F.col("_ws"))
    n_feats_row = nt + F.greatest(nt - F.lit(1), F.lit(0))
    totals = mid.agg(
        F.coalesce(F.sum(n_feats_row), F.lit(0)).alias("raw"),
        F.coalesce(
            F.sum(F.when(F.col("_is_t"), n_feats_row).otherwise(0)), F.lit(0)
        ).alias("tgt"),
    ).collect()[0]
    t_raw, t_tgt = int(totals["raw"]), int(totals["tgt"])

    bucketed = (
        feature_counts(mid, [id_col, "_is_t"], "_ws")
        .select(
            id_col,
            "_is_t",
            F.pmod(F.xxhash64("feat"), F.lit(n_buckets)).alias("bucket"),
            "c",
        )
        .localCheckpoint(eager=True)
    )
    # Laplace-smoothed log-likelihood ratio per bucket; every doc
    # feature has c_raw >= 1 by construction, c_tgt of a bucket with
    # no target rows sums to NULL -> coalesce 0, the exact value the
    # old raw_b LEFT JOIN tgt_b produced for an absent bucket
    b = bucketed.groupBy("bucket").agg(
        F.sum("c").alias("c_raw"),
        F.coalesce(
            F.sum(F.when(F.col("_is_t"), F.col("c"))), F.lit(0)
        ).alias("c_tgt"),
    )
    w = b.select(
        "bucket",
        (
            F.log(F.col("c_tgt").cast("double") + 1.0)
            - F.log(F.lit(float(t_tgt + n_buckets)))
            - F.log(F.col("c_raw").cast("double") + 1.0)
            + F.log(F.lit(float(t_raw + n_buckets)))
        ).alias("w"),
    )
    per = (
        bucketed.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c").cast("double") * F.col("w")).alias("_lw"),
        )
    )
    return (
        docs.select(id_col, target.alias("is_target"))
        .join(per, id_col, "left")
        .select(
            id_col,
            "is_target",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            _r(F.coalesce(F.col("_lw"), F.lit(0.0))).alias("log_weight"),
        )
    )


def curate_corpus(
    docs: DataFrame,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en", "es", "de"),
) -> DataFrame:
    """(split, lang, n_docs, total_tokens, avg_quality): the end-to-end
    curation funnel a training-data pipeline runs nightly — keep only
    exact-dedup canonical documents, in the allowed languages, above the
    quality floor; assign train/val/test splits; report the resulting
    training-mix composition.

    Plan (r18, guide §2.4/§6): quality_scores and hash_split are pure
    per-row projections keyed by the unique doc_id, so joining their
    outputs back to `docs` bought nothing but plan weight — the old
    composition scanned documents.parquet FOUR times (main + dedup +
    quality + split) through three broadcast joins. Their expressions
    now evaluate inline on the ONE main scan (same formulas via
    quality_scores/hash_split applied to the already-filtered rows —
    row-for-row identical output since doc_id is unique), leaving only
    the genuinely relational stage: canonical-document membership,
    which must see EVERY copy corpus-wide (a duplicate's canonical twin
    may sit outside the lang filter) and stays a hash-groupBy over md5
    + a semi-join. 4 scans → 2, 3 joins → 1."""
    from cs598vectordb_spark.operators.dedup import dedup_exact

    canon = dedup_exact(docs).select(F.col("canonical_id").alias("doc_id"))
    kept = (
        docs.select("doc_id", "lang", "text")
        .filter(F.col("lang").isin(list(langs)))
        .select(
            "doc_id", "lang", split_key_column("doc_id"), *quality_columns("text")
        )
        .filter(F.col("quality") >= min_quality)
        .withColumn(
            "split",
            split_case_column(split_bucket_column(), dict(SPLIT_WEIGHTS)),
        )
        .drop("_split_key")
        .join(canon, "doc_id", "left_semi")
    )
    return kept.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        _r(F.avg("quality")).alias("avg_quality"),
    )


def curation_funnel_report(
    docs: DataFrame,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en", "es", "de"),
) -> DataFrame:
    """(stage_id, stage, n_in, n_dropped, n_out): the funnel DASHBOARD —
    how many documents each curation gate drops, in pipeline order
    (lang filter → exact dedup → Gopher repetition bank → quality
    floor). This is the one view a curation team actually watches: a
    gate suddenly dropping 40% is a crawl regression; a gate dropping
    ~0% is dead weight. Composes the engine's own operators
    (stage-by-stage the same funnel curate_corpus/export_training_set
    apply), so the report IS the pipeline, not a parallel recount.

    Plan (ADVICE r11): ONE pass — each doc gets four cumulative
    stage-pass flags (the expensive subtrees dedup_exact /
    repetition_scores / quality_scores each appear exactly once, as
    left-joined per-doc columns), then a single conditional aggregate
    counts every funnel level at once and stack() unpivots the 1-row
    result into the 4 stage rows. The previous union-of-8-aggregates
    form re-executed the shared subtrees per branch (un-persisted
    subtrees are not reused across union branches) — a recompute
    factor that grows with corpus size. Conservation (n_in − n_dropped
    = n_out, stage i's out = stage i+1's in, final out = the composed
    filter's count) pinned in
    tests/test_dedup_text.py::test_curation_funnel_report."""
    from cs598vectordb_spark.operators.dedup import dedup_exact

    canon = dedup_exact(docs).select(
        F.col("canonical_id").alias("doc_id"), F.lit(True).alias("_canon")
    )
    rep = repetition_scores(docs).select("doc_id", "repetitive")
    q = quality_scores(docs).select("doc_id", "quality")
    flags = (
        docs.select("doc_id", "lang")
        .join(canon, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(q, "doc_id", "left")
        .withColumn("p1", F.col("lang").isin(list(langs)))
        .withColumn("p2", F.col("p1") & F.coalesce("_canon", F.lit(False)))
        .withColumn("p3", F.col("p2") & ~F.coalesce("repetitive", F.lit(True)))
        .withColumn(
            "p4", F.col("p3") & (F.coalesce("quality", F.lit(-1.0)) >= min_quality)
        )
        .select("p1", "p2", "p3", "p4")
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            F.sum(F.col(f"p{i}").cast("long")).alias(f"n{i}")
            for i in range(1, 5)
        ],
    )
    return agg.selectExpr(
        "stack(4, "
        "1, 'lang_filter', n0, n1, "
        "2, 'exact_dedup', n1, n2, "
        "3, 'repetition_gate', n2, n3, "
        "4, 'quality_floor', n3, n4) AS (stage_id, stage, n_in, n_out)"
    ).select(
        "stage_id",
        "stage",
        "n_in",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
        "n_out",
    )


def export_training_set(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en", "es", "de"),
) -> DataFrame:
    """(shard, n_docs, n_tokens, total_chars, ids_md5): the LAST MILE —
    materialize the curated corpus as `n_shards` hash-sharded parquet
    shards under out_dir and return the manifest a training job (and an
    auditor) consumes. The funnel is curate_corpus's own (canonical
    docs, allowed languages, quality floor); sharding is
    pmod(xxhash64(doc_id), n_shards) so shard membership is
    content-independent and stable across re-crawls; ids_md5 is the md5
    of the shard's SORTED doc_id list — two exports of the same corpus
    are byte-comparable by manifest alone, and a lost/duplicated doc
    flips the hash.

    Plan: the curation joins (each keeping its own at-scale shape) →
    one partitionBy(shard) write (a single pass; shard count chosen for
    target file sizes at scale) → manifest = per-shard aggregate over
    the WRITTEN files (reading back what was written, not what was
    intended — the audit stance). Deterministic and idempotent: same
    corpus ⇒ same manifest (pinned in
    tests/test_dedup_text.py::test_export_training_set)."""
    import os as _os

    from cs598vectordb_spark.operators.dedup import dedup_exact

    q = quality_scores(docs).select("doc_id", "quality", "n_tokens")
    canon = dedup_exact(docs).select(F.col("canonical_id").alias("doc_id"))
    kept = (
        docs.select("doc_id", "lang", "text", "n_chars")
        .filter(F.col("lang").isin(list(langs)))
        .join(canon, "doc_id")
        .join(q, "doc_id")
        .filter(F.col("quality") >= min_quality)
        .withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int"))
    )
    path = _os.path.join(out_dir, "shards")
    kept.select("shard", "doc_id", "lang", "text", "n_tokens", "n_chars").write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(path)
    written = kept.sparkSession.read.parquet(path)
    return written.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("ids_md5"),
    )


def tfidf_keywords(docs: DataFrame, topk: int = 3) -> DataFrame:
    """(doc_id, rank, token, tf, df, tfidf): the top-k characteristic
    tokens per document — frequent in the doc, rare in the corpus. The
    rank ordering is (tf DESC, df ASC, token ASC): exactly tf-idf's
    ordering on this data but integer-lexicographic, so ranks can never
    flip on a last-ulp ln() difference between engines; the smoothed
    tf·ln((N+1)/(df+1)) score rides along as a rounded value column.

    Plan: the (doc, token) term frequencies come from ONE
    functions/tokenstream.term_counts mapInArrow pass — a document lives
    wholly inside its row, so the kernel's counts are final: no Generate
    node and no per-occurrence aggregation. The kernel output is
    localCheckpoint'd, so the document-frequency rollup (its partial
    aggregate collapses to vocabulary size map-side) and the tf side of
    the join on token read the same materialized rows. The explode form
    scanned, tokenized and exploded the corpus TWICE: ReuseExchange
    cannot share the df branch's differently-pruned aggregate with the
    tf exchange (the problem lm_surprisal's r19 rewrite fixed). Then one
    per-doc window. N is one count() job, because NULL-text documents
    count in N but emit no tf rows. Vocabulary-keyed shuffles are
    uniform; nothing is per-row pandas. Row identity with the explode
    form is the kernel's (pinned in
    tests/test_properties.py::test_term_kernels_match_explode_groupby)
    and rests on term_counts' precondition: doc_id is unique per row.

    The tf rows' `localCheckpoint(eager=True)` runs its job when this
    function is called, before the returned frame is used. Its blocks
    stay in executor storage (memory, spilling to disk) until the
    driver garbage-collects the checkpointed plan (ContextCleaner) or
    the application ends, so drop the returned frame once consumed. A
    local checkpoint keeps no lineage: if an executor holding its
    blocks is lost, a later action on the returned frame fails instead
    of recomputing them. That trades fault tolerance for one kernel pass."""
    from cs598vectordb_spark.functions.tokenstream import term_counts

    n_docs = docs.count()
    tf = term_counts(
        docs.select("doc_id", tokens(normalize_ws(F.col("text"))).alias("_ws")),
        ["doc_id"],
        "_ws",
    ).localCheckpoint(eager=True)
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(df, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "doc_id",
            "rank",
            "token",
            "tf",
            "df",
            _r(
                F.col("tf").cast("double")
                * F.log((F.lit(float(n_docs + 1))) / (F.col("df").cast("double") + 1.0))
            ).alias("tfidf"),
        )
    )


def lm_surprisal(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, avg_neg_logprob, perplexity): corpus-trained
    UNIGRAM language-model surprisal — the screening member of the
    CCNet quality family (Wenzek et al. 2020 rank web documents by LM
    perplexity before training; the unigram member of that family is
    exactly expressible relationally, no external model). p(token) is
    the corpus's own unigram MLE, so there is no OOV by construction;
    per doc: mean over tokens of -ln p(token), and
    perplexity = exp(mean). Boilerplate made of frequent tokens scores
    LOW (it is exactly what the corpus predicts); rare-vocabulary
    prose scores high — the complement of the repetition bank, which
    sees within-doc structure but not corpus-typicality.

    Plan (r19 — the hashed-feature/term-count Arrow kernel round): the
    corpus token total comes from one EXPLODE-FREE eager scan (sum of
    per-row array sizes — a projection aggregate, no shuffle of the
    token stream); the (doc, token) term frequencies come from ONE
    functions/tokenstream.term_counts mapInArrow pass (a document
    lives wholly inside its row, so the kernel's counts are final —
    no Generate node, no per-occurrence aggregation; the r12–r18 form
    exploded the token stream TWICE because ReuseExchange could not
    dedup the two differently-pruned tf subtrees — measured, not
    assumed). The kernel output is localCheckpoint'd so the vocabulary
    rollup and the scoring join read the same materialized rows
    instead of re-running the kernel; the rollup's partial aggregate
    collapses to vocabulary size map-side, AQE broadcasts it back, and
    the per-doc agg's input rows arrive contiguous per doc, so its
    partial aggregate collapses to ~one row per doc before the
    exchange. Empty docs keep a zero row via the left join.
    The kernel output's `localCheckpoint(eager=True)` runs its job when
    this function is called, before the returned frame is used. Its blocks
    stay in executor storage (memory, spilling to disk) until the
    driver garbage-collects the checkpointed plan (ContextCleaner) or
    the application ends, so drop the returned frame once consumed. A
    local checkpoint keeps no lineage: if an executor holding its
    blocks is lost, a later action on the returned frame fails instead
    of recomputing them. That trades fault tolerance for one kernel pass.
    ORACLE PROMOTED r12 (the r11 queue, funded by the token_counts
    retirement) — the full formula recomputed by DuckDB in
    queries_text.py. Measured rate ~19 MB/s at the kernel-bound 153 MB
    corpus (r12, full-output write, 32 threads) → see
    OPTIMIZATION_r19.md for the r19 kernel A/B. Exact values pinned
    on a closed-form corpus in
    tests/test_dedup_text.py::test_lm_surprisal_closed_form; row
    identity vs the explode form pinned in
    tests/test_dedup_text.py::test_term_counts_kernel_matches_explode."""
    from cs598vectordb_spark.functions.tokenstream import term_counts

    tok_arr = F.filter(
        tokens(normalize_ws(F.col(text_col))), lambda w: F.length(w) > 0
    )
    total = int(
        docs.agg(F.sum(F.size(tok_arr)).alias("n")).collect()[0]["n"] or 0
    )
    tf = term_counts(
        docs.select(F.col(id_col), tok_arr.alias("_ws")), [id_col], "_ws"
    ).localCheckpoint(eager=True)
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    scored = tf.join(vocab, "token").select(
        id_col,
        F.col("tf"),
        (
            F.col("tf").cast("double")
            * (F.log(F.lit(float(max(total, 1)))) - F.log(F.col("c").cast("double")))
        ).alias("nll_sum"),
    )
    per = scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        (F.sum("nll_sum") / F.sum("tf")).alias("_anl"),
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            _r(F.coalesce(F.col("_anl"), F.lit(0.0))).alias("avg_neg_logprob"),
            _r(F.exp(F.coalesce(F.col("_anl"), F.lit(0.0)))).alias("perplexity"),
        )
    )


def ngram_profile(docs: DataFrame, topk: int = 5) -> DataFrame:
    """(lang, rank, gram, n): the top-k most frequent word BIGRAMS per
    language — corpus profiling for training-mix curation (which boilerplate
    dominates each language slice). Non-distinct grams (frequency, unlike
    the dedup shingles), one explode + one shuffle on (lang, gram), then a
    per-lang top-k window. Ties break on the gram string ascending so the
    ranking is deterministic cross-engine."""
    # tokens FIRST materialized as a column, THEN referenced in the
    # gram lambda: a free (non-column) array expression inside a
    # transform body is re-evaluated per element — the whole
    # regex-split per bigram, measured 11.1 s → 0.4 s at sf0.1 (r11;
    # same fix as dsir_logweights)
    mid = docs.select("lang", tokens(normalize_ws(F.col("text"))).alias("_ts"))
    t = F.col("_ts")
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(t, i.cast("int")), F.element_at(t, (i + 1).cast("int"))
        ),
    )
    exploded = mid.select("lang", F.explode(grams).alias("gram"))
    counts = exploded.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("lang", "rank", "gram", "n")
    )


def doc_repetition(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_grams, max_gram_count, dup_gram_frac): intra-document
    repetition — the Gopher-rules quality signal the inter-doc dedup
    family cannot see (a document that repeats ITSELF is low-quality
    even when globally unique). Per doc: total word trigrams, the most
    repeated trigram's count, and the fraction of grams that are
    repeats (1 - distinct/total).

    Scale shape: explode + partial-agg on (doc_id, gram) — the count
    combines map-side, so the shuffle carries one row per DISTINCT gram
    per doc, never the token stream; a second tiny agg on doc_id. Docs
    too short for a trigram keep a zero row via the left join."""
    t = tokens(normalize_ws(F.col("text")))
    idx = F.sequence(F.lit(1), F.size(t) - 2)
    grams = F.when(
        F.size(t) >= 3,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(t, i.cast("int")),
                F.element_at(t, (i + 1).cast("int")),
                F.element_at(t, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per = (
        docs.select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = per.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("max_gram_count"),
        (F.sum("c") - F.count(F.lit(1))).alias("_dup"),
    )
    return (
        docs.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("max_gram_count", F.lit(0)).cast("long").alias("max_gram_count"),
            F.round(
                F.coalesce(F.col("_dup") / F.col("n_grams"), F.lit(0.0)), 6
            ).alias("dup_gram_frac"),
        )
    )


def compressibility(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_bytes, n_compressed, compress_ratio): zlib-level-6
    compressed size over raw size — the Gopher/RefinedWeb-style
    compressibility quality signal (highly repetitive boilerplate
    compresses far below prose; random noise compresses above 1.0 with
    header overhead). zlib is bit-deterministic for a fixed level, but
    no SQL engine exposes it, so the registered query is rows-only and
    the signal's invariants (prose band, repetitive << prose < noise)
    are pinned in tests/test_dedup_text.py.

    Arrow mapInPandas kernel — per-row zlib over batch strings, pure
    projection, no shuffle; at 100 TB this is the cheapest quality
    dimension after the Catalyst ratio columns."""
    import zlib

    from collections.abc import Iterator

    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [(t or "").encode("utf-8") for t in pdf[text_col]]
            nb = [len(b) for b in raw]
            nc = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "compress_ratio": [
                        round(c / b, 6) if b else 0.0 for b, c in zip(nb, nc)
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        kernel,
        f"{id_col} long, n_bytes long, n_compressed long, compress_ratio double",
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 500,
    stride: int = 400,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, chunk_start, chunk_len, chunk_md5, chunk_text):
    fixed-window overlapping chunks (window chunk_chars, stride stride →
    chunk_chars - stride chars of overlap) — the context-window splitter
    between a cleaned corpus and tokenization/embedding. Pure Catalyst:
    sequence + explode + substring, no Python, fully parallel per row;
    chunk count per doc is ceil(len/stride) so output size is
    len(corpus)/stride × window — a bounded constant factor (1.25x
    here), not a blowup. Empty docs emit nothing."""
    n_chunks = (F.floor((F.length(text_col) - 1) / stride) + 1).cast("int")
    return (
        docs.filter(F.length(text_col) > 0)
        .select(
            id_col,
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id").cast("bigint") * stride).alias("chunk_start"),
            F.expr(
                f"substring({text_col}, chunk_id * {stride} + 1, {chunk_chars})"
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("bigint"))
        .withColumn("chunk_md5", F.md5("chunk_text"))
    )
