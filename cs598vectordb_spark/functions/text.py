"""Text-analysis column expressions for the LLM-data-pipeline surface.

All JVM-side Catalyst expressions (no Python UDFs): tokenization, word
shingles, rolling-hash fingerprints, quality ratios, marker-word language
scores. Each has an element-for-element DuckDB formulation used by the
oracle gate, so the semantics are pinned cross-engine.

Scale notes: everything here is a per-row projection — embarrassingly
parallel, no shuffle. The rolling hash is a demonstration of deterministic
cross-engine fingerprinting; at 100 TB prefer xxhash64/md5 (one JVM call)
for plain dedup keys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ROLLING_MOD = 1_000_000_007
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1

# stopword markers per language for the heuristic language scorer.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def normalize_ws(text: Column | str) -> Column:
    """Lowercase + collapse all whitespace runs to single spaces."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-gram word shingles over NORMALIZED text (lowercase,
    collapsed whitespace) — the unit set for Jaccard/MinHash dedup, and
    the same canonicalization dedup_exact applies, so case/whitespace
    variants of a document shingle identically. sequence+transform keeps
    it inside codegen."""
    t = tokens(normalize_ws(text))
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def rolling_hash(text_col_name: str, mod: int = ROLLING_MOD) -> Column:
    """Polynomial rolling hash over character code points:
    acc = (acc*31 + code) % mod, left to right — the classic document
    fingerprint (Rabin-Karp family). Identical formula on the oracle side
    (DuckDB list_reduce). Takes a plain column NAME (embedded in expr)."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({text_col_name})), "
        f"i -> CAST(ascii(substring({text_col_name}, i, 1)) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {mod})"
    )


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[\.,;:!\?]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def alpha_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_alpha = F.length(F.regexp_replace(c, r"[^a-zA-Z]", ""))
    return n_alpha.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def lang_score(text: Column | str, lang: str) -> Column:
    """Marker-word hit count for one language (n-gram-free heuristic
    language ID: argmax over languages of marker hits)."""
    t = tokens(normalize_ws(text))
    return F.size(F.filter(t, lambda x: x.isin(LANG_MARKERS[lang])))
