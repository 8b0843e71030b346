"""Arrow term-count kernels over JVM-tokenized array columns.

The token-stream operator trio (dsir_logweights' tf pass, lm_surprisal,
bm25_scores) all used the same plan fragment: explode the token array
to one row per OCCURRENCE, then hash-aggregate (row_key, token) back to
counts — paying a Generate node plus a per-occurrence aggregation for
what is per-row Counter math (a document lives wholly inside one row).
r18 measured the trio at 13–20 MB/s at 32 cores and established that
the AGGREGATION side was already optimal (the shared-exchange attempt
lost, see dsir_logweights' docstring); the remaining cost was the
explode itself. These kernels replace explode + first-level groupBy
with ONE `mapInArrow` pass that emits final (keys…, term, count) rows
— no Generate, no per-occurrence aggregation, and the emitted rows for
a document are contiguous, so any downstream per-document aggregate
collapses map-side to ~one row per document before its exchange.

Tokenization stays a JVM Catalyst regexp (functions/text.py `tokens` /
`normalize_ws`) — the semantics anchor every DuckDB oracle shares —
and the arrays cross the Arrow boundary once. Inside the kernel
everything is vectorized pyarrow C++: `list_parent_indices` /
`list_flatten` recover (row, token) pairs without a Python loop,
bigrams are one `binary_join_element_wise` over the flattened buffer
(identical to `concat_ws(' ', a, b)` for the never-null split output),
and counting is a hash `group_by`. `use_threads=False` everywhere: the
kernel runs inside one of 32 Spark task slots — per-task Arrow thread
pools would oversubscribe the host (guide §4.5 discipline).

Null/empty parity with the explode form (pinned in
tests/test_dedup_text.py::test_term_counts_kernel_matches_explode):
a NULL token array (NULL text upstream) and an empty array both emit
no rows — exactly what explode() yields; empty-STRING tokens are kept
(bm25's unfiltered `split` path relies on that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _key_ddl(base: DataFrame, key_cols: list[str]) -> str:
    return ", ".join(
        f"{k} {base.schema[k].dataType.simpleString()}" for k in key_cols
    )


def term_counts(
    base: DataFrame,
    key_cols: list[str],
    arr_col: str,
    term_col: str = "token",
    count_col: str = "tf",
) -> DataFrame:
    """(keys…, term, count): per-row distinct-token occurrence counts
    over a tokenized array column — the kernel replacement for
    `explode(arr) → groupBy(keys…, token).count()` (bit-identical row
    set; a row's tokens are counted wholly inside its own batch, so the
    emitted counts are final, not partial).

    Precondition: `key_cols` are unique per input row. Rows that share
    a key are not merged: each input row emits its own (keys…, term,
    count) rows, so a (keys…, term) pair can repeat, and only the sum
    of its counts equals the explode form's count (pinned by
    tests/test_properties.py::test_term_kernels_match_explode_groupby)."""
    schema = f"{_key_ddl(base, key_cols)}, {term_col} string, {count_col} long"

    def kern(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            lst = b.column(len(key_cols))  # arr_col is selected last
            parent = pc.list_parent_indices(lst)
            flat = pc.list_flatten(lst)
            g = (
                pa.table({"_i": parent, "_t": flat})
                .group_by(["_i", "_t"], use_threads=False)
                .aggregate([([], "count_all")])
            )
            idx = g.column("_i").combine_chunks()
            cols = [pc.take(b.column(i), idx) for i in range(len(key_cols))]
            cols.append(g.column("_t").combine_chunks())
            cols.append(g.column("count_all").combine_chunks().cast(pa.int64()))
            yield pa.record_batch(
                cols, names=[*key_cols, term_col, count_col]
            )

    return base.select(*key_cols, arr_col).mapInArrow(kern, schema)


def feature_counts(
    base: DataFrame,
    key_cols: list[str],
    arr_col: str,
    feat_col: str = "feat",
    count_col: str = "c",
) -> DataFrame:
    """(keys…, feat, count): per-row counts over the DSIR hashed-n-gram
    feature family — unigrams plus space-joined adjacent bigrams (the
    `_dsir_feats_expr` array) — the kernel replacement for
    `explode(concat(t, bigrams)) → groupBy(keys…, feat).count()`.
    Bigram text is `binary_join_element_wise(tok[j], tok[j+1], ' ')`
    over the flattened token buffer, masked to within-row pairs —
    byte-identical to the JVM `concat_ws(' ', …)` transform it
    replaces, without constructing the per-token lambda machinery.

    Precondition: `key_cols` are unique per input row, as for
    `term_counts`. Rows that share a key are not merged: each input row
    emits its own (keys…, feat, count) rows, and only the per-(keys…,
    feat) sums equal the explode form's counts."""
    schema = f"{_key_ddl(base, key_cols)}, {feat_col} string, {count_col} long"

    def kern(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            lst = b.column(len(key_cols))
            parent = pc.list_parent_indices(lst).cast(pa.int64())
            flat = pc.list_flatten(lst)
            n = len(flat)
            if n >= 2:
                left, right = flat.slice(0, n - 1), flat.slice(1)
                pl, pr = parent.slice(0, n - 1), parent.slice(1)
                within = pc.equal(pl, pr)
                bg = pc.filter(
                    pc.binary_join_element_wise(left, right, " "), within
                )
                feats = pa.concat_arrays([flat, bg])
                parents = pa.concat_arrays([parent, pc.filter(pl, within)])
            else:
                feats, parents = flat, parent
            g = (
                pa.table({"_i": parents, "_f": feats})
                .group_by(["_i", "_f"], use_threads=False)
                .aggregate([([], "count_all")])
            )
            idx = g.column("_i").combine_chunks()
            cols = [pc.take(b.column(i), idx) for i in range(len(key_cols))]
            cols.append(g.column("_f").combine_chunks())
            cols.append(g.column("count_all").combine_chunks().cast(pa.int64()))
            yield pa.record_batch(
                cols, names=[*key_cols, feat_col, count_col]
            )

    return base.select(*key_cols, arr_col).mapInArrow(kern, schema)
