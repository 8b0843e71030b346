"""Property-based tests (hypothesis) — the reference has none (SURVEY §5);
these pin algebraic contracts on randomized inputs, not fixtures.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from cs598vectordb_spark.operators.asof import asof_join
from cs598vectordb_spark.operators.skew import salted_agg
from cs598vectordb_spark.sources.vecfiles import _decode_blob, _encode_rows

# ---------------------------------------------------------- pure (fast)


@given(
    st.lists(
        st.lists(st.floats(width=32, allow_nan=False, allow_infinity=False), min_size=1, max_size=8),
        min_size=0,
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_fvecs_codec_roundtrip(rows):
    blob = _encode_rows([np.asarray(r, dtype=np.float32) for r in rows], "float32")
    back = _decode_blob(blob, "float32")
    assert len(back) == len(rows)
    for orig, got in zip(rows, back):
        assert np.array_equal(np.asarray(orig, dtype=np.float32), got)


@given(
    st.lists(
        st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=8),
        min_size=0,
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_ivecs_codec_roundtrip(rows):
    blob = _encode_rows([np.asarray(r, dtype=np.int32) for r in rows], "int32")
    back = _decode_blob(blob, "int32")
    assert [list(b) for b in back] == rows


# ---------------------------------------------------------- spark (slow)

_event = st.tuples(
    st.integers(0, 3),  # key
    st.integers(0, 10_000),  # seconds offset
    st.integers(0, 1000),  # payload
)


@given(st.lists(_event, min_size=1, max_size=25), st.lists(_event, min_size=0, max_size=25))
@settings(max_examples=8, deadline=None)
def test_asof_join_matches_bruteforce(lrows, rrows):
    spark = _spark()
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows, payload: [
        (k, t0 + dt.timedelta(seconds=s), p) for k, s, p in rows
    ]
    # unique (key, ts) per side — duplicate-ts tie order is unspecified
    lrows = list({(k, s): (k, s, p) for k, s, p in lrows}.values())
    rrows = list({(k, s): (k, s, p) for k, s, p in rrows}.values())
    left = spark.createDataFrame(mk(lrows, "lv"), "user_id long, ts timestamp, lv long")
    right = spark.createDataFrame(
        mk(rrows, "rv"), "user_id long, ts timestamp, rv long"
    ) if rrows else spark.createDataFrame([], "user_id long, ts timestamp, rv long")

    got = {
        (r["user_id"], r["ts"]): r["rv_r"]
        for r in asof_join(left, right, by="user_id", ts_col="ts", right_cols=["rv"]).collect()
    }
    for k, s, p in lrows:
        lts = t0 + dt.timedelta(seconds=s)
        matches = [(s2, p2) for k2, s2, p2 in rrows if k2 == k and s2 <= s]
        expect = max(matches)[1] if matches else None
        assert got[(k, lts)] == expect, (k, s, matches)


@given(st.lists(_event, min_size=1, max_size=40))
@settings(max_examples=8, deadline=None)
def test_salted_agg_equals_direct(rows):
    spark = _spark()
    df = spark.createDataFrame(rows, "user_id long, sec long, payload long")
    got = {
        r["user_id"]: (r["n"], r["s"], r["mx"])
        for r in salted_agg(
            df,
            key="user_id",
            aggs={"n": ("count", "payload"), "s": ("sum", "payload"), "mx": ("max", "sec")},
            n_salts=4,
            salt_src="sec",
        ).collect()
    }
    from collections import defaultdict

    exp = defaultdict(lambda: [0, 0, None])
    for k, s, p in rows:
        e = exp[k]
        e[0] += 1
        e[1] += p
        e[2] = s if e[2] is None else max(e[2], s)
    assert got == {k: tuple(v) for k, v in exp.items()}


def _spark():
    from cs598vectordb_spark.session import get_spark

    return get_spark("tests", cpus=8)


_kv = st.tuples(st.integers(0, 30), st.integers(-100, 100))


@given(st.lists(_kv, min_size=0, max_size=20), st.lists(_kv, min_size=0, max_size=20))
@settings(max_examples=8, deadline=None)
def test_merge_upsert_matches_dict_semantics(trows, srows):
    """MERGE == dict.update(): source wins on matched ids, target rows
    survive otherwise, inserts appear — for ANY id overlap pattern."""
    from cs598vectordb_spark.operators.updates import merge_upsert

    spark = _spark()
    trows = list({k: (k, v) for k, v in trows}.values())  # unique ids per side
    srows = list({k: (k, v) for k, v in srows}.values())
    schema = "vec_id long, label long"
    target = spark.createDataFrame(trows, schema) if trows else spark.createDataFrame([], schema)
    source = spark.createDataFrame(srows, schema) if srows else spark.createDataFrame([], schema)
    got = {r.vec_id: (r.label, r._merge_action) for r in merge_upsert(target, source, "vec_id").collect()}
    exp = {}
    for k, v in trows:
        exp[k] = (v, "kept")
    for k, v in srows:
        exp[k] = (v, "updated" if any(k == tk for tk, _ in trows) else "inserted")
    assert got == exp


@given(
    st.lists(st.tuples(st.integers(0, 10_000), st.integers(0, 40)), min_size=1, max_size=30),
    st.integers(1, 5),
)
@settings(max_examples=8, deadline=None)
def test_pack_sequences_contiguous_for_sparse_ids(rows, parts):
    """Offsets tile the token stream in doc_id order for ARBITRARY sparse
    id sets and any block count — the distributed prefix sum has no
    dense-id or balanced-block assumption."""
    from cs598vectordb_spark.operators.textops import pack_sequences

    spark = _spark()
    uniq = {i: n for i, n in rows}
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n) if n else "") for i, n in uniq.items()],
        "doc_id long, text string",
    )
    out = sorted(pack_sequences(docs, seq_len=7, parts=parts).collect(), key=lambda r: r.doc_id)
    off = 0
    for r in out:
        assert r.start_offset == off, (r.doc_id, r.start_offset, off)
        assert r.seq_id == off // 7
        assert r.n_seqs == (off + r.n_tokens - 1) // 7 - off // 7 + 1
        off += r.n_tokens
    assert len(out) == len(uniq)


@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=100, deadline=None)
def test_bmp_codec_roundtrip_property(h, w, seed):
    """Real BMP codec: encode→decode is the identity for every raster
    shape (row padding varies with w % 4) and every pixel content."""
    from cs598vectordb_spark.operators.multimodal import decode_bmp, encode_bmp

    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=1, max_value=2),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=100, deadline=None)
def test_wav_codec_roundtrip_property(n, channels, rate, seed):
    """Real WAV codec: encode→decode preserves every sample and the
    declared rate for mono and stereo PCM16."""
    from cs598vectordb_spark.operators.multimodal import decode_wav, encode_wav

    s = np.random.default_rng(seed).integers(
        -(2**15), 2**15, (n, channels), dtype=np.int16
    )
    out, got_rate = decode_wav(encode_wav(s, rate))
    assert got_rate == rate and np.array_equal(out, s)


@given(st.integers(5, 40), st.integers(20, 45))
@settings(max_examples=3, deadline=None)
def test_lsh_cap_bounds_pairs_and_reports_overflow(cap, n_boiler):
    """Adversarial skew (VERDICT r7 item 7): one boilerplate text shared
    by ~30% of the corpus puts every boilerplate doc in the same bucket
    in EVERY band. For any cap below the boilerplate mass:
    * capped pair generation admits only pairs that co-occur in some
      bucket of size <= cap — the boilerplate O(n^2) blowup is gone;
    * the over-cap mass appears in lsh_bucket_overflow (bucket_size =
      boilerplate mass, dropped_pairs = C(mass, 2)) — reported, never
      silently dropped;
    * capped pairs are a subset of exhaustive pairs (the cap only
      removes candidates, never invents them)."""
    from cs598vectordb_spark.operators.dedup import (
        lsh_bucket_overflow,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    assume(cap < n_boiler)
    spark = _spark()
    n_docs = 100
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (
            i,
            boiler
            if i < n_boiler
            else f"unique document number {i} with its own words {i * 7} {i * 13}",
        )
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs, 16).cache()

    exhaustive = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs, 8, 2).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sigs, 8, 2, bucket_cap=cap).collect()
    }
    overflow = lsh_bucket_overflow(sigs, 8, 2, bucket_cap=cap).collect()
    sigs.unpersist()

    # subset: the cap never invents candidates
    assert capped <= exhaustive
    # the boilerplate quadratic mass is out: no capped pair joins two
    # boilerplate docs (their only collisions are size-n_boiler buckets)
    boiler_pairs = {p for p in capped if p[0] < n_boiler and p[1] < n_boiler}
    assert not boiler_pairs
    # pair-count bound: every surviving bucket has <= cap members, so
    # candidate pairs <= bands * C(cap, 2) worst-case
    assert len(capped) <= 8 * cap * (cap - 1) // 2
    # over-cap mass is REPORTED: every band's boilerplate bucket (>=
    # n_boiler members — identical text collides in every band; short
    # unique docs may degenerate-collide into it too) shows up with its
    # avoided pair count
    big = [r for r in overflow if r.bucket_size >= n_boiler]
    assert len(big) >= 8
    for r in overflow:
        assert r.dropped_pairs == r.bucket_size * (r.bucket_size - 1) // 2


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["eq", "gt", "ge", "lt", "le", "notnull"]),
            st.integers(min_value=-5, max_value=600),
        ),
        max_size=6,
    ),
    st.integers(min_value=0, max_value=600),
)
@settings(max_examples=200, deadline=None)
def test_fvecs_pushed_bounds_are_sound(filters, v):
    """Pruning-bounds soundness (model-based): for ANY conjunction of
    pushed vec_id filters, every id that satisfies the conjunction must
    lie inside the [id_lo, id_hi] window pushFilters derives — the
    property that guarantees shard pruning can never drop a matching
    row. (Completeness is not required: looser bounds only scan more.)"""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    from cs598vectordb_spark.sources.fvecs_datasource import FvecsReader

    mk = {
        "eq": lambda x: EqualTo(("vec_id",), x),
        "gt": lambda x: GreaterThan(("vec_id",), x),
        "ge": lambda x: GreaterThanOrEqual(("vec_id",), x),
        "lt": lambda x: LessThan(("vec_id",), x),
        "le": lambda x: LessThanOrEqual(("vec_id",), x),
    }

    class _NotNull:  # value-less filter, like IsNotNull
        attribute = ("vec_id",)

    objs = [(_NotNull() if k == "notnull" else mk[k](x)) for k, x in filters]

    def sat(val) -> bool:
        ops = {"eq": val.__eq__, "gt": val.__gt__, "ge": val.__ge__,
               "lt": val.__lt__, "le": val.__le__, "notnull": lambda _: True}
        return all(ops[k](x) for k, x in filters)

    r = FvecsReader({"path": "/nonexistent"})
    r.pushFilters(objs)
    if sat(v):
        assert r.id_lo is None or r.id_lo <= v, (filters, v, r.id_lo)
        assert r.id_hi is None or v <= r.id_hi, (filters, v, r.id_hi)


def test_zvalue_matches_python_morton(spark):
    """The codegen Morton interleave must equal a direct Python
    reference bit-for-bit over the full 8-bit grid sample — and be
    injective on it (distinct cells, distinct z)."""
    import random

    from cs598vectordb_spark.operators.layout import zvalue

    rng = random.Random(11)
    pairs = [(rng.randrange(256), rng.randrange(256)) for _ in range(1000)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.withColumn("z", zvalue("a", "b", 8)).collect()
    }

    def ref(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == ref(a, b), (a, b, z)
    assert len(set(got.values())) == len(got)  # injective on the grid


# --------------------------------------------------- repetition filters

_rep_word = st.text(alphabet="abc", min_size=1, max_size=3)
_rep_sentence = st.lists(_rep_word, min_size=1, max_size=6).map(" ".join)


@given(st.lists(_rep_sentence, min_size=1, max_size=10))
@settings(max_examples=8, deadline=None)
def test_repetition_scores_match_counter_reference(sents):
    """The one-pass sorted-array aggregates in repetition_scores agree
    with a collections.Counter reference on arbitrary sentence lists —
    the exclude-first-occurrence dup fractions and the mode word share
    (the known-documents pin covers fixed cases; this covers the run-
    length bookkeeping on adversarial duplicate structures)."""
    from collections import Counter

    from cs598vectordb_spark.operators.textops import repetition_scores

    spark = _spark()
    text = ". ".join(sents) + "."
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = repetition_scores(docs).collect()[0]

    sc = Counter(sents)
    n = len(sents)
    chars = sum(len(s) for s in sents)
    dup_chars = sum((c - 1) * len(s) for s, c in sc.items() if c > 1)
    words = Counter(w for s in sents for w in s.split())
    n_w = sum(words.values())

    assert (got.n_sents, got.n_words) == (n, n_w)
    assert abs(got.dup_sent_frac - (n - len(sc)) / n) <= 5.1e-5
    assert abs(got.dup_sent_char_frac - dup_chars / max(chars, 1)) <= 5.1e-5
    assert abs(got.top_word_frac - max(words.values()) / n_w) <= 5.1e-5

    # the r11 n-gram bank against the same Counter reference: top-gram
    # char products (tie -> lexicographically smallest gram, clamped to
    # 1.0) and distinct-position duplicate coverage
    from cs598vectordb_spark.operators.textops import (
        GOPHER_DUP_NGRAM_THRESHOLDS,
        GOPHER_TOP_NGRAM_THRESHOLDS,
    )

    seq = [w for s in sents for w in s.split()]
    wc = sum(len(w) for w in seq)

    def ref_top(ng: int) -> float:
        grams = [" ".join(seq[i : i + ng]) for i in range(len(seq) - ng + 1)]
        if not grams:
            return 0.0
        gc = Counter(grams)
        m = max(gc.values())
        g = min(x for x, c in gc.items() if c == m)
        return min(m * (len(g) - (ng - 1)) / max(wc, 1), 1.0)

    def ref_dup(ng: int) -> float:
        grams = [" ".join(seq[i : i + ng]) for i in range(len(seq) - ng + 1)]
        gc = Counter(grams)
        cov: set[int] = set()
        for i, g in enumerate(grams):
            if gc[g] > 1:
                cov.update(range(i, i + ng))
        return sum(len(seq[i]) for i in cov) / max(wc, 1)

    for ng in GOPHER_TOP_NGRAM_THRESHOLDS:
        assert abs(got[f"top_{ng}gram_char_frac"] - ref_top(ng)) <= 5.1e-5, ng
    for ng in GOPHER_DUP_NGRAM_THRESHOLDS:
        assert abs(got[f"dup_{ng}gram_char_frac"] - ref_dup(ng)) <= 5.1e-5, ng


@given(
    st.lists(  # per-tenant frame sizes (0-size frames excluded: a
        st.integers(1, 12),  # tenant always submits at least one query)
        min_size=1,
        max_size=6,
    ),
    st.integers(1, 30),  # max_batch_queries cap
)
@settings(max_examples=60, deadline=None)
def test_dynamic_batcher_partition_property(sizes, cap):
    """DynamicBatcher is pure slot arithmetic: for ANY set of
    concurrently-submitted tenant frames and ANY query cap, each
    tenant gets exactly the rows a solo probe of its frame would
    produce, no tenant sees another tenant's q_ids, and every submit
    is answered. The fake probe derives vec_id from the query PAYLOAD
    (slot-invariant), honoring the documented contract that q_id is an
    opaque label — the first draft derived it from q_id and this very
    test falsified it at the first multi-tenant chunk (slot ≥ 1 sees
    remapped ids): the contract now lives in DynamicBatcher's
    docstring because hypothesis found it."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    from cs598vectordb_spark.operators.serving import DynamicBatcher

    def fake_probe(qpdf):
        key = qpdf["embedding"].map(lambda v: int(v[0]))  # payload, not q_id
        return pd.DataFrame(
            {
                "q_id": qpdf["q_id"].astype("int64"),
                "rank": 1,
                "vec_id": key.astype("int64") * 3 + 1,
                "dist": 0.25,
            }
        )

    frames = []
    start = 0
    for n in sizes:  # disjoint q_id ranges per tenant; payload echoes id
        frames.append(
            pd.DataFrame(
                {
                    "q_id": range(start, start + n),
                    "embedding": [[float(start + j)] for j in range(n)],
                }
            )
        )
        start += n

    b = DynamicBatcher(fake_probe, max_wait_ms=30.0, max_batch_queries=cap)
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        got = list(pool.map(b.submit, frames))

    assert b.n_submits == len(frames)
    assert 1 <= b.n_probe_calls <= len(frames)
    for f, g in zip(frames, got):
        assert sorted(g["q_id"]) == sorted(f["q_id"])
        assert list(g["vec_id"]) == [int(q) * 3 + 1 for q in g["q_id"]]


# ------------------------------------------------- distributed kNN join

_vec3 = st.lists(
    st.integers(-40, 40).map(lambda i: i / 5.0),
    min_size=3,
    max_size=3,
)


@given(st.lists(_vec3, min_size=4, max_size=18), st.integers(2, 7))
@settings(max_examples=6, deadline=None)
def test_knn_join_full_probe_matches_bruteforce_property(vecs, nlist):
    """Algebraic contract of the distributed kNN join on ARBITRARY
    vector sets (not fixtures): at full probe the cogrouped cell join
    equals the numpy brute force under the shared (6-dp-rounded cosine
    desc, vec_id asc) comparator — including degenerate geometries
    (duplicate vectors, collinear directions, nlist above the distinct
    point count) that hand-written fixtures underrepresent."""
    import pandas as pd

    from cs598vectordb_spark.operators.knnjoin import knn_join

    spark = _spark()
    ids = np.arange(len(vecs), dtype=np.int64)
    X = np.asarray(vecs, dtype=np.float64)
    assume(np.all(np.linalg.norm(X, axis=1) > 1e-6))
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]})
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    q = emb.selectExpr("vec_id as q_id", "embedding")
    k = 3
    got = sorted(
        (r.q_id, r.rank, r.vec_id, r.cos_sim)
        for r in knn_join(
            q, emb, k=k, nlist=nlist, metric="cosine", exclude_self=True
        ).collect()
    )
    # brute force on the FLOAT32-cast vectors (what the engine scored)
    Xf = X.astype(np.float32).astype(np.float64)
    Xn = Xf / np.linalg.norm(Xf, axis=1, keepdims=True)
    S = np.round(Xn @ Xn.T, 6)
    want = []
    for j in range(len(ids)):
        s = S[:, j].copy()
        s[j] = -np.inf
        order = np.lexsort((ids, -s))[: min(k, len(ids) - 1)]
        want.extend(
            (int(ids[j]), r + 1, int(ids[o]), float(s[o]))
            for r, o in enumerate(order)
        )
    assert got == sorted(want)


_ws_run = st.text(alphabet=" \t\n\u00a0\u2003\u3000", min_size=1, max_size=3)
_word = st.text(alphabet="abXYéßİ日本\U0001f642", min_size=1, max_size=4)
_doc_text = st.one_of(
    st.none(),
    st.just(""),
    _ws_run,
    st.lists(st.tuples(_word, _ws_run), max_size=6).map(
        lambda parts: "".join(w + s for w, s in parts)
    ),
)


_repeated_text = st.tuples(st.lists(_word, min_size=1, max_size=3), st.integers(2, 4)).map(
    lambda wr: " ".join(wr[0] * wr[1])  # the same shingles over and over
)
_hash_list = st.one_of(
    st.none(),
    st.lists(st.one_of(st.none(), st.integers(0, 1_000_000_006)), max_size=5),
)


@given(
    st.lists(st.one_of(_doc_text, _repeated_text), min_size=1, max_size=30),
    st.lists(_hash_list, min_size=1, max_size=12),
    st.integers(1, 3),
    st.sampled_from([2, 3, 5]),
    st.sampled_from([3, 4, 7]),
)
@settings(max_examples=8, deadline=None)
def test_minhash_kernel_matches_python_reference(spark, texts, hash_lists, parts, chunk, batch):
    """minhash_signatures' Arrow kernel against the pure-Python py_sig
    reference on generated NULL, empty, whitespace-only, short,
    non-ASCII and repeated-shingle documents, spread over `parts`
    partitions, with Arrow batches of `batch` rows straddling
    SHINGLE_CHUNK_ROWS = `chunk`: every mh_i equals the reference, and
    `mh_0 IS NULL` holds exactly for the docs with an empty shingle set.
    On raw (id, hashes) input the kernel skips NULL elements and gives
    all-NULL for a NULL or all-NULL array."""
    import pytest
    from pyspark.sql import functions as F

    from cs598vectordb_spark.functions.text import MINHASH_PRIME
    from cs598vectordb_spark.operators import dedup
    from tests.test_dedup_text import py_sig

    params = dedup.minhash_params(16)
    mh = [f"mh_{i}" for i in range(16)]

    def frame(rows, ddl):
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), ddl)

    docs = frame(list(enumerate(texts)), "doc_id long, text string")
    hashed = frame(list(enumerate(hash_lists)), "doc_id long, hashes array<bigint>")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, str(batch))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "SHINGLE_CHUNK_ROWS", chunk)
            sigs = dedup.minhash_signatures(docs, 16)
            got = {r["doc_id"]: [r[c] for c in mh] for r in sigs.collect()}
            null0 = {r["doc_id"] for r in sigs.filter(F.col("mh_0").isNull()).collect()}
        raw = {
            r["doc_id"]: [r[c] for c in mh]
            for r in dedup.minhash_signatures(None, 16, hashed=hashed).collect()
        }
    finally:
        spark.conf.set(conf, prev)

    assert got == {i: py_sig(t) for i, t in enumerate(texts)}
    assert null0 == {i for i, t in enumerate(texts) if len((t or "").lower().split()) < 3}
    for i, hs in enumerate(hash_lists):
        vals = [h for h in hs or [] if h is not None]
        want = [min((h * a + b) % MINHASH_PRIME for h in vals) for a, b in params] if vals else [None] * 16
        assert raw[i] == want, (i, hs)


@given(
    st.lists(st.tuples(st.integers(0, 4), _doc_text), min_size=1, max_size=12),
    st.booleans(),
)
@settings(max_examples=10, deadline=None)
def test_term_kernels_match_explode_groupby(spark, rows, unique_keys):
    """term_counts / feature_counts against explode + groupBy on
    generated NULL, empty, whitespace-only and non-ASCII text. On unique
    keys the rows are equal. On duplicate keys the kernels do not merge:
    each input row emits its own (key, term, count) rows, and the
    per-(key, term) sums equal the explode form."""
    from collections import Counter

    from pyspark.sql import functions as F

    from cs598vectordb_spark.functions.text import normalize_ws, tokens
    from cs598vectordb_spark.functions.tokenstream import feature_counts, term_counts
    from cs598vectordb_spark.operators.textops import _dsir_feats_expr

    if unique_keys:
        rows = list({k: (k, t) for k, t in rows}.values())
    base = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .coalesce(2)
        .select("doc_id", tokens(normalize_ws("text")).alias("_ws"))
    )
    wide = base.select("doc_id", "_ws", _dsir_feats_expr().alias("_f"))
    collected = wide.collect()
    for kernel, arr in ((term_counts, "_ws"), (feature_counts, "_f")):
        got = sorted(tuple(r) for r in kernel(base, ["doc_id"], "_ws").collect())
        explode = sorted(
            tuple(r)
            for r in wide.select("doc_id", F.explode(arr).alias("t"))
            .groupBy("doc_id", "t")
            .agg(F.count(F.lit(1)))
            .collect()
        )
        per_input_row = sorted(
            (r.doc_id, t, c) for r in collected for t, c in Counter(r[arr] or []).items()
        )
        assert got == per_input_row
        sums = Counter()
        for k, t, c in got:
            sums[(k, t)] += c
        assert sorted((k, t, c) for (k, t), c in sums.items()) == explode
        if unique_keys:
            assert got == explode


# ------------------------------------------------- batched beam walk


def _per_query_walk(ids, X, nbr_pos, sq_x, bQ, bq_ids, qsel, k, beam, rounds, n_entry):
    """The per-query beam walk the batched `_beam_walk_block` replaced,
    kept verbatim as the differential reference. `nbr_pos` is a list of
    per-row position arrays with dangling edges already dropped."""
    c = len(ids)
    entries = np.unique(np.linspace(0, c - 1, min(n_entry, c)).astype(np.int64))
    out_q, out_id, out_d = [], [], []
    for j in qsel:
        q = bQ[j]
        sq_q = float(q @ q)
        dist = np.full(c, np.inf)
        cand = entries
        dist[cand] = np.maximum(sq_x[cand] - 2.0 * (X[cand] @ q) + sq_q, 0.0)
        for _ in range(rounds):
            scored = np.flatnonzero(np.isfinite(dist))
            b_eff = min(beam, len(scored))
            top = scored[np.argpartition(dist[scored], b_eff - 1)[:b_eff]]
            new = np.unique(np.concatenate([nbr_pos[p] for p in top]))
            new = new[~np.isfinite(dist[new])]
            if len(new) == 0:
                break
            dist[new] = np.maximum(sq_x[new] - 2.0 * (X[new] @ q) + sq_q, 0.0)
        scored = np.flatnonzero(np.isfinite(dist))
        k_eff = min(k, len(scored))
        top = scored[np.argpartition(dist[scored], k_eff - 1)[:k_eff]]
        order = np.lexsort((ids[top], dist[top]))
        top = top[order]
        out_q.append(np.full(len(top), bq_ids[j], dtype=np.int64))
        out_id.append(ids[top])
        out_d.append(dist[top])
    return out_q, out_id, out_d


@given(
    st.integers(1, 300),  # segment rows c
    st.integers(1, 6),  # dim
    st.integers(0, 12),  # max neighbour-list length
    st.floats(0.0, 0.5),  # share of duplicate rows
    st.integers(1, 40),  # queries in the block
    st.integers(1, 12),  # k
    st.integers(1, 40),  # beam
    st.integers(0, 6),  # rounds
    st.integers(1, 20),  # n_entry
    st.integers(1, 40),  # queries per chunk
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=150, deadline=None)
def test_batched_beam_walk_matches_per_query_walk(
    c, dim, degree, dup_share, nq, k, beam, rounds, n_entry, chunk, seed
):
    """The batched walk against the per-query walk on generated
    segments: c from 1 to 300 (also below k, beam and n_entry), empty and
    NULL neighbour lists, dangling edges (ids not in the segment), and
    duplicate vectors, which tie exactly. WALK_CHUNK_CELLS is shrunk so
    the query block straddles chunks, and the chunked rows must equal
    the one-chunk rows bit for bit. Ids are equal per query except
    among rows whose exact distances tie within 1e-9 relative;
    distances are allclose at rtol 1e-12.

    A duplicate row copies its source row's neighbour list too: which
    of two tied rows a beam keeps is argpartition's choice in both
    walks, and with equal lists the choice cannot change what the walk
    visits next."""
    import pytest

    from cs598vectordb_spark.operators import graph

    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(10 * c + 10, size=c, replace=False)).astype(np.int64)
    X = rng.standard_normal((c, dim))
    lists = [
        None if rng.random() < 0.1 else rng.choice(10 * c + 10, size=rng.integers(0, degree + 1))
        for _ in range(c)
    ]
    for r in np.flatnonzero(rng.random(c) < dup_share):
        src = int(rng.integers(0, c))
        X[r], lists[r] = X[src], lists[src]
    sq_x = np.square(X).sum(axis=1)
    n_total = nq + 3
    bQ = rng.standard_normal((n_total, dim))
    bq_ids = 1000 + 7 * np.arange(n_total, dtype=np.int64)
    qsel = np.sort(rng.choice(n_total, size=nq, replace=False))

    def positions(n):  # the old Arrow-path decode: dangling ids dropped
        if n is None:
            return np.empty(0, dtype=np.int64)
        p = np.minimum(np.searchsorted(ids, n), c - 1)
        return p[ids[p] == n]

    ref_q, ref_id, ref_d = _per_query_walk(
        ids, X, [positions(n) for n in lists], sq_x, bQ, bq_ids, qsel,
        k, beam, rounds, n_entry,
    )
    counts = [0 if n is None else len(n) for n in lists]
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
    flat = np.concatenate([n for n in lists if n is not None] + [np.empty(0, np.int64)])
    nbr = graph._adjacency_positions(ids, flat, offsets)
    args = (ids, X, nbr, sq_x, bQ, bq_ids, qsel, k, beam, rounds, n_entry)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "WALK_CHUNK_CELLS", chunk * c + int(rng.integers(0, c)))
        got_q, got_id, got_d = graph._beam_walk_block(*args)
    # a query's rows do not depend on the other queries in its chunk
    for want, have in zip((got_q, got_id, got_d), graph._beam_walk_block(*args)):
        assert np.array_equal(want, have)

    pos_of = {int(v): i for i, v in enumerate(ids)}
    assert np.all(np.diff(got_q) >= 0)
    for j, rq, rid, rd in zip(qsel, ref_q, ref_id, ref_d):
        m = got_q == bq_ids[j]
        gid, gd = got_id[m], got_d[m]
        assert len(gid) == len(rid) and len(set(gid.tolist())) == len(gid)
        assert np.allclose(gd, rd, rtol=1e-12)
        exact = lambda v: float(np.square(X[pos_of[int(v)]] - bQ[j]).sum())
        for a, b in zip(rid, gid):
            if a != b:
                assert np.isclose(exact(a), exact(b), rtol=1e-9, atol=0), (j, a, b)


_candidate = st.tuples(
    st.sampled_from([0, 1, 2, 7, 1 << 40, (1 << 40) + 3]),  # q_id, batcher slots too
    st.integers(0, 40),  # vec_id
    st.one_of(st.sampled_from([0.0, 0.5, 2.25]), st.floats(0.0, 10.0)),  # exact ties
)


@given(st.lists(_candidate, max_size=60), st.one_of(st.just(1), st.integers(1, 8)))
@example(rows=[], k=3)
@example(rows=[(0, 5, 0.0), (0, 2, 0.0), (0, 9, 0.0), (1, 4, 0.5)], k=1)
@example(rows=[(3, 1, 1.0), (3, 2, 0.0), (4, 7, 0.0)], k=5)
@settings(max_examples=20, deadline=None)
def test_topk_merge_matches_row_number_window(spark, rows, k):
    """The served probe's numpy top-k cut (`_topk_merge`, run in each
    walk task and again on the driver) against the window it replaces,
    `row_number() over (partition by q_id order by dist, vec_id) <= k`,
    on generated candidate sets: exact distance ties (0.0 among them),
    queries with fewer than k candidates, k = 1 and empty input. The
    (q_id, rank, vec_id, dist) rows are equal, and the helper returns
    them sorted by (q_id, rank)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cs598vectordb_spark.operators.graph import _topk_merge

    q = np.array([r[0] for r in rows], dtype=np.int64)
    vid = np.array([r[1] for r in rows], dtype=np.int64)
    dist = np.array([r[2] for r in rows], dtype=np.float64)
    mq, rank, mid, md = _topk_merge(q, vid, dist, k)
    got = list(zip(mq.tolist(), rank.tolist(), mid.tolist(), md.tolist()))
    assert got == sorted(got, key=lambda r: (r[0], r[1]))

    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    want = (
        spark.createDataFrame(rows, "q_id long, vec_id long, dist double")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
        .collect()
    )
    assert sorted(got) == sorted(tuple(r) for r in want)
