"""Central inventory wiring SURVEY.md §2 operators to the driver contract.

Each engine op registers a (spark, sf_dir) -> DataFrame callable and,
where ANSI/DuckDB-expressible, the equivalent oracle SQL. Column names and
types are aligned on both sides (the driver sorts columns by name and
hashes values). Floating aggregates are rounded identically on both sides
(config.ORACLE_ROUND) so summation-order fp noise cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cs598vectordb_spark.config import DEFAULT_K, DEFAULT_N_QUERIES, SMOKE_N_QUERIES

QueryFn = Callable[[SparkSession, str], DataFrame]

# The SF the external gate grades at; sidecar-backed oracles bake their
# export paths for this fixture in the static oracle_sql() contract.
GRADING_SF = "/root/testdata/sf0.01"

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
# name -> fn(sf_dir) -> SQL, for oracles whose text embeds an SF-derived
# sidecar path (dsir_logweights, bpe_token_stats). The static _ORACLES
# string is the builder baked at GRADING_SF (what the driver runs);
# oracle_sql_for() re-bakes for tools/check_oracle.py under an
# SPARK_GRAFT_ORACLE_SF override so the twin joins the RIGHT-scale
# sidecar instead of falsely failing (ADVICE r13).
_ORACLE_BUILDERS: dict[str, Callable[[str], str]] = {}


def register(
    name: str,
    oracle: str | None = None,
    oracle_builder: Callable[[str], str] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle_builder is not None:
            # baked lazily (_bake_builders) so a builder may reference
            # helpers defined later in its registering module
            _ORACLE_BUILDERS[name] = oracle_builder
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _bake_builders() -> None:
    """Materialize builder-backed oracles at GRADING_SF into _ORACLES
    (once, after every registering module has fully imported)."""
    for name, builder in _ORACLE_BUILDERS.items():
        if name not in _ORACLES:
            _ORACLES[name] = builder(GRADING_SF)


# The external correctness gate grades the FIRST ~50 registered entries
# only. The order below is a freshness rotation, re-curated each round:
# entries whose newest green driver row is oldest go first, then a
# filler set of recently-green entries chosen for (a) implementations
# touched this round, (b) single-green former reds, (c) one §2-core
# representative per op family. The invariant the rotation maintains:
# every ORACLED entry's newest green row is at most two rounds old.
#
# ORACLE SLOT BUDGET + RETIREMENT POLICY (r9). With a 50-slot gate and
# the ≤2-rounds freshness invariant the hard capacity is 100 oracled
# entries. Before REGISTERING a new oracled entry, recount: (entries
# due next round) + (planned births) must stay ≤ 50, and total oracled
# must stay ≤ 96 so ≥4 slots of slack survive for the next round's
# births. When at capacity, RETIRE an oracle instead of skipping the
# birth, preferring (in order): (1) an entry whose oracle is literally
# shared with / derivable from another oracled entry (knn_exact_expr
# shared knn_exact's SQL verbatim), (2) a near-duplicate evidence pair
# (media_decode_pgm vs media_decode_ppm — same netpbm decoder modulo
# magic byte; media_resize vs media_resize_pixels — plan vs pixels),
# (3) closed-form arithmetic an in-process Catalyst recomputation can
# pin as strongly as DuckDB can. Retirement = drop the oracle= arg,
# keep the queries() entry (rows-only), note "ORACLE RETIRED r{N}" in
# the entry docstring, and land a value-exact pytest pin registered in
# _ROWS_ONLY_EVIDENCE below (enforced by tests/test_registry.py).
# Retired r9: knn_exact_expr, knn_collect, media_decode_pgm,
# media_resize → 96 oracled, slack 4.
# Promoted r10 (from the r9 queue): stream_interval_join_full,
# mixture_sample → 98 oracled, slack 2.
# Promoted r11: repetition_scores (the verdict-r10 queue; its r11
# evidence also CHANGED — the Gopher n-gram bank added 9 columns) →
# 99 oracled, slack 1.
# r12 ROTATION (executed): retired doc_repetition + token_counts
# (value-exact pins below), promoted lm_surprisal + clean_text — both
# graded green first time in CORRECTNESS_r12. Net 99 oracled, slack 1.
# r13 ROTATION (executed; due set recomputed from CORRECTNESS_r11∪r12
# per the standing caution: exactly the 50 r11-greens − token_counts
# (retired r12) = 49 due + ONE spare slot — fitting BOTH queued births
# therefore needs ONE retirement FROM THE DUE SET, and a second
# retirement keeps the steady state at slack 1 instead of pinning the
# pool at the hard 100 cap):
#   retire minhash_signatures (shared-oracle class: its SQL was the
#     literal `sigs` CTE embedded verbatim in the still-graded
#     minhash_lsh_dedup / dedup_clusters / jaccard_topk oracles;
#     r13-due → frees a due slot) and simhash_banded (near-duplicate-
#     evidence class: same _SIMHASH_CTES as the still-graded
#     simhash_near_dups, pair set a strict hamming≤3 subset of its
#     hamming≤7 output; also r13-due), both with value-exact pure-
#     Python pins below;
#   promote dsir_logweights + stream_quality_gate (the r12 queue, both
#     dress-rehearsed vs DuckDB in pytest before promotion);
#   slot 50 = explicit refresh of lm_surprisal (rotation preference
#     (b): single-green former queue entry gets its second green).
# Net: 99 − 2 + 2 = 99 oracled, slack 1. r13 head was 2 births + 47
# due + 1 lm_surprisal refresh = 50 exactly; no auto-fill.
# r14 ROTATION (executed; due set recomputed from CORRECTNESS_r12∪r13
# per the standing caution: exactly the 50 r12-greens − lm_surprisal
# (refreshed r13) = 49 due + ONE spare slot — fitting BOTH queued
# births therefore needed ONE retirement FROM THE DUE SET, the plan
# the r13 verdict ordered):
#   retire scan_fvecs (shared-evidence class (2): S2 is S1 plus a
#     float32 view-cast — the same write_vecs/_decode_blob shard
#     reader as the STILL-GRADED scan_ivecs (sources/vecfiles.py:
#     245-249), the decode round-trip is bit-exact-pinned
#     (tests/test_sources.py::test_fvecs_roundtrip_multishard) and the
#     norm dashboard carries a new pure-Python value-exact pin
#     (::test_scan_fvecs_value_exact); its _norm_dashboard projection
#     is shared verbatim with the frame-equality-pinned v2/stream
#     twins);
#   promote bpe_token_stats + exact_substring_stats (the r13 queue,
#     both dress-rehearsed vs DuckDB in pytest before promotion).
# Net: 99 − 1 + 2 = 100 oracled — the hard cap, slack 0: ANY r15+
# birth requires a same-round retirement (candidates by policy class:
# scan_ivecs once scan_fvecs' pin has aged in, media_decode_wav vs
# _bmp near-duplicate evidence, closed-form metrics entries).
# r15 ROTATION (executed; due set recomputed from CORRECTNESS_r13∪r14
# per the standing caution: r13 and r14 greens are disjoint 50+50, so
# the due set is EXACTLY the 50 r13-green entries — the full head,
# ZERO spare slots): regrade those 50, NO births (the promotion queue
# is empty and the verdict ordered births only when paired with a
# same-round retirement; nothing this round needed one). Steady state
# from here is the 50/50 ping-pong at the 100 cap; any future birth
# still requires a same-round retirement FROM THE DUE SET (the only
# retirement that frees a slot in the round it lands).
# r16 ROTATION (executed; due set recomputed from CORRECTNESS_r14∪r15:
# disjoint 50+50 greens covering all 100 oracled names, so the due set
# is EXACTLY the 50 r14-green entries — zero slack). The two r15-queued
# births are funded by TWO retirements FROM THE DUE SET, the plan the
# r15 verdict ordered:
#   retire scan_ivecs (shared-evidence class (2): the shard
#     writer/reader is the retired-and-pinned scan_fvecs' own
#     write_vecs/_decode_blob path modulo the int32 view; value-exact
#     pure-Python pin tests/test_sources.py::test_scan_ivecs_value_exact)
#   and media_decode_wav (near-duplicate-evidence class (2): same md5
#     payload tiling through the engine codec as the STILL-GRADED
#     media_decode_bmp; value-exact pin
#     tests/test_multimodal.py::test_media_decode_wav_value_exact);
#   promote bm25_search + knn_join (the r15 queue, both dress-rehearsed
#     vs DuckDB in pytest and check_oracle-verified before promotion).
# Net: 100 − 2 + 2 = 100 oracled, slack 0; r16 head = 48 due + 2
# births = 50 exactly. The r17 due set will be the 50 r15-greens.
# r17 ROTATION (executed; due set recomputed from CORRECTNESS_r15∪r16:
# disjoint 50+50 greens covering all 100 oracled names, so the due set
# is EXACTLY the 50 r15-green entries — zero slack). The r16-queued
# birth is funded by ONE retirement FROM THE DUE SET, the plan the r16
# verdict ordered:
#   retire media_decode_ppm (near-duplicate-evidence class (2): the
#     same netpbm decoder as the r9-retired-and-pinned media_decode_pgm
#     modulo the magic byte and channel count; value-exact pure-Python
#     pin tests/test_multimodal.py::test_media_decode_ppm_value_exact);
#   promote hybrid_rrf_search (the r16 queue, dress-rehearsed vs DuckDB
#     in pytest and check_oracle-verified before promotion; its vector
#     leg now ranks on the 6-dp-ROUNDED cosine on both sides — ADVICE
#     r16 — matching the promoted knn_join/bm25 twins' discipline).
# Net: 100 − 1 + 1 = 100 oracled, slack 0; r17 head = 49 due + 1
# birth = 50 exactly. The r18 due set will be the 50 r16-greens; the
# r18 queue holds knn_join_l2 (queries_vector.KNN_JOIN_L2_QUEUED_SQL).
# r18 ROTATION (executed; due set recomputed from CORRECTNESS_r16∪r17:
# disjoint 50+50 greens covering all 100 oracled names, so the due set
# is EXACTLY the 50 r16-green entries — zero slack). The r17-queued
# birth is funded by ONE retirement FROM THE DUE SET, the plan the r17
# verdict adjudicated (What's wrong #2 verified BOTH candidate-pair
# evidence-class claims against the actual oracle SQL):
#   retire knn_cosine (shared-evidence class (1): its oracle was
#     knn_ip's GEMM cross-join/rank twin modulo the norm denominator,
#     and the cosine rank discipline stays DuckDB-graded through the
#     still-oracled hybrid_rrf_search vector leg and the knn_join
#     self-join twin; knn_ip stays — it is the ONLY oracle exercising
#     the kernel's metric="ip" branch; value-exact numpy-bruteforce pin
#     tests/test_knn.py::test_knn_cosine_value_exact);
#   promote knn_join_l2 (the r17 queue, dress-rehearsed vs DuckDB in
#     pytest and check_oracle-verified — by both the r17 builder and
#     the r17 judge independently — before promotion).
# Net: 100 − 1 + 1 = 100 oracled, slack 0; r18 head = 49 due + 1
# birth = 50 exactly. The r19 due set will be the 50 r17-greens; the
# r19 queue holds semantic_decontamination and doc_repetition (the
# r12-retired trigram oracle resurrected — the verdict-r17 candidate
# pii_redact was REJECTED after measuring the fixture: zero
# email/IPv4/phone matches at sf0.01, so its twin would grade only a
# no-false-positive md5 pass-through; doc_repetition's twin grades
# live trigram arithmetic on every document).
# r19 ROTATION (executed; due set recomputed from CORRECTNESS_r17∪r18:
# disjoint 50+50 greens covering all 100 oracled names, so the due set
# is EXACTLY the 50 r17-green entries — zero slack). The first queued
# birth is funded by ONE retirement FROM THE DUE SET. The r18
# verdict's named candidate media_frame_sample was REJECTED at
# planning time by the recount itself: it is r18-GRADED (the other
# rotation half, not due until r20) — retiring it would leave the r19
# head at 51 and the r20 due set short; the r11 "recompute, never
# from memory" caution catching a verdict this time. The retirement
# chosen from the actual due set, evidence classes verified against
# the SQL texts:
#   retire stream_interval_join_outer (shared-evidence class (1): its
#     oracle's CTEs — ev/wm/v/c, matched set m, expired-view NULL set
#     u — were character-identical to the prefix of the STILL-GRADED
#     stream_interval_join_full's oracle, which grades the same
#     interval_join_stream builder at how="full_outer" = outer's
#     semantics PLUS the orphan-click branch; the inner matched set is
#     additionally graded via stream_interval_join, also due this
#     round. Rows-only pins: the exactly-once NULL-emission closed
#     form + the eviction-tie strictness test, see
#     _ROWS_ONLY_EVIDENCE);
#   promote semantic_decontamination (first in the r19 queue,
#     dress-rehearsed in pytest each round since r17 and
#     check_oracle-green at sf0.01).
# Net: 100 − 1 + 1 = 100 oracled, slack 0; r19 head = 49 due + 1
# birth = 50 exactly. The r20 due set will be the 50 r18-greens; the
# r20 queue holds doc_repetition (one deep).
_PRIORITY: tuple[str, ...] = (
    # --- the r17-green set not re-graded in round 18; newest green row
    # is r17, so the ≤2-rounds invariant makes all 49 still-oracled
    # ones due now (stream_interval_join_outer retired this round).
    "asof_attribution", "brand_top_parts", "customer_number_extract",
    "customer_order_gaps", "customer_order_stats", "dedup_clusters",
    "delete_pct", "doc_stats", "dsir_logweights",
    "events_first5_series", "events_last5_summary", "fingerprints",
    "funnel_steps", "hybrid_rrf_search", "ingest", "insert_restore",
    "jaccard_topk", "knn_exact", "knn_exact_pca", "knn_filtered",
    "knn_post_delete", "lang_detect", "lineitem_rollup",
    "lm_surprisal", "local_supplier_volume", "media_dedup",
    "order_priority_count", "orders_cube", "priority_customers_setops",
    "quality_scores", "recall_low_dim", "repetition_scores",
    "revenue_change", "sessionize", "shipping_priority",
    "source_summary", "sq8_encode", "sql_text_surface", "status_pivot",
    "stratified_sample", "stream_events_hourly",
    "stream_ingest_updates", "stream_interval_join",
    "stream_late_data", "stream_merge_upserts_cow",
    "stream_quality_gate", "stream_sessionize", "stream_sink_parquet",
    "upsert_guard",
    # --- the r19 birth (first green row lands this round)
    "semantic_decontamination",
    # ---------------- 50-slot grading boundary is here ----------------
    # r18-green entries not re-graded this round (due back in r20, all
    # 50: acctbal_deciles, bm25_search, bpe_token_stats,
    # bucketed_customer_orders, chunk_documents, clean_text,
    # cohort_retention, curate_corpus, decimal_revenue,
    # decontamination, dedup_exact, distance_histogram,
    # embedding_near_dup, event_value_percentiles, events_hourly,
    # exact_substring_stats, hash_split, knn_exact_2k, knn_ip,
    # knn_join, knn_join_l2, load_dataset, media_decode_bmp,
    # media_features, media_frame_sample, media_resize_pixels,
    # media_summary, merge_upsert, minhash_lsh_dedup, mixture_sample,
    # ngram_profile, pack_sequences, pricing_summary,
    # props_json_extract, range_click_burst, range_search,
    # salted_user_stats, scan_logs, semantic_doc_search,
    # shingle_cardinality_kmv, simhash_near_dups, sq8_error,
    # stream_dedup, stream_interval_join_full, stream_knn,
    # stream_merge_upserts, stream_near_dedup, stream_stateful_counts,
    # stream_static_enrich, tfidf_keywords)
)

# Every rows-only entry's evidence pin, name -> pytest node (the test
# that would fail if the operator's semantics broke). Enforced complete
# by tests/test_registry.py::test_rows_only_entries_have_evidence —
# registering a rows-only entry without a row here fails the suite.
# Recall-metric twins (X_recall) share their probe's floor test; sweep
# entries (X_autotune) share their probe family's floor test, with the
# sweep selection rule itself pinned once by test_autotune_meets_target.
_ROWS_ONLY_EVIDENCE: dict[str, str] = {
    # retired-oracle entries (r9) — value-exact pins
    "knn_exact_expr": "tests/test_knn.py::test_kernel_matches_expression",
    "knn_collect": "tests/test_knn.py::test_knn_collect_matches_exact_rows",
    "media_decode_pgm": "tests/test_multimodal.py::test_pgm_stats_match_catalyst_bytes",
    "media_resize": "tests/test_multimodal.py::test_resize_plan_matches_metadata",
    # vector / PCA
    "pca_spectrum": "tests/test_knn.py::test_pca_invariants",
    # IVF family
    "knn_ivf": "tests/test_index.py::test_ivf_recall_floor",
    "ivf_recall": "tests/test_index.py::test_ivf_recall_floor",
    "knn_ivf_materialized": "tests/test_plans.py::test_ivf_partition_pruning_and_equality",
    "knn_ivf_mllib": "tests/test_index.py::test_ivf_mllib_recall_floor",
    "ivf_autotune": "tests/test_index.py::test_autotune_meets_target",
    # distributed kNN join (r15): knn_join (full probe) PROMOTED to an
    # oracle r16 — the partial-probe scale path stays rows-only
    # (approximate by design), recall-floor + pruning pinned
    "knn_join_ivf": "tests/test_knnjoin.py::test_knn_join_partial_probe_recall_floor",
    # knn_join_l2 PROMOTED to an oracle r18 (queued r17, funded by the
    # knn_cosine retirement); its full-probe-exactness pin remains as
    # defense in depth but is no longer the primary evidence.
    # semantic_decontamination PROMOTED to an oracle r19 (queued r17,
    # funded by the stream_interval_join_outer retirement); its
    # numpy-bruteforce pin and the dress-rehearsal DuckDB comparison
    # remain as defense in depth but are no longer the primary
    # evidence.
    # IVF-PQ
    "knn_ivfpq": "tests/test_pq.py::test_ivfpq_recall_floors",
    "knn_ivfpq_refined": "tests/test_pq.py::test_ivfpq_recall_floors",
    "ivfpq_autotune": "tests/test_pq.py::test_ivfpq_recall_floors",
    "dynamic_ivfpq": "tests/test_updates_metrics.py::test_dynamic_ivfpq_recovers_recall",
    "dynamic_overlap_ivfpq": "tests/test_index.py::test_dynamic_overlap_measures_during_update",
    # graph family
    "knn_graph_layered2": "tests/test_index.py::test_layered_graph2_recall_and_plan",
    "knn_graph2_materialized": "tests/test_index.py::test_layered2_materialize_roundtrip",
    "knn_graph2_served": "tests/test_index.py::test_graph2_served_matches_pinned",
    "knn_graph2_filtered": "tests/test_index.py::test_graph2_filtered_ann",
    "knn_filtered_adaptive": "tests/test_index.py::test_knn_filtered_adaptive",
    "graph2_autotune": "tests/test_index.py::test_graph2_autotune_frontier",
    # workloads (W1/W2/W3) + metrics artifacts
    "bench_loop": "tests/test_updates_metrics.py::test_bench_loop_steady_state",
    "dynamic_protocol": "tests/test_index.py::test_dynamic_protocol_recall_recovers",
    "recall_degradation": "tests/test_updates_metrics.py::test_recall_degradation_recovers",
    "dynamic_phase_regions": "tests/test_updates_metrics.py::test_plot_series_and_phase_regions_closed_form",
    "plot_series": "tests/test_updates_metrics.py::test_plot_series_and_phase_regions_closed_form",
    "dynamic_overlap": "tests/test_index.py::test_dynamic_overlap_measures_during_update",
    "dynamic_overlap_ivf": "tests/test_index.py::test_dynamic_overlap_measures_during_update",
    "dynamic_overlap_graph2": "tests/test_index.py::test_dynamic_overlap_measures_during_update",
    "multi_tenant": "tests/test_index.py::test_multi_tenant_rows_and_throughput",
    "multi_tenant_graph": "tests/test_index.py::test_multi_tenant_rows_and_throughput",
    "multi_tenant_batched": "tests/test_serving.py::test_batched_results_match_solo",
    "multi_tenant_batched_ivfpq": (
        "tests/test_serving.py::test_batched_ivfpq_matches_solo"
    ),
    # streaming-serving + streaming sketches
    "stream_knn_graph2": "tests/test_streaming.py::test_stream_knn_graph2_recall",
    "stream_knn_graph2_served": (
        "tests/test_streaming.py::test_stream_knn_graph2_served_matches_batch"
    ),
    "multi_tenant_stream_graph2": "tests/test_updates_metrics.py::test_multi_tenant_stream_graph2_summary",
    "stream_index_ingest": "tests/test_streaming.py::test_stream_index_ingest",
    "dynamic_cow_graph2": "tests/test_streaming.py::test_cow_dynamic_protocol_recovers_recall",
    "stream_drop_duplicates": "tests/test_streaming.py::test_stream_drop_duplicates_exactly_once",
    "stream_state_bound": "tests/test_streaming.py::test_stream_state_bound_evicts_with_watermark",
    "stream_join_state_bound": "tests/test_streaming.py::test_stream_join_state_bound",
    "stream_hourly_unique_users": "tests/test_streaming.py::test_stream_hourly_unique_users_sketch_accuracy",
    # text / io / relational sketches
    # bm25_search PROMOTED to an oracle r16 (queued r15, funded by the
    # scan_ivecs retirement); hybrid_rrf_search PROMOTED r17 (queued
    # r16, funded by the media_decode_ppm retirement). Their
    # pure-Python / self-retrieval pins remain as defense in depth but
    # are no longer the primary evidence.
    "compressibility": "tests/test_dedup_text.py::test_compressibility_signal",
    "scan_formats": "tests/test_sources.py::test_scan_formats_roundtrips_losslessly",
    "event_value_percentiles_approx": "tests/test_relational.py::test_approx_percentiles_within_rank_error",
    "pii_redact": "tests/test_dedup_text.py::test_pii_redact_known_documents",
    "semdedup": "tests/test_dedup_text.py::test_semdedup_prunes_planted_duplicates",
    "quality_classifier": (
        "tests/test_quality_model.py::test_quality_classifier_separates_planted_corruption"
    ),
    # lm_surprisal + clean_text PROMOTED to oracles r12 (the r11
    # queue); their closed-form/known-document pins remain as defense
    # in depth but are no longer the primary evidence.
    # retired-oracle entries (r12) — value-exact pins
    "token_counts": "tests/test_dedup_text.py::test_token_counts_closed_form",
    "doc_repetition": "tests/test_dedup_text.py::test_doc_repetition_closed_form",
    # retired-oracle entries (r13) — value-exact pure-Python pins; both
    # remain transitively DuckDB-checked through the sibling oracles
    # that embed the same CTEs (see the rotation comment above)
    "minhash_signatures": (
        "tests/test_dedup_text.py::test_minhash_signatures_value_exact"
    ),
    "simhash_banded": (
        "tests/test_dedup_text.py::test_simhash_banded_value_exact"
    ),
    # dsir_logweights + stream_quality_gate PROMOTED to oracles r13
    # (the r12 queue); their closed-form / batch-parity pins remain as
    # defense in depth but are no longer the primary evidence.
    # exact_substring_stats + bpe_token_stats PROMOTED to oracles r14
    # (the r13 queue, funded by the scan_fvecs retirement); their
    # closed-form pins remain as defense in depth.
    # retired-oracle entry (r14) — bit-exact decode round-trip + pure-
    # Python norm-dashboard recomputation; the shard reader is shared
    # with scan_ivecs (sources/vecfiles.py:245-249)
    "scan_fvecs": "tests/test_sources.py::test_scan_fvecs_value_exact",
    # retired-oracle entries (r16, funding the bm25_search/knn_join
    # promotions) — value-exact pure-Python recomputations of the
    # retired twins' exact arithmetic
    "scan_ivecs": "tests/test_sources.py::test_scan_ivecs_value_exact",
    "media_decode_wav": (
        "tests/test_multimodal.py::test_media_decode_wav_value_exact"
    ),
    # retired-oracle entry (r17, funding the hybrid_rrf_search
    # promotion) — value-exact pure-Python recomputation of the
    # retired twin's byte arithmetic (near-dup evidence class with the
    # r9-retired media_decode_pgm: same netpbm decoder modulo magic)
    "media_decode_ppm": (
        "tests/test_multimodal.py::test_media_decode_ppm_value_exact"
    ),
    # retired-oracle entry (r18, funding the knn_join_l2 promotion) —
    # value-exact numpy-bruteforce recomputation of the retired twin's
    # cosine top-k ranks including the desc tie-break (shared-evidence
    # class (1) with the STILL-GRADED knn_ip: same GEMM cross-join/rank
    # oracle modulo the norm denominator; the cosine rank discipline
    # stays DuckDB-graded via hybrid_rrf_search + knn_join)
    "knn_cosine": "tests/test_knn.py::test_knn_cosine_value_exact",
    # retired-oracle entry (r19, funding the semantic_decontamination
    # promotion) — shared-evidence class (1) with the STILL-GRADED
    # stream_interval_join_full (same interval_join_stream builder;
    # full's oracle = outer's CTEs verbatim + the orphan-click branch)
    # and stream_interval_join (the matched set). Pins: matched set ==
    # batch inner join + exactly-once NULL emission at the watermark
    # closed form, and the eviction-tie strictness fixture
    # (test_interval_join_outer_boundary_is_strict) alongside.
    "stream_interval_join_outer": (
        "tests/test_streaming.py::test_stream_interval_join_outer_exactly_once"
    ),
    "media_audio_frames": (
        "tests/test_multimodal.py::test_audio_frame_features_closed_form"
    ),
    "hard_negatives": "tests/test_knn.py::test_hard_negatives_excludes_near_dups",
    "corpus_topics": "tests/test_dedup_text.py::test_corpus_topics",
    # BPE tokenizer family (r12) — iterative training / ordered-merge
    # application, not ANSI-expressible by design (bpe_token_stats
    # graduated to a sidecar-bridged oracle r14)
    "bpe_merges": "tests/test_tokenizer.py::test_bpe_train_classic_corpus",
    "export_training_set": "tests/test_dedup_text.py::test_export_training_set",
    "curation_funnel_report": (
        "tests/test_dedup_text.py::test_curation_funnel_report"
    ),
    # repetition_scores PROMOTED to an oracle r11 (full Gopher bank in
    # DuckDB) — its known-documents pin and Counter property test remain
    # as defense in depth but are no longer the primary evidence.
    "scan_fvecs_v2": "tests/test_sources.py::test_fvecs_datasource_matches_reader",
    "scan_fvecs_stream": "tests/test_sources.py::test_fvecs_stream_source_incremental",
    "zorder_layout": "tests/test_relational.py::test_zorder_layout_prunes_files",
    "zorder_scan": "tests/test_relational.py::test_zorder_scan_reads_fewer_rows",
}


def _ordered_names() -> list[str]:
    pri = [n for n in _PRIORITY if n in _QUERIES]
    rest_oracled = [n for n in _QUERIES if n in _ORACLES and n not in pri]
    rows_only = [n for n in _QUERIES if n not in _ORACLES and n not in pri]
    return pri + rest_oracled + rows_only


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: _QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


def queued_oracle_sql() -> dict[str, str]:
    """Oracles AUTHORED and value-verified but not registered: the
    grading head is at capacity (see the _PRIORITY budget comment), so
    these strings wait here until a slot frees — registering them now
    would leave them green-less for a round and read as a freshness
    violation. Promotion = move the SQL to the entry's register(...)
    call and re-curate _PRIORITY. tools/check_oracle.py verifies a
    queued oracle when the entry is explicitly named; pytest pins each
    end to end (the dict maps name → SQL baked for the sf0.01 grading
    fixture). dsir_logweights + stream_quality_gate were promoted out
    of this queue in r13; bpe_token_stats + exact_substring_stats in
    r14; bm25_search + knn_join (queued r15) in r16, funded by the
    scan_ivecs / media_decode_wav retirements; hybrid_rrf_search
    (queued r16) in r17, funded by the media_decode_ppm retirement;
    knn_join_l2 (queued r17) in r18, funded by the knn_cosine
    retirement; semantic_decontamination (queued r17) in r19, funded
    by the stream_interval_join_outer retirement. Queued now (one
    deep): doc_repetition — the r12-retired trigram oracle resurrected
    verbatim (dress rehearsal tests/test_dedup_text.py::
    test_doc_repetition_queued_oracle_dress_rehearsal). Parked until a
    retirement frees a slot (r20)."""
    _ensure_loaded()
    from cs598vectordb_spark.queries_text import DOC_REPETITION_QUEUED_SQL

    return {
        "doc_repetition": DOC_REPETITION_QUEUED_SQL,
    }


def oracle_sql_for(sf_dir: str) -> dict[str, str]:
    """oracle_sql() with sidecar-backed oracles RE-BAKED for `sf_dir`:
    dsir_logweights / bpe_token_stats embed the path of an engine-
    exported parquet sidecar, and the static strings bake GRADING_SF's
    path (what the driver runs). A local gate run at another scale
    (SPARK_GRAFT_ORACLE_SF) must join that scale's sidecar or the twin
    falsely fails on a wrong-SF map (ADVICE r13). Non-parameterized
    oracles pass through verbatim."""
    _ensure_loaded()
    out = dict(oracle_sql())
    for name, builder in _ORACLE_BUILDERS.items():
        if name in out:
            out[name] = builder(sf_dir)
    return out


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry(): exact top-10 kNN at sf0.001, 50 self-queries."""
    from cs598vectordb_spark.operators.knn import knn_exact
    from cs598vectordb_spark.sources.tables import load_table, queries_from_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = queries_from_embeddings(emb, SMOKE_N_QUERIES)
    return knn_exact(emb, q, k=DEFAULT_K)


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers ops (import-for-side-effect)."""
    global _LOADED
    if _LOADED:
        return
    from cs598vectordb_spark import queries_vector  # noqa: F401
    from cs598vectordb_spark import queries_updates  # noqa: F401
    from cs598vectordb_spark import queries_relational  # noqa: F401
    from cs598vectordb_spark import queries_text  # noqa: F401
    from cs598vectordb_spark import queries_index  # noqa: F401
    from cs598vectordb_spark import queries_sources  # noqa: F401
    from cs598vectordb_spark import queries_multimodal  # noqa: F401
    from cs598vectordb_spark import queries_streaming  # noqa: F401

    _bake_builders()
    _LOADED = True
