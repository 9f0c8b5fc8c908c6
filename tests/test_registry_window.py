"""Driver-window composition guard: the correctness driver verifies
exactly the FIRST 50 entries of queries() (observed r01-r03). These
assertions fail the build if a registration change silently alters
which queries receive driver verification — forcing the window
composition to be a conscious choice, not a side effect."""

from __future__ import annotations

import json
from pathlib import Path

from rt_bigdata_spark.plans.registry import REGISTRY, get_oracles, get_queries

DRIVER_WINDOW = 50

# Queries that MUST sit inside the driver's verified window.
#
# r11 ROTATION — the staleness ratchet below fired at the r10→r11
# boundary (by design: CORRECTNESS_r10.json landed, making
# current_round=11 and the 9-spec r04 cohort age-7 > bound-6). The
# rotation pulls back all 17 dues — the 9 overdue NOW (ads_report,
# cluster_split, corpus_profile, payment_wide, quality_gate,
# sales_rollup, top_k_products, unigram_surprisal, union_stats, last
# green r04) plus the 8 coming due at r12 (last green r05:
# ann_ivf_topk, ann_lsh_topk, customer_activity, minhash_lsh,
# purchase_attribution, rolling_revenue, sales_grouping_sets, simhash)
# — at priority=40, pre-clearing next round's dues in the same batch.
# Yielding their slots at priority=80: the nine 5-green occupants
# (ann_cosine_topk, dedup_exact, doc_curation, doc_keywords,
# dup_clusters, keyword_stats, ngram_jaccard, supplier_volume,
# text_quality) and eight 4-green occupants (active_users_hll,
# business_rules, cdc_routing, doc_fingerprint, doc_split, key_skew,
# province_stats, source_mix). Every rotated-out spec stays
# oracle-verified every CI run by tests/test_oracle_parity.py.
MUST_BE_IN_WINDOW = {
    # r14 ROTATION — pre-clearing HALF of the 36-spec r9-green cohort
    # (due r16 under the staleness ratchet; the other half rotates in
    # at r15). Yielding their slots at priority=80: the nineteen
    # 4-6-green occupants re-greened r13 (session_stats, ann_ivf_topk,
    # media_embedding, dup_cluster_sizes, sales_grouping_sets,
    # rolling_revenue, salted_enrichment, ivfpq_cell_stats,
    # filtered_ann, semdedup, winnow_fingerprint, pq_distortion,
    # sales_rollup, minhash_lsh, customer_activity, ivfpq_rerank_topk,
    # point_in_time_join, active_users, keyword_stats_4product — next
    # due r20). Every rotated-out spec stays oracle-verified every CI
    # run by tests/test_oracle_parity.py.
    # --- sweep/new families kept from r13 (<4 greens) ---
    # (r15 second batch: dedup_threshold_sweep / ivf_nprobe_sweep /
    # embedding_tau_sweep — five greens each, re-greened r14 — yielded
    # to the r17-cohort pre-clear below; dsir_importance — four greens
    # — yielded to hybrid_search_rrf; dup_source_matrix — four greens
    # — yielded to trigram_surprisal; ngram_novelty — four greens —
    # yielded to edit_distance_verify)
    # --- r13 new registrations (1 driver green, held in-window) ---
    "minhash_spanning", "embedding_spanning", "tokenizer_fertility",
    "quality_classifier_trained", "minhash_recall",
    # --- r14 new registration (first driver row this round: the
    # trained-centroid IVF production path, r13 verdict item 1; its
    # seeded sibling ann_ivf_topk — five greens — yielded its slot) ---
    "ann_ivf_trained",
    # (r12 pre-clears re-greened r13: r15 first batch — customer_max_order
    # and nation_trade, five greens each — yielded to cc_two_phase /
    # priority_sample; r15 second batch — integrity_audit, five greens —
    # yielded to the r17-cohort pre-clear below)
    # --- r15 new registration: exactly-N weighted sampling with
    # unbiased subset-sum estimators (priority sampling) ---
    "priority_sample",
    # --- r15 new registration: adversarial-diameter CC fallback on a
    # forced-diameter fixture graph (verdict r14 item 8) ---
    "cc_two_phase",
    # (r13 pre-clears re-greened r14, 4 greens each, yielded to the r15
    # second-session registrations: value_histogram → sq8_ann_topk,
    # event_pivot → bloom_contamination, order_priority →
    # doc_chunks_overlap, province_stats_sql → script_profile)
    # --- r15 third..sixth registrations: SQ8 scalar quantization ANN,
    # the Bloom-filter decontamination audit, the overlapping (strided)
    # RAG chunker, and the Unicode script/charset profile ---
    "sq8_ann_topk", "bloom_contamination", "doc_chunks_overlap",
    "script_profile",
    # --- r15 seventh/eighth registrations: hybrid sparse+dense
    # retrieval (BM25 + cosine arms fused by Reciprocal Rank Fusion)
    # and the held-out trigram stupid-backoff surprisal ---
    "hybrid_search_rrf", "trigram_surprisal",
    # --- r15 ninth registration: edit-distance verification of the
    # LSH candidate set ---
    "edit_distance_verify",
    # --- r12 new registrations ---
    "source_novelty", "embedding_validation",
    # --- r12 pre-clears still <6 greens (r15: embedding_project and
    # winnow_pairs — five greens each — yielded to the two new
    # registrations below; bpe_pairs — five greens — yielded in the
    # r15 second batch) ---
    # --- r15 new registrations: the distributed-trained committed
    # quality model as a production scoring path (verdict r14 item 4)
    # and the real stdlib-wave codec path driver row (item 5) ---
    "quality_classifier_distributed", "media_wav_decode",
    # --- r14 second new registration: behavioral time-series
    # similarity search over the events table ---
    "similar_users",
    # --- r14 pre-clears re-greened r14, held (<6 greens; r15 second
    # batch: bpe_merges, contamination — six greens — media_dedup,
    # media_features, media_frames — five greens each — yielded to the
    # r17-cohort pre-clear below) ---
    # (media_resize — four greens — yielded to ngram_containment in
    # the r15 second session; bpe_encode — four greens — yielded to
    # source_length_psi)
    # --- r15 tenth/eleventh registrations: asymmetric n-gram
    # containment and the per-source length-distribution PSI ---
    "ngram_containment", "source_length_psi",
    # --- r15 SECOND-BATCH ROTATION — pre-clearing HALF of the 20-spec
    # r10-green cohort (due r17 under the staleness ratchet; the other
    # 10 rotate at r16/r17) at priority=40, so no later round needs
    # >10 swaps. Yielding their slots at priority=80: ten 5-6-green
    # occupants re-greened r14 (dedup_threshold_sweep,
    # embedding_tau_sweep, ivf_nprobe_sweep, integrity_audit,
    # bpe_pairs, bpe_merges, contamination, media_dedup,
    # media_features, media_frames — next due r20/r21). Every
    # rotated-out spec stays oracle-verified every CI run by
    # tests/test_oracle_parity.py. ---
    "active_users_hll", "ann_cosine_topk", "business_rules",
    "cdc_routing", "dedup_exact", "doc_fingerprint", "doc_split",
    # --- r15 ROTATION (verdict r14 item 1) — second half of the
    # r9-green cohort pulled back at priority=40, one round before the
    # r16 staleness ratchet fires. Yielding their slots at priority=80:
    # the eighteen 5-6-green occupants re-greened r14 (bm25_search,
    # bigram_surprisal, cohort_retention, concat_pack, corpus_diff,
    # contrastive_samples, customer_quartiles, dedup_keepers,
    # dim_history, dim_history_merge, dq_orders, event_funnel,
    # event_transitions, heavy_hitters, province_stats_approx,
    # sales_cube, semantic_clusters, user_sessions — next due r21,
    # beyond the r20 horizon). Every rotated-out spec stays
    # oracle-verified every CI run by tests/test_oracle_parity.py. ---
    "corpus_profile_approx", "doc_chunks", "events_rollup_daily",
    "paragraph_dedup", "pii_scrub", "quality_classifier",
    "quality_gate_threshold", "repetition_stats",
    "substring_dedup", "token_budget", "token_budget_threshold",
    # --- r17 ROTATION (scripts/rotation_plan.py) — the ten r10-green
    # specs the staleness ratchet fired on pulled back at priority=40.
    # Yielding their slots at priority=80: the ten 7-8-green occupants
    # re-greened r16 (doc_curation, doc_keywords, dup_clusters,
    # embedding_dedup_lsh, event_anomalies, events_rollup,
    # filtered_ann_indexed, global_shuffle, mix_schedule,
    # stratified_sample — next due r23). Every rotated-out spec stays
    # oracle-verified every CI run by tests/test_oracle_parity.py. ---
    "json_props", "key_skew", "keyword_stats", "ngram_jaccard",
    "product_stats", "province_stats", "scalar_datetime", "source_mix",
    "supplier_volume", "text_quality",
}

# Pre-r10 window history (kept for the rotation ledger in comments):
_R9_WINDOW_NOTES = {
    "repetition_stats", "pii_scrub", "contamination", "doc_chunks",
    "token_budget", "filtered_ann_indexed",
    # (filtered_ann — thrice-green r5-r7, indexed sibling keeps the
    # family in-window — yielded its slot in r8 to packed_sequences)
    "packed_sequences",
    "concat_pack", "global_shuffle", "mix_schedule", "paragraph_dedup",
    "dim_history_merge",
    # round-5 second batch (five more greens — text_quality,
    # ann_cosine_topk, corpus_profile, quality_gate, unigram_surprisal
    # — yielded their slots; all stay CI-oracle-verified):
    "semantic_clusters", "bm25_search", "stratified_sample",
    # (semdedup — thrice-green r5-r7 — yielded its slot in r8 to
    # bpe_encode_tokens, the full tokenizer application)
    "bpe_encode_tokens",
    # round-5 third batch (is_new_correction, bounce_detection,
    # cdc_routing, doc_keywords yielded their slots):
    "event_funnel", "cohort_retention",
    # round-5 fourth batch (sales_rollup — green r1-r4 — yielded its slot):
    "heavy_hitters",
    # round-5 fifth batch (order_wide_enriched, shipping_priority,
    # supplier_volume, product_stats — all green r1-r4 — yielded their
    # slots; still oracle-verified every CI run):
    "quality_classifier", "substring_dedup", "events_rollup",
    # round-5 sixth batch (keyword_stats, order_wide — green r1-r4 —
    # yielded their slots):
    "bpe_encode",  # r7: bpe_pairs (twice-green; the single step bpe_merges
    # subsumes) yielded its slot to the train->encode round trip
    # round-5 seventh batch (visitor_stats, province_stats — green
    # r1-r4 — yielded their slots):
    # (winnow_fingerprint — thrice-green r5-r7 — yielded in r8.2)
    # round-5 eighth batch (pricing_summary — green r1-r4 — yielded
    # its slot):
    # (point_in_time_join — thrice-green r5-r7 — yielded in r8.2)
    # (cluster_split — green r1-r4 — yielded its slot to this one):
    "contrastive_samples",
    # round-5 ninth batch (dup_clusters — green r1-r4 — yielded its slot):
    "key_skew",  # r7: bigram_surprisal (twice-green; unigram twin parked
    # four-times-green) yielded its slot to the skew diagnostics op
    # (doc_curation — green r1-r4 — yielded its slot):
    "dedup_keepers",
    # round-5 tenth batch (ngram_jaccard — green r1-r4, unchanged — yielded
    # its slot so the re-shaped embedding_dedup keeps its place):
    "event_anomalies",
    # round-5 eleventh batch (dedup_exact — green r1-r4 — yielded its slot):
    # (media_embedding — thrice-green r5-r7 — yielded in r8.3;
    # media_dedup composes the same encoder and stays in-window)
    # round-5 twelfth batch (sales_cube — green r4 — yielded its slot):
    "events_rollup_daily",
    # round-5 thirteenth batch (customer_quartiles, customer_max_order —
    # green r4 — yielded their slots):
    # (active_users — thrice-green r5-r7 — yielded in r8.2; r7 note:
    # winnow_pairs yielded its slot to media_resize)
    "dim_history",
    "embedding_dedup_lsh",
    # (embedding_dedup — six greens r1-r7 — yielded in r8.2)
    # round-6 batch: the two red-r5 rows re-verify with their fixed
    # oracles, embedding_dedup re-verifies non-vacuously, the four
    # forever-rows-only specs get their first hash rows, and the 100 TB
    # token-budget shape gets its first row. Five twice-green r4/r5
    # specs (simhash, sales_grouping_sets, rolling_revenue,
    # purchase_attribution, customer_activity) yielded their slots
    # (priority=80; still oracle-verified every CI run).
    "token_budget_threshold", "media_features", "media_frames",
    "province_stats_approx", "corpus_profile_approx",
    # round-6 second batch (ann_lsh_topk / ann_ivf_topk — twice-green —
    # yielded their slots): the composed multimodal dedup pipeline and
    # the iterative BPE merge loop
    "media_dedup", "bpe_merges",
    # round-6 third batch (minhash_lsh — twice-green — yielded its
    # slot): quality_gate's promised broadcast-threshold scale form
    "quality_gate_threshold",
    # round-7 batch: six twice-green r5 first-timers (corpus_diff,
    # doc_embedding, embedding_project, event_transitions,
    # user_sessions, dq_orders) yielded their slots (priority=80; still
    # oracle-verified every CI run). In: the HLL swap for the xN
    # activity expansion (new), and five once-green parked specs pulled
    # back through the window for their second green (priority=40).
    "active_users_hll", "media_resize",
    # round-8 batch: the five r4-green p40 specs pulled back in r7
    # (sales_cube, customer_quartiles, customer_max_order, nation_trade,
    # integrity_audit) got their second green in r7 and yielded their
    # slots (priority=80; still CI-oracle-verified). In: the skew
    # mitigation query (new — r7 verdict item 3), and the four
    # remaining once-green parked specs pulled back for their second
    # green (priority=40).
    "salted_enrichment",
    # (value_histogram, event_pivot, order_priority, province_stats_sql
    # — pulled back at p40 in r8, got their second green r04+r08,
    # yielded in r9; still CI-oracle-verified every run)
    # round-8 second batch: four multi-round greens yielded their
    # slots (embedding_dedup — six greens r1-r7, embedding_dedup_lsh
    # keeps the family; winnow_fingerprint — thrice-green r5-r7;
    # active_users — thrice-green, active_users_hll hash-checks the
    # exact columns too; point_in_time_join — thrice-green,
    # dim_history/dim_history_merge keep the SCD family; all stay
    # CI-oracle-verified every run). In: the approximate-index recall
    # audit, temperature sampling, and the PQ-compressed vector store
    # + its ADC search.
    "ann_recall", "temperature_mix", "pq_codes", "pq_ann_topk",
    # round-8 third batch: the IVF-PQ compressed-index probe
    # (media_embedding yielded).
    "ivfpq_topk",
    # round-9 batch: the four r8 p40 pull-backs yielded after their
    # second green. In: the production-shaped two-stage retrieval
    # (verdict r8 item 3) and three operational-audit diagnostics —
    # PQ reconstruction error, IVF-PQ cell-occupancy skew, and the
    # near-dup cluster-size profile.
    "ivfpq_rerank_topk", "pq_distortion", "ivfpq_cell_stats",
    "dup_cluster_sizes",
}


def test_window_is_entirely_oracle_backed():
    window = list(get_queries())[:DRIVER_WINDOW]
    oracles = get_oracles()
    missing = [n for n in window if n not in oracles]
    assert not missing, f"rows-only specs waste driver window slots: {missing}"


def test_must_verify_queries_are_inside_window():
    window = set(list(get_queries())[:DRIVER_WINDOW])
    out = sorted(MUST_BE_IN_WINDOW - window)
    assert not out, f"queries pushed out of the driver-verified window: {out}"


def test_window_budget_is_exactly_spent():
    """Oracle-backed specs with priority <= 50 fill the window exactly.
    If this fails on the high side, a new default-priority registration
    just displaced the tail of the window (pick priority=70 for new
    out-of-window specs, or consciously demote something to 80); on the
    low side, free slots exist — promote a priority-70/80 spec."""
    in_budget = [s for s in REGISTRY.values() if s.oracle is not None and s.priority <= 50]
    assert len(in_budget) == DRIVER_WINDOW, (
        f"{len(in_budget)} oracle-backed specs at priority<=50 vs window of {DRIVER_WINDOW}"
    )


def test_no_oracle_backed_spec_is_never_driver_verified():
    """Window honesty across rounds: every oracle-backed spec must
    either already have a driver row in some committed
    CORRECTNESS_r*.json, or sit inside the CURRENT window (so it gets
    its first row this round). Fails if a spec is parked outside the
    window before it has ever been externally verified — the r4
    failure mode where the newest operators were the only ones the
    driver never saw."""
    root = Path(__file__).resolve().parents[1]
    seen: set[str] = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(f.read_text()).items():
            # A 0-row hash match is vacuous (both engines emitted
            # nothing — the r5 embedding_dedup hole): it does not count
            # as having been verified.
            if (row.get("spark_rows") or 0) > 0:
                seen.add(name)
    window = set(list(get_queries())[:DRIVER_WINDOW])
    never = sorted(
        s.name
        for s in REGISTRY.values()
        if s.oracle is not None and s.name not in seen and s.name not in window
    )
    assert not never, (
        "oracle-backed specs with no non-vacuous driver row ever, parked "
        f"outside the window: {never}"
    )


def test_no_spec_stays_vacuous_in_window(spark):
    """r6 verdict item 2: a spec whose LAST >=2 driver rows were all
    vacuous (0 = 0 rows) has occupied a verified-window slot for two
    rounds without verifying anything. For every such spec still in
    the current window, actually RUN the registered Spark query at the
    test SF and require rows > 0 — i.e. the registration must have
    been changed (planted probes, different fixture slice) before this
    round's driver runs, or this test fails the build."""
    from tests.conftest import SF_DIR

    root = Path(__file__).resolve().parents[1]
    trailing_vacuous: dict[str, int] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(f.read_text()).items():
            if row.get("err") is None and (row.get("spark_rows") or 0) == 0:
                trailing_vacuous[name] = trailing_vacuous.get(name, 0) + 1
            else:
                trailing_vacuous[name] = 0
    window = set(list(get_queries())[:DRIVER_WINDOW])
    stale = sorted(n for n, k in trailing_vacuous.items() if k >= 2 and n in window)
    queries = get_queries()
    still_vacuous = [n for n in stale if queries[n](spark, SF_DIR).limit(1).count() == 0]
    assert not still_vacuous, (
        "in-window specs vacuous for >=2 consecutive driver rounds and STILL "
        f"producing 0 rows: {still_vacuous} — plant overlap or rotate them out"
    )


# Staleness bound (r9 verdict item 2): a spec whose last driver-green
# is older than this many rounds MUST be inside the current window so
# it cycles back through driver verification. 6 is lenient — the
# 50-slot window can refresh the whole 120+-spec registry in ~3 rounds
# — but it turns "could sit outside the window forever" into a build
# failure. CI oracle-parity still verifies every spec every run; this
# bound is about the EXTERNAL driver record, not correctness.
STALENESS_BOUND_ROUNDS = 6


def _last_green_rounds() -> tuple[dict[str, int], int]:
    """Per-spec last NON-VACUOUS driver-green round from the committed
    CORRECTNESS_r*.json artifacts, plus the upcoming round number
    (max committed round + 1 — the round the current window will be
    verified in)."""
    root = Path(__file__).resolve().parents[1]
    last: dict[str, int] = {}
    max_round = 0
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = int(f.stem.split("_r")[1])
        max_round = max(max_round, rnd)
        for name, row in json.loads(f.read_text()).items():
            ok = (
                row.get("err") is None
                and row.get("hash_match")
                and (row.get("spark_rows") or 0) > 0
            )
            if ok:
                last[name] = rnd
    return last, max_round + 1


def test_stale_specs_cycle_back_into_window():
    """No oracle-backed spec's last driver-green may age beyond
    STALENESS_BOUND_ROUNDS without the spec sitting in the CURRENT
    window (i.e. being re-verified this round). Never-green specs are
    covered by test_no_oracle_backed_spec_is_never_driver_verified."""
    last, current_round = _last_green_rounds()
    window = set(list(get_queries())[:DRIVER_WINDOW])
    overdue = sorted(
        s.name
        for s in REGISTRY.values()
        if s.oracle is not None
        and s.name in last
        and current_round - last[s.name] > STALENESS_BOUND_ROUNDS
        and s.name not in window
    )
    assert not overdue, (
        f"specs last driver-green more than {STALENESS_BOUND_ROUNDS} rounds "
        f"ago (as of round {current_round}) parked outside the window: "
        f"{overdue} — pull them back at priority<=40 and demote "
        "multi-green window occupants to 80"
    )


def test_window_has_headroom_for_next_staleness_cohort():
    """Early warning one round ahead: the specs that will BECOME overdue
    next round must not outnumber the window slots currently held by
    multi-green (>=3) occupants — i.e. the rotation cannot deadlock
    where more specs come due than can be pulled back. Counts only;
    composition is next round's choice."""
    last, current_round = _last_green_rounds()
    window = list(get_queries())[:DRIVER_WINDOW]
    due_next = [
        s.name
        for s in REGISTRY.values()
        if s.oracle is not None
        and s.name in last
        and (current_round + 1) - last[s.name] > STALENESS_BOUND_ROUNDS
        and s.name not in set(window)
    ]
    # specs in the current window with >=3 greens could yield next round;
    # in-window specs also refresh their last-green THIS round, so the
    # whole window is available headroom next round.
    assert len(due_next) <= DRIVER_WINDOW, (
        f"{len(due_next)} specs come due next round vs window {DRIVER_WINDOW}"
    )
