"""Regenerate PLANS.md: executed physical plans of the flagship
queries with the plan-quality features called out. Run after changing
any flagship plan:

    python scripts/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rt_bigdata_spark.plans.registry import REGISTRY, _ensure_loaded  # noqa: E402
from rt_bigdata_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query → what to look for in its plan (rendered as the commentary line)
FLAGSHIPS = {
    "pricing_summary": "partial+final HashAggregate; filter + column pruning pushed into the parquet scan; whole-stage codegen spans the scan→partial-agg stage.",
    "order_wide_enriched": "one keyed shuffle for the fact⋈fact interval join; every dim enrichment is a BroadcastHashJoin (zero added fact shuffles) — the reference's async-lookup + Redis cache tier collapsed into the plan.",
    "province_stats": "two-phase exact COUNT(DISTINCT) (Expand → partial → final); dims broadcast.",
    "doc_curation": "all scoring fused into the scan via the tok_bound lambda barrier (2 tokenize copies, not 61); the only Exchange is the dedup groupBy; min(struct) keeps map-side combine.",
    "purchase_attribution": "as-of join as union + single per-key Window — no Join node at all, one Exchange.",
    "dim_history": "two Windows over one Exchange+Sort (the dedup filter preserves distribution and order).",
    "rolling_revenue": "RANGE-frame window: both trailing aggregates ride ONE Exchange (hashpartitioning on the customer key) + ONE Sort — no self-join, cost independent of frame density.",
    "order_priority": "EXISTS as LeftSemi join: probe rows emit on first match (no post-dedup); the returnflag filter is pushed into the lineitem scan below the join.",
    "ngram_jaccard": "df-capped shingle self-join: the post-aggregate `df <= cap` filter prunes stop-shingles BEFORE pairing (the k² guard); 8-byte xxhash64 keys cross the exchange, per-doc size joins broadcast.",
    "embedding_dedup_lsh": "LSH→exact-verify pipeline: pairs form via an equi-join on the (table, bucket) cell — broadcast locally, shuffle-on-cell at scale; no corpus-wide nested-loop join anywhere in the plan.",
    "contamination": "corpus-side shingle explode stays map-side; the probe set is broadcast, so the only Exchange is the final per-pair count.",
    "paragraph_dedup": "ONE corpus scan (n_chunks carried on chunk rows; min(struct full-row) keeper — no join-back, no totals pass), two agg exchanges, zero joins.",
    "global_shuffle": "contiguous global positions without a single-partition sort: per-bucket row_number windows in parallel + a 256-row cumulative-offset broadcast; the only ordered-by-everything node runs on the tiny counts table.",
    "stratified_sample": "bucket-kernel rank with prefix prune: per-(stratum, bucket) counts -> offsets window over the tiny bucket table -> surviving buckets broadcast back -> exact window over ~n_per_group candidate rows; every windowspecdefinition carries the _bkt key (blanket plan ban on unbucketed md5-order group sorts).",
    "concat_pack": "packing cumsum on the bucket kernel: per-(source, bucket) token sums + broadcast offsets + in-bucket running sum; span indices are closed-form projections over the cumsum — a dominant source sorts in ~n/256-row tasks, not one.",
    "active_users_hll": "the sketch swap's audit plan: the exact side still expands activity xN, but the HLL side aggregates per-day registers FIRST and only O(days) sketch rows fan out — the production projection's only Generate never touches user_id (asserted).",
    "filtered_ann_indexed": "IVF probe scan partition-pruned to the probed cells (PartitionFilters) with the metadata keep-set applied as a LeftSemi join BEFORE the cosine kernel.",
    "semantic_clusters": "final k-means assignment pass: centroids inlined as literal arrays (broadcast model, MLlib-style), cell argmax and cosine are map-side expressions — the only exchange in the whole iteration loop is the (cell, dim) partial-sum hash-agg.",
    "bm25_search": "corpus stats (N, Σdl, per-term df) reduce partial→final to ONE row broadcast back over the scan; scoring is a single map-side expression; top-k is TakeOrderedAndProject, never a global window.",
    "event_funnel": "three chained conditional window MINs share ONE user-key hashpartitioning (no frame Sort — unbounded min), final stage agg reuses the partitioning; the per-step aggregate+join formulation would shuffle the events table five times.",
    "events_rollup": "hypertable rollup as ONE map-side-combinable HashAggregate: the DECIMAL(38,0)-packed (epoch, id) arg-min/max key keeps the buffer hash-updatable — a struct/string key would silently degrade the whole plan to SortAggregate (per-partition sort of every event).",
    "quality_classifier": "model-based filtering with the weight vector as ONE literal array (broadcast model); per-token weight lookup is a map-side element_at, the only Exchange is the per-doc margin hash-agg with DECIMAL-exact partial sums.",
    "substring_dedup": "overlapping-window substring dedup: window hashes array_distinct-ed map-side BEFORE exploding (no distinct shuffle); shared-hash marking is a COUNT window over the whash partitioning, so the corpus is scanned and tokenized ONCE (the aggregate-then-join-back form reads it twice); two md5-keyed exchanges total.",
    "user_sessions": "gap sessionization + per-session summary on ONE user-key Exchange: the (user, session_idx) groupBy extends the window's partitioning so Catalyst adds no second shuffle.",
    "event_anomalies": "z-score outliers: DECIMAL-exact moment sums reduce to an O(groups) aggregate broadcast back onto the rows (BroadcastHashJoin) — no window sort over raw data, no float partial-sum drift.",
    "pq_ann_topk": "ADC over the PQ-compressed corpus: candidates reduce to m code columns map-side (codebooks are literal arrays — broadcast model), the 5-row query set broadcasts with its slice/self-dot halves PRE-projected, and the only Exchange is the per-query top-k window; the original vectors never cross the wire.",
    "ivfpq_topk": "IVF-PQ probe: the index scan partition-prunes to the probed coarse cells (PartitionFilters) and reads m-byte residual codes; per-(query, cell) residuals come pre-computed on the broadcast side; one top-k Exchange total.",
    "ivfpq_rerank_topk": "two-stage retrieval: stage 1 is the ivfpq_topk plan cut to the shortlist; stage 2 fetches ONLY the shortlist ids' true vectors (corpus join restricted to queries×shortlist rows) with the 5-row query side broadcast, then one per-query top-k window — the corpus is never scanned for scoring.",
    "pq_distortion": "one corpus scan → ONE constant-size global HashAggregate (2m+1 partial-agg columns; codebooks and norms are literal arrays); the m output rows come from unpivoting the single agg row — no shuffle of data rows at all beyond the global-agg exchange of one row per task.",
    "ivfpq_cell_stats": "index occupancy audit: one scan of the code rows reading effectively the partition column, a ≤n_centroids-group HashAggregate, and the 1-row totals frame joined back via BroadcastNestedLoopJoin on a literal-true condition (1×n rows — constant work).",
    "dup_cluster_sizes": "two-level count over the CC labeling: the label groupBy reuses the clustering's final exchange; the size histogram is an O(distinct sizes) second agg — output-bounded, no new corpus-scale shuffle.",
    "temperature_mix": "size-derived stride schedule: per-source counts reduce to an O(sources) aggregate broadcast back; the rank rides the bucket-decomposed kernel (every windowspecdefinition carries the _bkt key), so a dominant source sorts in ~n/256-row tasks.",
    "dedup_threshold_sweep": "one LSH pass for the whole threshold grid: the signature/banding pipeline and bucket self-join run once (identical to minhash_lsh); the grid is counted by the one-pass grid-count kernel both sweeps share — each pair explodes to its two docs, ONE per-doc aggregate (best score + one conditional sum per grid value) feeds ONE global row, zero-filled on the driver — no pair-set persist and no join against the grid. NOTE: since r11 the registered audit MATERIALIZES its bounded result inside the operator (owned-persist discipline — materialize, unpersist, return a local table), so the dumped plan is the result's LocalTableScan; the discovery pipeline's exchanges are measured in SCALE.md's shuffle-bytes and 30x-probe tables instead.",
    "keyword_stats_4product": "composed double lateral (U1 tokenizer × U2 C2R unpivot): both explodes are pure column expressions inside one whole-stage-codegen projection over the PRE-AGGREGATED per-sku counts (explode multiplies rows only after the groupBy shrank them); the part-name dim join is broadcast.",
    "ivf_nprobe_sweep": "the whole n_probe/recall curve in one pass: the exact arm is ann_cosine_topk's broadcast-queries shape (the only corpus-scale work); nearest-cell assignment and per-query cell ranking are map-side literal-centroid expressions; the grid is a literal-array explode over k·|Q| pair rows, then one 5-group agg — no per-candidate searches, no joins beyond the tiny pair/rank lookups.",
    "embedding_tau_sweep": "the SemDeDup τ curve with r11's exact-duplicate collapse: one groupBy on the raw vector bytes (multiplicity m), then embedding_dedup_lsh's cell-exchange + true-cosine verify over DISTINCT vectors only; the raw-corpus curve is recovered combinatorially (C(m,2) within-clique at sim 1.0 as a 1-row base, m_a·m_b per cross pair through the one-pass grid-count kernel shared with dedup_threshold_sweep), so the plan is flat in duplication factor — the 30× probe read 23.6× before, 1.14× after. NOTE: since r11 the registered audit MATERIALIZES its bounded result inside the operator (owned-persist discipline — materialize, unpersist, return a local table), so the dumped plan is the result's LocalTableScan; the discovery pipeline's exchanges are measured in SCALE.md's shuffle-bytes and 30x-probe tables instead.",
    "dsir_importance": "hashed-bigram DSIR scores: map-side bigram explode + md5 bucket hash → ONE (doc, bucket) count exchange (AQE ReusedExchange across its three logical consumers — measured); the 1024-row bucket stats and 1-row totals travel by broadcast; per-doc scoring is a broadcast join + one more doc-key agg.",
    "dup_source_matrix": "cross-source near-dup matrix on the collapse algebra: text-md5 groupBy, distinct-text MinHash/LSH (signature agg + bucket self-join — minhash_lsh's own exchanges), bounded pair↔multiplicity joins, one ≤sources²-group agg; no pair enumeration at any duplication factor. NOTE: since r11 the registered audit MATERIALIZES its bounded result inside the operator (owned-persist discipline — materialize, unpersist, return a local table), so the dumped plan is the result's LocalTableScan; the discovery pipeline's exchanges are measured in SCALE.md's shuffle-bytes and 30x-probe tables instead.",
    "ngram_novelty": "first-occurrence novelty: distinct-shingle explode → min-id-per-shingle agg (df ≥ 2 pruned — hapaxes can't be 'seen before', r12) → LEFT join back → per-doc counts; the pruned first-occurrence table is the only wide state and broadcast-eligible on Zipf corpora.",
    "winnow_fingerprint": "MOSS winnowing with STAGED array materialization (r12): grams and window-min fps are real columns between projections, so the interpreted HOF lambdas evaluate each array once per row — the expression-inlined form paid O(n_grams²) md5s per doc ×3 consumers (32.5 s → 1.3 s at sf0.1). Zero exchanges: everything sits inside the scan projection chain.",
    "similar_users": "behavioral Pearson top-k: ONE (user, bucket) hash-agg over the events scan (map-side combinable), the 1-row global span and the probes×buckets matrix travel by broadcast, scoring is a bucket equi-join + per-probe top-k window; cross products cast to DOUBLE before multiplying (r15 — int64 wraps at ~1e9 per-user events) so the plan is overflow-safe at scale with zero extra exchanges.",
    "media_wav_decode": "the real-codec driver row: WAV muxing is a whole-stage-codegen binary concat (constant 44-byte header literal + unhex(md5) payload) over a scan pruned to (doc_id, text); the stdlib-wave decode runs in ONE ArrowEvalPython (mapInPandas) stage over the pre-pruned 3-column frame — no shuffle anywhere, output is O(rows).",
    "cc_two_phase": "connected_components on the 400-node forced-diameter fixture (~800 directed edges, under the driver edge cap): one Arrow probe-collect of the symmetrized, checkpointed edge set, driver-local numpy labeling, then one left join of the 400-node frame against the labels — the plan holds no per-round work; above the cap the same call runs large-star/small-star rounds until the edge set is a star forest.",
    "semdedup": "SemDeDup with the r12 exact-dup collapse: one groupBy on the raw vector (min-id rep + member-id list), rep-level cluster-local pairwise over hoisted (_vd, _nrm) columns, verdicts fanned back by explode — flat in duplication factor (30× probe: 271.6 s naive → 5.6 s). Cell key is NON-NULLABLE (kills the isnotnull filter re-inline) and the pair join sits on a numbered repartition(cell) so AQE cannot coalesce the quadratic stage to one task.",
    "sq8_ann_topk": "SQ8 asymmetric search: the per-dim min/max model reduces partial→final to ONE row broadcast over a second scan; encode and on-the-fly dequant are transform lambdas inside the scan projection; the 5-row query set broadcasts and the only Exchange is the per-query top-k window — byte codes, never raw vectors, feed the scorer.",
    "bloom_contamination": "Bloom decontamination audit: probe grams hash to ≤m distinct set-bit rows (broadcast BY CONSTRUCTION); the corpus-side shingle explode ×k salts probes them via BroadcastHashJoin; the exact arm's gram equi-join rides beside it; three output-sized aggs close the plan — no corpus-scale exchange beyond the per-doc counts.",
    "hybrid_search_rrf": "hybrid RRF: the BM25 arm (1-row stats broadcast + TakeOrderedAndProject) and the cosine arm (broadcast single query + top-k window) run as their own proven sub-plans; the fusion is a full-outer SortMergeJoin of two ≤20-row rankings — constant-size tail whatever the corpus.",
    "trigram_surprisal": "held-out stupid backoff: three train-side vocab-sized count aggs, the 1-row token total broadcast, and four LEFT equi-joins of count tables onto the odd-docs trigram stream; the backoff cascade is a map-side CASE, the per-doc average one hash-agg.",
}


def clean(plan: str) -> str:
    plan = plan.split("== Initial Plan ==")[0]
    plan = re.sub(r"#\d+L?", "", plan)  # strip expr ids for readability
    plan = re.sub(r", \[plan_id=\d+\]", "", plan)
    return plan.strip()


def main() -> None:
    _ensure_loaded()
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    print("# PLANS — executed physical plans of the flagship queries\n")
    print(f"Generated by `python scripts/dump_plans.py` at {SF_DIR} (AQE final")
    print("plans after execution; expression ids stripped). The plan-quality")
    print("assertions in `tests/test_plan_quality.py` check these properties")
    print("mechanically on every run; this file makes them reviewable.\n")
    for name, note in FLAGSHIPS.items():
        df = REGISTRY[name].spark(spark, SF_DIR)
        df.collect()  # executes THIS Dataset's QueryExecution, so AQE finalizes in place
        plan = clean(df._jdf.queryExecution().executedPlan().toString())
        print(f"## {name}\n")
        print(f"{note}\n")
        print("```")
        print(plan)
        print("```\n")
    spark.stop()


if __name__ == "__main__":
    main()
