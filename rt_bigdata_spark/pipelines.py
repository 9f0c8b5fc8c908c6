"""End-to-end training-corpus curation: the LLM-pipeline operators
composed in their canonical order — the counterpart of ``apps.py``
(which mirrors the reference's warehouse jobs) for the
training-data layer.

Stage order is the one production pipelines converge on, cheapest
evidence first so each stage shrinks the next stage's input:

1. length gate (map-side feature)            — quality_features
2. model-based quality filter (map + 1 agg)  — linear_quality_score
3. Gopher repetition rules (2 aggs)          — repetition_stats
4. PII: drop high-risk, redact the rest      — pii_scrub / redact_pii
5. benchmark decontamination (broadcast)     — contamination_pairs
6. exact dedup (1 shuffle on md5)            — exact_dedup
7. near-dup: MinHash-LSH pairs → connected components →
   QUALITY-AWARE keeper (the classifier margin from stage 2 decides
   which copy survives)                      — minhash_lsh_pairs /
   connected_components / cluster_representatives
8. per-source token budget (1 window)        — token_budget_sample
9. training order: temperature-weighted source interleave
   (counts agg + the bucketed rank kernel)   — temperature_mix
10. optional publish: deterministic shards + manifest — export_shards

Every stage returns a DataFrame and the composition stays lazy,
letting Catalyst fuse the map-side stages into the scan exactly as
the single-query ``doc_curation`` plan demonstrates — EXCEPT when
``export_path`` is given: the publish step executes the DAG (parquet
writes + manifest). Auditing several decision tables after an export
re-executes their upstream chains; cache/checkpoint ``kept`` first if
that matters.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rt_bigdata_spark.operators.curation_rules import (
    contamination_pairs,
    pii_scrub,
    redact_pii,
    repetition_stats,
)
from rt_bigdata_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from rt_bigdata_spark.operators.graph import (
    cluster_representatives,
    connected_components,
)
from rt_bigdata_spark.operators.packing import export_shards, token_budget_sample
from rt_bigdata_spark.operators.sampling import temperature_mix
from rt_bigdata_spark.operators.text_analysis import (
    linear_quality_score,
    quality_features,
)


def curate_training_corpus(
    docs: DataFrame,
    weights: list[float],
    min_tokens: int = 5,
    margin_threshold: float = -1.0,
    max_top_token_frac: float = 0.30,
    probe_ids_below: int = 0,
    near_dup_threshold: float = 0.5,
    budget_tokens: int | None = None,
    mix_alpha: float | None = None,
    export_path: str | None = None,
    n_shards: int = 4,
) -> dict[str, DataFrame]:
    """Run the full curation pipeline over ``docs`` (doc_id, text,
    source, …). Returns every stage's decision table plus ``kept`` —
    the surviving corpus (PII-redacted text) — so callers can audit
    WHY any document was dropped (the per-stage accounting a data
    governance review asks for). ``probe_ids_below > 0`` treats the
    lowest ids as the eval/decontamination probe set (the registered
    ``contamination`` query's convention); probes themselves are
    excluded from the corpus. With ``export_path`` the kept set is
    published as deterministic shards and the manifest returned as
    ``manifest``.
    """
    out: dict[str, DataFrame] = {}

    # 1. length gate — quality_features preserves the input columns, so
    # this is a zero-shuffle filter fused into the scan (a semi-join
    # back onto docs would shuffle twice for the same answer)
    long_enough = (
        quality_features(docs)
        .filter(F.col("n_tokens") >= min_tokens)
        .select(*docs.columns)
    )

    # 2. classifier margin
    scored = linear_quality_score(long_enough, weights, threshold=margin_threshold)
    out["quality"] = scored
    q_ok = long_enough.join(
        scored.filter(F.col("keep")).select("doc_id"), "doc_id", "semi"
    )

    # 3. repetition rules
    rep = repetition_stats(q_ok)
    out["repetition"] = rep
    rep_ok = q_ok.join(
        rep.filter(
            F.coalesce(F.col("top_token_frac"), F.lit(0.0)) <= max_top_token_frac
        ).select("doc_id"),
        "doc_id",
        "semi",
    )

    # 4. PII: SSNs drop the doc (redaction is deferred to AFTER
    # decontamination — see step 5)
    pii = pii_scrub(rep_ok)
    out["pii"] = pii
    ssn_ok = rep_ok.join(
        pii.filter(F.col("ssn_ct") == 0).select("doc_id"), "doc_id", "semi"
    )

    # 5. decontamination vs the probe set (probes leave the corpus too).
    # Probes come from the RAW input, not the curated survivors: an eval
    # item that happens to be short, low-margin or PII-laden must still
    # decontaminate the corpus — gating the probe set on training-data
    # quality rules would silently disable exactly those checks.
    # The CORPUS side is likewise pre-redaction text (ADVICE r5): raw
    # probe 8-grams can never match across an already-masked
    # email/phone span, so redacting first would let PII-adjacent eval
    # contamination slip through — match first, mask after.
    if probe_ids_below > 0:
        raw_probes = docs.filter(F.col("doc_id") < probe_ids_below)
        corpus_side = ssn_ok.filter(F.col("doc_id") >= probe_ids_below)
        contam = contamination_pairs(
            corpus_side.unionByName(raw_probes), probe_ids_below=probe_ids_below
        )
        out["contamination"] = contam
        ssn_ok = corpus_side.join(
            contam.select("doc_id").distinct(), "doc_id", "anti"
        )

    # emails/phones are redacted in place, after the n-gram matching
    pii_ok = redact_pii(ssn_ok)

    # 6. exact dedup (on the REDACTED text: byte-identical after masking
    # is still a duplicate)
    keepers = exact_dedup(pii_ok).select(F.col("keep_id").alias("doc_id"))
    exact_ok = pii_ok.join(keepers, "doc_id", "semi")

    # 7. near-dup clustering, quality-aware keeper
    pairs = minhash_lsh_pairs(exact_ok, threshold=near_dup_threshold).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # a long boilerplate chain must stay ONE cluster: both CC paths
    # label it exactly (the distributed one raises rather than return
    # unconverged labels), so no extra copy survives
    labeled = connected_components(
        exact_ok.select("doc_id"), pairs, id_col="doc_id"
    )
    margins = scored.select(
        F.col("doc_id").alias("node"), F.col("quality_margin").alias("score")
    )
    reps = cluster_representatives(labeled, margins)
    out["near_dup"] = reps
    dedup_ok = exact_ok.join(
        reps.filter(F.col("is_rep")).select(F.col("node").alias("doc_id")),
        "doc_id",
        "semi",
    )

    # 8. per-source token budget
    if budget_tokens is not None:
        budget = token_budget_sample(dedup_ok, budget_tokens)
        out["budget"] = budget
        dedup_ok = dedup_ok.join(budget.select("doc_id"), "doc_id", "semi")

    out["kept"] = dedup_ok

    # 9. training order: the epoch consumption schedule for the kept
    # set — temperature-weighted stride interleave over the SURVIVING
    # per-source populations (weights derive from post-curation counts,
    # not raw ones: curation shifts the mix, and the schedule should
    # reflect what will actually be trained on). Consumers sort on
    # (sched_key, source, src_rank); the table is additive — it never
    # filters the corpus.
    if mix_alpha is not None:
        out["order"] = temperature_mix(dedup_ok, alpha=mix_alpha)

    # 10. publish
    if export_path is not None:
        out["manifest"] = export_shards(dedup_ok, export_path, n_shards=n_shards)
    return out
