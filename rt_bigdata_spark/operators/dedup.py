"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Beyond-reference operators (SURVEY.md §7.2 step 9). Scale design:

- exact: one shuffle on the md5 key — the cheapest possible dedup.
- n-gram Jaccard: exact pairwise similarity via a shingle self-join.
  Correct but O(pairs-sharing-a-shingle); at 100 TB use it only to
  VERIFY candidates from LSH, never as the discovery pass.
- MinHash+LSH: the discovery pass — per-doc signature (one narrow
  map-side pass), band → bucket grouping (one shuffle on (band,
  bucket-hash)), candidate pairs only within buckets. This is the
  standard web-scale near-dup pipeline (GPL/CC dedup papers).
- SimHash: 32-bit md5-derived simhash; hamming-near candidates via
  band rotation.

All hashes derive from md5 (stable across engines/runs) — no
JVM-hash-seed dependence, so results are reproducible and
oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from rt_bigdata_spark.functions.text_fns import tokenize
from rt_bigdata_spark.operators.scale import ensure_parallelism
from rt_bigdata_spark.operators.similarity import _lit_d, _sql_double_matrix, dot, lcg_planes

# Large prime < 2^31 for the minhash permutation universe.
_MINHASH_PRIME = 2147483647


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of tokenized text (array<string>).

    Docs shorter than ``n`` tokens yield their full token join (one
    shingle) so they still participate in dedup.

    NULL-TEXT CONVENTION (pinned by tests/test_dedup_similarity.py):
    NULL text ≡ empty text — both yield the single ``''`` shingle, so
    NULL-text docs participate in dedup as members of the empty-doc
    clique instead of silently vanishing. The explicit coalesce makes
    the convention visible (the un-coalesced column arithmetic happened
    to produce the same clamp) and every DuckDB oracle over this family
    must tokenize ``COALESCE(text, '')`` to agree — r11 ADVICE caught
    ``ngram_novelty``'s oracle dropping NULL docs instead.
    """
    return _shingles_of_tokens(tokenize(F.coalesce(text, F.lit(""))), n)


def _shingles_of_tokens(toks: Column, n: int) -> Column:
    """Shingle construction over a token-array expression. Callers on
    hot paths must pass a BOUND column (see ``shingle_explode``), not
    the tokenize expression inline: higher-order-function lambdas are
    evaluated interpreted with NO loop-invariant hoisting (the winnow
    r13 lesson), so an inlined ``toks`` is re-evaluated once PER GRAM
    POSITION — O(tokens²) tokenize work per document. Measured r16 on
    300-token rows: staged 0.31 s vs inlined 2.04 s warm (6.5×),
    identical output."""
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def shingle_explode(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    alias: str = "shingle",
    keep: "Sequence[Column | str]" = (),
) -> DataFrame:
    """One exploded-shingle row per (kept columns, shingle) with the
    token array STAGED as a real column between projections — the
    shared kernel of every word-shingle consumer (ngram Jaccard,
    MinHash signatures, contamination, n-gram novelty, Bloom builds).
    CollapseProject keeps the staging boundary because ``_toks`` is
    consumed more than once by non-cheap expressions (size + the
    slice lambda), so tokenize runs once per row instead of once per
    gram — see ``_shingles_of_tokens`` for the measurement."""
    kept = [F.col(c) if isinstance(c, str) else c for c in keep]
    staged = df.select(
        *kept, tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks")
    )
    names = [f.name for f in staged.schema.fields[:-1]]
    return staged.select(
        *[F.col(c) for c in names],
        F.explode(_shingles_of_tokens(F.col("_toks"), n)).alias(alias),
    )


def _shingle_hash(shingle: Column) -> Column:
    """Stable 31-bit integer hash of a shingle via md5 (engine-portable)."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long") % _MINHASH_PRIME


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the md5 of the raw text: one row per distinct
    text with the kept (min) id and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("sig"), F.col(id_col))
        .groupBy("sig")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_ct"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (doc_a < doc_b, jaccard ≥ t).

    Plan shape: explode distinct shingles → hash each to a long
    map-side (xxhash64; the exchange then moves 8-byte keys, not
    strings) → self-equi-join (one shuffle) → per-pair intersection
    count → Jaccard from inclusion-exclusion. Per-doc size joins carry
    no broadcast hint — one row per doc is unbounded in the corpus, so
    AQE decides (broadcasts when genuinely small, shuffles when not).
    The shingle join is the scale hazard —
    a stop-shingle appearing in k docs creates k² pair rows;
    ``df_cap`` drops shingles whose document frequency exceeds the cap
    BEFORE pairing; intersection and sizes are then both computed over
    the capped shingle universe, so the output is exact Jaccard on that
    universe. Pairs that only shared stop-shingles are missed — the
    standard recall trade of a frequency cap.
    """
    df = ensure_parallelism(df)
    shingled = shingle_explode(
        df, text_col, n=n, keep=[F.col(id_col).alias("doc")]
    ).select("doc", F.xxhash64("shingle").alias("sh"))
    paired = shingled
    if df_cap is not None:
        # One extra narrow agg on the 8-byte key; hot shingles are
        # exactly the rows that would have exploded quadratically.
        freq = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        paired = shingled.join(freq.filter(F.col("df") <= df_cap).select("sh"), "sh")
    # Persist the capped (doc, sh) table — FOUR plan branches consume it
    # (the self-join's two sides and the two size joins), and without
    # the cache each branch re-plans the whole scan → tokenize →
    # shingle-explode → df-cap pipeline: the r15 plan audit counted 16
    # parquet scans / 16 Generates and ZERO ReusedExchange in the
    # registered query (constraint-inferred filters differ per branch,
    # so canonicalization never unifies them), and the UI metrics read
    # 46 s of executor CPU for a corpus whose single tokenize pass costs
    # ~6 s — the interpreted shingle HOF ran 8×. Guide §5's reuse rule:
    # recomputing is strictly more expensive than the ~16 bytes/row
    # cache. Same CALLER-OWNED lifetime as minhash_lsh_pairs' signature
    # persist (the documented, test-pinned precedent): CacheManager
    # keys the canonical plan, so repeated calls re-hit ONE entry per
    # (input, n, df_cap) — bounded per session, asserted in
    # tests/test_plan_quality.py::test_ngram_jaccard_caller_owned_persist_is_bounded.
    paired = paired.persist()
    sizes = paired.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = paired.alias("a")
    b = paired.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # No broadcast hint on the size joins: `sizes` is one row PER INPUT
    # DOC — unbounded in the corpus. In the operator's documented role
    # (LSH verify arm over a large candidate set) a forced broadcast is
    # a driver/executor OOM; AQE broadcasts on its own when the side is
    # actually small, so the hint only removed its judgment.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    df_cap: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signature (array<long>, length ``num_hashes``).

    Universal-hash family h_i(x) = (a_i·x + b_i) mod p over md5-derived
    31-bit shingle hashes, a_i = 2i+1 and b_i = i²+1, p = 2^31-1, so
    signatures are deterministic. Entirely map-side: explode → per-doc
    min of each permutation → one narrow groupBy on the id. The
    ``num_hashes`` minima are ONE ``array(min(…), …)`` SQL expression
    (the one-call rule in ``similarity.lit_double_array``): built as
    per-hash Column chains they were ~2,100 py4j round trips per call.

    ``df_cap`` (optional) drops shingles with document frequency above
    the cap before signatures — stop-shingles otherwise dominate the
    minima, putting unrelated docs in the same LSH buckets and blowing
    up candidate counts at scale.
    """
    df = ensure_parallelism(df)
    shingled = shingle_explode(df, text_col, keep=[F.col(id_col).alias("doc")])
    hashed = shingled.withColumn("h", _shingle_hash(F.col("shingle")))
    if df_cap is not None:
        freq = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        hashed = hashed.join(freq.filter(F.col("df") <= df_cap).select("h"), "h")
    mins = ",".join(
        f"min((h * {2 * i + 1} + {i * i + 1}) % {_MINHASH_PRIME})" for i in range(num_hashes)
    )
    return hashed.groupBy("doc").agg(F.expr(f"array({mins})").alias("signature"))


def _band_width(num_hashes: int, bands: int) -> int:
    """Validated rows-per-band. bands MUST divide num_hashes: r=0
    (bands > num_hashes) would hash every doc into the same md5("")
    bucket in every band — a silent all-pairs explosion — and a
    non-dividing bands silently ignores trailing hash positions."""
    if num_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    return num_hashes // bands


def _banded(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc, signature, band, bucket) rows: ``bands`` LSH cells per
    signature, bucket = md5 of the band's signature slice."""
    return sig.selectExpr(
        "doc",
        "signature",
        f"inline(transform(sequence(0, {bands - 1}), b -> named_struct('band', b, 'bucket', "
        f"md5(concat_ws(',', transform(slice(signature, b * {r} + 1, {r}), x -> CAST(x AS STRING)))))))",
    )


def _est_agreement(num_hashes: int) -> Column:
    """Estimated Jaccard between aliased signatures a/b: fraction of
    agreeing minhash positions."""
    return F.expr(
        "CAST(size(filter(zip_with(a.signature, b.signature, (x, y) -> x = y), v -> v)) "
        f"/ {num_hashes} AS DOUBLE)"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    df_cap: int | None = None,
    max_pairs_per_group: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by estimated Jaccard.

    signatures → split into ``bands`` bands of r = num_hashes/bands rows
    → bucket key = md5(band values) → pairs sharing ≥1 bucket →
    signature-agreement estimate ≥ threshold. The only wide exchange is
    the bucket groupBy; candidate pairs are bucket-local. ``df_cap``
    passes through to the signature stage (stop-shingle control).

    ``max_pairs_per_group`` (opt-in, r12 verdict item 6): the full
    contract enumerates EVERY qualifying pair, which is Θ(Σ m_g²) on
    exact-duplicate cliques of size m — correct but not what a 100 TB
    run materializes. When set, docs with IDENTICAL signatures (the
    exact-dup proxy; identical texts always qualify) collapse to their
    min-id keeper: cross-clique pairs are emitted keeper↔keeper only,
    and each clique contributes keeper→member spanning pairs (est 1.0 —
    identical signatures agree in every position), truncated at
    ``max_pairs_per_group`` members by ascending id. The result is a
    SUBSET of the default output (property-tested) with the same
    connected components whenever the cap covers every clique
    (cap ≥ m-1); output size is linear in clique size instead of
    quadratic.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, df_cap=df_cap)
    if max_pairs_per_group is not None:
        # Collapse identical signatures BEFORE banding: one hash-agg on
        # the signature array, then the normal band/bucket machinery
        # runs over keepers only. groups is consumed by three branches
        # (two self-join sides + the star explode) — same caller-owned
        # persist contract as the signature persist below.
        groups = (
            sig.groupBy("signature")
            .agg(
                F.min("doc").alias("rep"),
                F.sort_array(F.collect_list("doc")).alias("members"),
            )
            .persist()
        )
        reps = groups.select(F.col("rep").alias("doc"), "signature")
        cross = _lsh_pairs_from_signatures(reps, num_hashes, bands, threshold)
        stars = groups.filter(F.size("members") >= 2).select(
            F.col("rep").alias("doc_a"),
            F.explode(F.slice("members", 2, max_pairs_per_group)).alias("doc_b"),
            # identical arrays: size(filter(zip_with(eq)))/num_hashes is
            # exactly num_hashes/num_hashes — lit(1.0) is bit-identical
            F.lit(1.0).alias("est_jaccard"),
        ).filter(F.col("est_jaccard") >= F.lit(threshold))  # subset under ANY threshold
        return cross.unionByName(stars)
    # The self-join's two sides are planned as two full signature
    # pipelines (no exchange reuse under a broadcast join, and the
    # canonicalized sides don't unify under a merge hint either —
    # probed r11) — persist the tiny signature table (docs × ~260 B) so
    # the scan+explode+32-min aggregation runs once. CALLER-OWNED
    # LIFETIME: the cache lives until the session evicts it; the sweep
    # wrapper below owns its own signature persist explicitly and drops
    # it once its grid-size result materializes. The leak is BOUNDED at
    # one entry per session, not one per call — CacheManager keys the
    # canonical plan, so repeated runs re-hit the same entry (pinned by
    # tests/test_plan_quality.py::test_minhash_lsh_caller_owned_persist_
    # is_bounded). At warehouse scale this stage would be written to
    # its own table instead.
    sig = sig.persist()
    return _lsh_pairs_from_signatures(sig, num_hashes, bands, threshold)


def _lsh_pairs_from_signatures(
    sig: DataFrame, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """Banding + bucket self-join + agreement filter over a prepared
    signature table (``doc``, ``signature``). Split out so callers that
    manage the signature persist themselves (the threshold sweep) can
    compose it without inheriting ``minhash_lsh_pairs``'s caller-owned
    cache."""
    r = _band_width(num_hashes, bands)
    banded = _banded(sig, bands, r)
    a = banded.alias("a")
    b = banded.alias("b")
    # Score per collision, THEN dedup on the (doc_a, doc_b) key: first()
    # over a double hash-aggregates, whereas dropDuplicates over the
    # signature arrays would force a sort-based aggregate. A pair
    # colliding in k bands is scored k (≤ bands) times — cheaper than
    # the sort at any realistic duplicate rate.
    agreement = _est_agreement(num_hashes)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            agreement.alias("est"),
        )
        .filter(F.col("est") >= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est").alias("est_jaccard"))
    )


def minhash_recall(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 32,
    bands_grid: "tuple[int, ...]" = (4, 8, 16, 32),
    jaccard_df_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH RECALL audit — the missing member of the audit
    family (threshold sweep tunes the est filter, this tunes the
    BANDING): per candidate band count, the fraction of TRUE near-dup
    pairs (exact n-gram Jaccard ≥ ``jaccard_threshold``) whose
    signatures collide in at least one band, i.e. would be discovered
    at all. Output: (bands, n_true, n_reachable, recall).

    The ``ivf_nprobe_sweep`` trick transplanted to text: reachability
    at band count b (r = num_hashes/b rows per band) is a pure
    function of the pair's two signatures — ∃ band whose r positions
    all agree — so the whole grid rides ONE signature pass + ONE
    bounded join of the exact truth set against the signature table.
    No per-grid-point LSH run, no candidate enumeration: the quadratic
    exact-Jaccard arm is the only corpus-scale work, and it is the
    same df-capped verify arm ``ngram_jaccard_pairs`` already bounds.
    More bands ⇒ shorter bands ⇒ recall is monotone non-decreasing in
    b (property the test pins); bands=num_hashes (r=1) reaches every
    pair sharing ANY minhash position.
    """
    for b in bands_grid:
        _band_width(num_hashes, b)  # validates divisibility
    true_pairs = ngram_jaccard_pairs(
        df, text_col, id_col, threshold=jaccard_threshold, df_cap=jaccard_df_cap
    ).select("doc_a", "doc_b")
    sig = minhash_signatures(df, text_col, id_col, num_hashes)
    pairsig = (
        true_pairs.join(sig.select(F.col("doc").alias("doc_a"), F.col("signature").alias("sa")), "doc_a")
        .join(sig.select(F.col("doc").alias("doc_b"), F.col("signature").alias("sb")), "doc_b")
    )
    def _reach(b: int, r: int):
        # closure factories, not default-arg lambdas: pyspark derives
        # the HOF's arity from the python signature
        def band_match(band):
            def pos_eq(i):
                return F.element_at(F.col("sa"), (band * r + i).cast("int")) == F.element_at(
                    F.col("sb"), (band * r + i).cast("int")
                )

            return F.forall(F.sequence(F.lit(1), F.lit(r)), pos_eq)

        return F.exists(F.sequence(F.lit(0), F.lit(b - 1)), band_match)

    arms = []
    for b in sorted(set(int(b) for b in bands_grid)):
        arms.append(
            F.struct(
                F.lit(b).cast("long").alias("bands"),
                _reach(b, num_hashes // b).alias("reach"),
            )
        )
    expanded = pairsig.select(F.explode(F.array(*arms)).alias("g")).select("g.bands", "g.reach")
    return (
        expanded.groupBy("bands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.col("reach").cast("long")).cast("long").alias("n_reachable"),
        )
        .select(
            "bands",
            "n_true",
            "n_reachable",
            (F.col("n_reachable").cast("double") / F.col("n_true").cast("double")).alias("recall"),
        )
    )


def near_dup_source_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-source near-duplication matrix: for every unordered source
    pair (source_a ≤ source_b), how many near-dup pairs cross it — the
    audit that tells a 100 TB curation run WHICH feeds mirror each
    other (crawl snapshots, syndicated sites, re-uploads) before it
    picks per-source budgets. Output: (source_a, source_b, n_pairs).

    Count-only consumer ⇒ exact-duplicate collapse (the r11 sweep
    lesson, SCALE.md): identical texts form cliques whose pair count
    is quadratic in multiplicity, so the MinHash/LSH discovery runs
    over DISTINCT texts only and the raw-corpus matrix is recovered
    combinatorially from per-(text, source) multiplicities —
    within-clique: C(m_s, 2) same-source + m_s·m_t cross-source pairs
    (identical texts agree on every hash, est = 1.0 ≥ any threshold
    ≤ 1); cross-clique: each distinct-text pair (est identical to any
    member pair's) contributes m_a(s)·m_b(t) for every source combo.
    Bit-exact vs naive pair enumeration (the DuckDB oracle IS the
    naive form), flat in duplication factor. ``df_cap`` is
    deliberately unsupported here: a document-frequency cap computed
    over distinct texts differs from one over the raw corpus, which
    would break the exactness argument.

    Plan: one text-md5 groupBy [corpus shuffle], the distinct-text LSH
    pipeline (minhash_lsh_pairs' own shape), two bounded joins of the
    pair set onto the per-group source counts, one ≤sources²-group
    agg. Everything after the collapse scales with DISTINCT texts.

    SOURCE CARDINALITY CONTRACT: the result materializes ≤ sources²
    rows on the driver (the collect below), sized for FEED-level
    sources — crawl snapshots, ingestion channels, dataset names
    (tens to hundreds ⇒ a ≤10⁴-row matrix). Do NOT point it at
    per-domain or per-URL-prefix "sources" (millions ⇒ a 10¹²-row
    matrix is not an audit anyone reads); bucket domains into feeds
    first, or aggregate `minhash_lsh_pairs` output distributed-side.
    """
    if threshold > 1.0:
        # within-clique contributions assume est = 1.0 ≥ threshold; a
        # threshold > 1 would still count them while naive enumeration
        # returns nothing (r11 ADVICE) — reject rather than diverge.
        raise ValueError(f"threshold must be <= 1.0, got {threshold}")
    base = df.select(
        F.md5(F.col(text_col)).alias("gkey"),
        F.col(id_col).alias("doc"),
        F.col(source_col).alias("src"),
    )
    gsrc = base.groupBy("gkey", "src").agg(
        F.count(F.lit(1)).alias("m"), F.min("doc").alias("min_doc")
    ).persist()
    # ONE grouped frame per distinct text carrying the representative id
    # AND the sorted per-source multiplicity list (r16, guide §2.4):
    # the r15 shape derived `groups` by re-aggregating the gsrc cache
    # THREE times (the reps join + both rep2g sides) and computed the
    # within-clique cross terms with a gkey SELF-JOIN (two more
    # exchanges over distinct-text-scale rows). All of that collapses
    # into gmeta: rep2g is a projection, and the within-clique terms
    # (same-source C(m,2) and cross-source m_i·m_j) are a row-local
    # explode over the sorted source list — sources per text are
    # feed-level (the documented cardinality contract above), so the
    # per-row expansion is bounded. k expressions are byte-identical
    # to the r15 join form; sort_array makes pair order deterministic
    # (src is unique within a gkey, so struct order = src order, and
    # i < j reproduces the old ga.src < gb.src condition).
    gmeta = gsrc.groupBy("gkey").agg(
        F.min("min_doc").alias("rep"),
        F.sort_array(
            F.collect_list(F.struct(F.col("src").alias("s"), F.col("m").alias("mm")))
        ).alias("sms"),
    ).persist()
    # one representative row per distinct text (its original text travels)
    reps = df.select(F.col(id_col), F.col(text_col)).join(
        gmeta.select(F.col("rep").alias(id_col)), id_col
    )
    # within-clique contributions (est = 1.0 by identity): j == i emits
    # the same-source C(m,2) term (k > 0 iff m >= 2 — the r15 filter),
    # j > i the cross-source m_i·m_j term (always > 0).
    sms = F.col("sms")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(sms) - 1),
            lambda i: F.transform(
                F.sequence(i, F.size(sms) - 1),
                lambda j: F.struct(
                    F.get(sms, i)["s"].alias("source_a"),
                    F.get(sms, j)["s"].alias("source_b"),
                    F.when(
                        i == j,
                        (F.get(sms, i)["mm"] * (F.get(sms, i)["mm"] - 1) / 2).cast("long"),
                    )
                    .otherwise((F.get(sms, i)["mm"] * F.get(sms, j)["mm"]).cast("long"))
                    .alias("k"),
                ),
            ),
        )
    )
    within = (
        gmeta.select(F.explode(pair_structs).alias("p"))
        .select("p.source_a", "p.source_b", "p.k")
        .filter(F.col("k") > 0)
    )
    # cross-clique contributions via distinct-text LSH pairs; the
    # signature persist is OWNED here (dropped with gsrc below), not
    # minhash_lsh_pairs' caller-owned cache
    sig = minhash_signatures(reps, text_col, id_col, num_hashes).persist()
    rep2g = gmeta.select(F.col("rep"), F.col("gkey"))
    pairs = (
        _lsh_pairs_from_signatures(sig, num_hashes, bands, threshold)
        .join(rep2g.select(F.col("rep").alias("doc_a"), F.col("gkey").alias("gkey_a")), "doc_a")
        .join(rep2g.select(F.col("rep").alias("doc_b"), F.col("gkey").alias("gkey_b")), "doc_b")
    )
    cross = (
        pairs.join(gsrc.select(F.col("gkey").alias("gkey_a"), F.col("src").alias("src_a"), F.col("m").alias("m_a")), "gkey_a")
        .join(gsrc.select(F.col("gkey").alias("gkey_b"), F.col("src").alias("src_b"), F.col("m").alias("m_b")), "gkey_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            (F.col("m_a") * F.col("m_b")).cast("long").alias("k"),
        )
    )
    out = (
        within.unionByName(cross)
        .groupBy("source_a", "source_b")
        .agg(F.sum("k").cast("long").alias("n_pairs"))
    )
    rows = out.collect()  # ≤ sources² — bounded by construction
    gsrc.unpersist()
    gmeta.unpersist()
    sig.unpersist()
    return df.sparkSession.createDataFrame(rows, out.schema)


def minhash_threshold_sweep(
    df: DataFrame,
    thresholds: "Sequence[float]",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    df_cap: int | None = None,
) -> DataFrame:
    """Threshold-sensitivity audit for near-dup dedup: per candidate
    threshold, how many pairs survive and how many docs are involved
    in at least one pair — the curve a 100 TB dedup operator reads
    BEFORE committing to a threshold (a cliff between 0.5 and 0.75
    means the dedup rate is estimate-noise-sensitive; a plateau means
    the choice is safe). The per-threshold relationship is strictly
    monotone, so one sweep also sanity-checks the banding setup.

    ONE LSH pass amortized across the whole grid: signatures, banding,
    and the bucket join run once at the LOOSEST threshold (the only
    wide work — identical cost to a single ``minhash_lsh_pairs`` call);
    the grid is then counted by ``_grid_counts`` in one aggregation
    pass over the pair set — no pair-set persist, no join against the
    grid. The naive alternative re-runs the full pipeline per
    threshold: grid-size × the scan/shuffle.

    Estimates are k/num_hashes with num_hashes a power of two, so
    ``est >= threshold`` compares identical doubles on every engine.
    Output: (threshold, n_pairs, n_docs_with_dup), zero-filled for
    thresholds no pair reaches.
    """
    if not thresholds:
        raise ValueError("thresholds grid must be non-empty")
    # OWNED persist, dropped once the grid counts are on the driver: the
    # bucket self-join plans two full signature pipelines otherwise (the
    # minhash_lsh_pairs rationale).
    sig = minhash_signatures(df, text_col, id_col, num_hashes, df_cap=df_cap).persist()
    try:
        pairs = _lsh_pairs_from_signatures(sig, num_hashes, bands, threshold=min(thresholds))
        return _grid_counts(
            pairs.selectExpr("doc_a AS a", "doc_b AS b", "est_jaccard AS v", "1L AS m_a", "1L AS m_b"),
            thresholds,
            "threshold",
        )
    finally:
        sig.unpersist()


def _grid_counts(
    pairs: DataFrame,
    values: "Sequence[float]",
    grid_name: str,
    base: "tuple[int, int]" = (0, 0),
) -> DataFrame:
    """The one grid-count kernel of the sweep audits. ``pairs`` has one
    row per pair: doc ids ``a``/``b``, score ``v`` and multiplicities
    ``m_a``/``m_b`` (1 when every doc stands for itself). Per grid
    value t: n_pairs = Σ m_a·m_b over pairs with v ≥ t, and
    n_docs_with_dup = the number of m = 1 docs in at least one such
    pair; ``base`` (t-independent pair and doc counts) is added to
    both, and every grid value gets a row.

    One pass: each pair explodes to its two docs, one per-doc
    aggregate takes the doc's best score and, per grid value, the
    weight of its surviving pairs, and one global row sums those
    (every pair is counted from both ends, hence the halving) and
    counts docs by best score. The ≤grid-size answer is built on the
    driver, so callers release their persists as soon as this
    returns — no sweep leaves an unowned persisted RDD behind
    (asserted by tests/test_plan_quality.py)."""
    ts = sorted({float(t) for t in values})
    lits = [_lit_d(t) for t in ts]
    ends = pairs.selectExpr(
        "v",
        "m_a * m_b AS w",
        "inline(array(named_struct('d', a, 'm', m_a), named_struct('d', b, 'm', m_b)))",
    )
    per_doc = ends.groupBy("d", "m").agg(
        F.expr("max(v) AS best"), *[F.expr(f"sum(IF(v >= {t}, w, 0)) AS w{i}") for i, t in enumerate(lits)]
    )
    tot = per_doc.selectExpr(
        *[f"sum(w{i})" for i in range(len(ts))],
        *[f"count_if(m = 1 AND best >= {t})" for t in lits],
    ).collect()[0]
    rows = [
        (t, (tot[i] or 0) // 2 + base[0], tot[len(ts) + i] + base[1]) for i, t in enumerate(ts)
    ]
    return pairs.sparkSession.createDataFrame(
        rows, f"{grid_name} DOUBLE, n_pairs BIGINT NOT NULL, n_docs_with_dup BIGINT NOT NULL"
    )


def embedding_tau_sweep(
    df: DataFrame,
    taus: "Sequence[float]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    num_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Cosine-τ sensitivity audit for embedding/semantic dedup — the
    vector-space member of the sweep family (minhash threshold, IVF
    n_probe, now SemDeDup's τ): per candidate τ, surviving near-dup
    pair count and docs involved, from ONE LSH discovery pass at the
    LOOSEST τ. Abbas et al. (SemDeDup) tune exactly this knob — the
    dedup rate is a cliff function of τ near the corpus's similarity
    mode, and the naive sweep re-runs cell discovery per value.

    Candidates are verified with the TRUE cosine before any τ compare
    (the embedding_near_dup_lsh contract), and every τ sees the same
    verified sim — so the curve is exactly what |pairs(τ)| would be
    from per-τ runs at recall fixed by the floor-τ LSH parameters.
    The grid is counted by ``_grid_counts``, the one-pass kernel it
    shares with ``minhash_threshold_sweep``, weighted by m_a·m_b.
    Output: (tau, n_pairs, n_docs_with_dup), zero-filled.

    EXACT-DUPLICATE COLLAPSE (r11, found by the 30× probe): a corpus
    where vectors repeat in D-way exact-duplicate cliques has a pair
    set that grows ~D² per clique — the 30× replica (every vector ×30)
    blew the verified pair set from 2.7 k to 3.34 M rows (1216×) and
    the sweep from ~4.4 s to ~110 s. Pair ENUMERATION must pay that
    (the output is the pairs — embedding_dedup_lsh's contract), but a
    COUNT-ONLY sweep need not: group bit-identical vectors first
    (multiplicity m), run LSH discovery over the distinct vectors
    only, and recover the raw-corpus counts combinatorially —
    C(m,2) within-group pairs at sim 1.0 (≥ every τ ≤ 1), m_a·m_b per
    cross-group pair at its (identical) verified sim, and
    docs-with-dup = Σm over groups with m ≥ 2 plus the m = 1 groups
    touched by a cross pair at τ. Bit-exact the same curve (identical
    vectors collide in identical cells and verify to the identical
    cosine, so discovery recall is unchanged — the unchanged naive
    DuckDB oracle pins this), while the pair set stays at
    distinct-vector scale however duplicate-heavy the corpus."""
    if not taus:
        raise ValueError("taus grid must be non-empty")
    if max(taus) > 1.0:
        # the collapse folds within-clique pairs (sim exactly 1.0) into
        # EVERY grid value; a τ > 1 would keep that fold while the
        # naive enumeration excludes the pairs — silent divergence from
        # the oracle definition (r11 ADVICE). Cosine caps at 1 anyway.
        raise ValueError(f"taus must be <= 1.0 (cosine ceiling), got max {max(taus)}")
    floor_t = min(taus)
    # Collapse exact duplicates: one groupBy on the raw vector bytes.
    groups = (
        df.groupBy(F.col(vec_col).alias("_vec"))
        .agg(F.min(F.col(id_col)).alias("_rep"), F.count(F.lit(1)).alias("m"))
        .persist()
    )
    try:
        reps = groups.select(F.col("_rep").alias(id_col), F.col("_vec").alias(vec_col))
        # Within-group contributions are τ-independent (sim is exactly 1.0
        # by identity): ONE bounded 1-row aggregate, the kernel's base.
        w_row = groups.filter(F.col("m") >= 2).agg(
            F.coalesce(F.sum(F.col("m") * (F.col("m") - 1) / 2), F.lit(0)).cast("long").alias("w_pairs"),
            F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("w_docs"),
        ).collect()[0]
        mult = groups.select("_rep", "m")
        pairs = (
            embedding_near_dup_lsh(
                reps, threshold=floor_t, id_col=id_col, vec_col=vec_col,
                num_planes=num_planes, num_tables=num_tables, dim=dim, seed=seed,
            )
            .join(mult.select(F.col("_rep").alias("id_a"), F.col("m").alias("m_a")), "id_a")
            .join(mult.select(F.col("_rep").alias("id_b"), F.col("m").alias("m_b")), "id_b")
        )
        # m ≥ 2 groups are already counted in w_docs regardless of cross
        # pairs, so the kernel's docs count (m = 1 docs only) adds nothing twice.
        return _grid_counts(
            pairs.selectExpr("id_a AS a", "id_b AS b", "sim AS v", "m_a", "m_b"),
            taus,
            "tau",
            base=(int(w_row["w_pairs"]), int(w_row["w_docs"])),
        )
    finally:
        groups.unpersist()


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Per-doc SimHash over token md5 hashes (``simhash`` long column).

    For each bit position, sum +1/−1 votes across token hashes; the
    sign vector packs into an integer. Near-dups differ in few bits
    (hamming distance); pure array math, map-side only.
    """
    df = ensure_parallelism(df)
    toks = df.select(F.col(id_col).alias("doc"), F.explode(tokenize(F.col(text_col))).alias("tok"))
    hashed = toks.withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"))
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"bit_{i}")
        for i in range(bits)
    ]
    per_doc = hashed.groupBy("doc").agg(*votes)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.when(F.col(f"bit_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc", acc.alias("simhash"))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ t).

    Norms are computed once per row map-side; the pairing itself is a
    broadcast nested-loop self-join — O(n²) similarity evaluations with
    NO shuffle. That is the correct shape for the VERIFY pass over a
    candidate subset; at 100 TB discovery scale use
    ``embedding_near_dup_lsh`` (bucketed, only intra-bucket pairs) and
    feed its candidates here. Sim rounds to 9 dp for stable comparison
    across engines.
    """
    v = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )
    a, b = v.alias("a"), v.alias("b")
    sim = F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 9)
    return (
        a.join(F.broadcast(b), F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def embedding_lsh_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    num_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Discovery HALF of the two-stage embedding dedup: distinct
    candidate ``(id_a, id_b)`` pairs that collide in ANY hyperplane-LSH
    table — ids only, no similarity math. Feed the output to
    ``embedding_verify_pairs`` for the exact rescore. The same
    ``_emb_lsh_cells`` as ``embedding_near_dup_lsh`` (which fuses both stages
    into one plan); this split form is the production pipeline shape
    where discovery output is materialized/checkpointed between stages.
    One shuffle on the (table, bucket) cell; pair formation confined to
    cells; `distinct` dedups multi-table collisions.
    """
    sig = _emb_lsh_cells(
        ensure_parallelism(df), id_col, vec_col, num_planes, num_tables, dim, seed
    ).select("id", "cell")
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def embedding_verify_pairs(
    df: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """VERIFY half: exact cosine rescore of an explicit candidate-pair
    set. Two hash joins on the id key bring each side's vector to its
    pair — work is O(|candidates|), never O(n²), and the plan contains
    no nested-loop join regardless of corpus size (asserted in
    tests/test_plan_quality.py). This is the scale-correct way to run
    the exact similarity kernel: only over pairs some discovery stage
    (LSH bands, IVF cells, SimHash radius) already nominated.
    """
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 9)
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    num_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    max_pairs_per_group: int | None = None,
) -> DataFrame:
    """Approximate embedding near-dup pairs: multi-table hyperplane LSH,
    pairs formed only within a (table, bucket) cell.

    The discovery-scale variant of ``embedding_near_dup_pairs``:
    ``num_tables`` independent plane sets (OR-amplification — a pair is
    a candidate if it collides in ANY table, recall 1-(1-p^planes)^tables
    where p = 1 - θ/π), one map-side explode into (table, bucket) cells,
    one shuffle on the cell, pair formation confined to cells (expected
    cell size n/2^planes). Candidates that collide in several tables are
    deduped by groupBy before the output; every candidate is re-scored
    with the true cosine before the threshold filter, so precision is 1
    relative to the exact operator.

    The plane matrix is ONE literal inside ONE SQL expression for the
    whole cell computation (``_emb_lsh_cells``), not tables×planes×dim
    scalar literal nodes — the expanded form costs seconds of Catalyst
    planning/codegen before any row moves, and ``F.lit`` of the nested
    list alone took 0.4-1 s of py4j traffic per build.

    ``max_pairs_per_group`` (opt-in, r12 verdict item 6): like
    ``minhash_lsh_pairs``, the full pair contract is Θ(Σ m_g²) on
    bit-identical-vector cliques. When set, identical vectors collapse
    to their min-id keeper first; cross-clique pairs are keeper↔keeper,
    and each clique adds keeper→member spanning pairs (sim computed
    with the IDENTICAL float expression the pair path uses —
    round(dot(v,v)/(nrm·nrm), 9) — so values are bit-equal to the full
    output's), truncated at ``max_pairs_per_group`` members by
    ascending id. A subset of the default output (property-tested),
    same connected components when the cap covers every clique.
    """
    if max_pairs_per_group is not None:
        groups = (
            ensure_parallelism(df)
            .groupBy(F.col(vec_col).alias("_vec"))
            .agg(
                F.min(id_col).alias("rep"),
                F.sort_array(F.collect_list(id_col)).alias("members"),
            )
            .persist()
        )
        reps = groups.select(F.col("rep").alias(id_col), F.col("_vec").alias(vec_col))
        cross = embedding_near_dup_lsh(
            reps, threshold, id_col, vec_col, num_planes, num_tables, dim, seed
        )
        nrm = F.sqrt(dot(F.col("_vd"), F.col("_vd")))
        sim_self = F.round(dot(F.col("_vd"), F.col("_vd")) / (nrm * nrm), 9)
        stars = (
            groups.filter(F.size("members") >= 2)
            .select(
                "rep",
                "members",
                F.transform(F.col("_vec"), lambda x: x.cast("double")).alias("_vd"),
            )
            .select(
                F.col("rep").alias("id_a"),
                F.explode(F.slice("members", 2, max_pairs_per_group)).alias("id_b"),
                sim_self.alias("sim"),
            )
            .filter(F.col("sim") >= threshold)
        )
        return cross.unionByName(stars)

    sig = _emb_lsh_cells(
        ensure_parallelism(df), id_col, vec_col, num_planes, num_tables, dim, seed
    )
    a, b = sig.alias("a"), sig.alias("b")
    sim = F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 9)
    return (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("sim").alias("sim"))
    )


def _emb_lsh_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """(id, v, nrm, cell) rows — one per (vector, table): the shared
    hyperplane-LSH cell assignment of ``embedding_near_dup_lsh`` and
    its incremental form (identical plane constants, so batch and
    stream land every vector in the same cells)."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    # ONE SQL expression (the one-call rule in similarity.lit_double_array):
    # the table-major plane matrix is a single literal, row t·num_planes+i.
    planes = _sql_double_matrix(
        [p for t in range(num_tables) for p in lcg_planes(num_planes, dim, seed + t)]
    )
    side = (
        f"aggregate(zip_with(v, element_at({planes}, t * {num_planes} + i + 1), (x, y) -> x * y), "
        "0.0D, (s, z) -> s + z) >= 0"
    )
    cells = F.expr(
        f"explode(transform(sequence(0, {num_tables - 1}), t -> named_struct('t', CAST(t AS INT), "
        f"'bkt', aggregate(sequence(0, {num_planes - 1}), CAST(0 AS BIGINT), (acc, i) -> acc + "
        f"CASE WHEN {side} THEN CAST(pow(2.0D, i) AS BIGINT) ELSE CAST(0 AS BIGINT) END))))"
    )
    return v.withColumn("cell", cells)


def incremental_embedding_near_dup_lsh(
    new_vecs: DataFrame,
    seen_vecs: DataFrame | None,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    num_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Ingest-shaped ``embedding_near_dup_lsh``: pairs are
    new×(new+corpus) — the stored corpus is touched only through its
    persisted ``(id, vector)`` rows, re-celled with the SAME plane
    constants, never re-encoded. The embedding twin of
    ``incremental_minhash_lsh`` (same telescoping identity: per-batch
    new×all pairs union to the batch operator's all×all over the full
    corpus, each pair emitted exactly once — in the batch that
    delivered the LATER of its two vectors).

    Returns ``(pairs, new_rows)``: pairs as (id_a, id_b, sim) with the
    canonical least/greatest id order and the batch operator's
    rounding (so streamed ∪ batch results are directly comparable),
    and new_rows = THIS batch's (id, vector) rows for an append-only
    store (redelivered ids are anti-joined out first, so a replayed
    batch neither re-pairs nor duplicates state).

    Scale: per trigger one cell exchange of O(batch + matching corpus
    cells) — the stored side is joined cell-equi (broadcast-eligible
    for small batches under AQE), never crossed.
    """
    new_vecs = new_vecs.select(F.col(id_col), F.col(vec_col))
    if seen_vecs is not None:
        new_vecs = new_vecs.join(
            seen_vecs.select(F.col(id_col)), id_col, "left_anti"
        )
    new_cells = _emb_lsh_cells(new_vecs, id_col, vec_col, num_planes, num_tables, dim, seed)
    a, b = new_cells.alias("a"), new_cells.alias("b")
    sim = F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 9)
    # in-batch pairs with a.id < b.id (each once — the batch operator's
    # shape, not both orientations deduped later; review finding, r7)
    cand = a.join(
        b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id"))
    ).select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"), sim.alias("s"))
    if seen_vecs is not None:
        seen_cells = _emb_lsh_cells(
            seen_vecs.select(F.col(id_col), F.col(vec_col)),
            id_col, vec_col, num_planes, num_tables, dim, seed,
        ).alias("b")
        # new×seen needs no id filter: the anti-join above made the id
        # sets disjoint, so self-pairs are impossible
        sim_ns = F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 9)
        cand = cand.unionByName(
            a.join(seen_cells, F.col("a.cell") == F.col("b.cell")).select(
                F.col("a.id").alias("ia"), F.col("b.id").alias("ib"), sim_ns.alias("s")
            )
        )
    pairs = (
        cand.select(
            F.least(F.col("ia"), F.col("ib")).alias("id_a"),
            F.greatest(F.col("ia"), F.col("ib")).alias("id_b"),
            F.col("s").alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("sim").alias("sim"))
    )
    return pairs, new_vecs


def paragraph_dedup(
    df: DataFrame,
    chunk_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (paragraph-level) dedup — the RefinedWeb/FineWeb
    curation step that removes boilerplate repeated ACROSS documents
    while keeping the documents themselves: split each doc into
    paragraph units, keep only the corpus-wide FIRST occurrence
    (lowest (doc_id, chunk_id)) of each distinct unit, and reassemble
    every document from its surviving units in original order.

    Paragraph unit = fixed ``chunk_tokens``-token windows
    (``packing.chunk_documents``): this corpus has no newline
    structure, and fixed windows are the Spark-friendly approximation
    of paragraph splitting — aligned repeats (exact-dup and
    shared-prefix docs, the dominant case after crawl ingest) dedup
    exactly; unaligned substring repeats need suffix-array machinery
    that does not distribute, and are out of scope by design.

    Output: (doc_id, n_chunks, n_chunks_kept, n_tokens_kept,
    dedup_text); docs whose every unit was seen earlier disappear
    entirely (their text contributes nothing new — the doc-level
    consequence of paragraph dedup).

    Scale shape — ONE corpus scan, two exchanges, no joins. The naive
    composition (chunk → keeper agg → join chunks back → join per-doc
    totals) plans THREE scan+tokenize+explode branches — the tokenize
    kernel is the dominant per-row cost, so that is 3× the scan work.
    Instead: (a) ``n_chunks`` is computed map-side from the token
    array BEFORE exploding and rides along on every chunk row, so the
    totals need no second pass; (b) the first-occurrence keeper is
    ``min(struct(doc_id, chunk_id, …full row))`` per unit md5 — the
    (doc_id, chunk_id) prefix is unique, so the min IS the surviving
    row with all its fields, and no join-back is needed. Both
    aggregations combine partially map-side. Reassembly order is
    array_sort over (chunk_id, text) structs — deterministic
    regardless of shuffle arrival order.
    """
    k = chunk_tokens
    toked = (
        ensure_parallelism(df)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("t"))
        .filter(F.size("t") > 0)
        .withColumn("n_chunks", F.floor((F.size("t") + F.lit(k - 1)) / F.lit(k)).cast("long"))
    )
    unit = F.transform(
        F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int")),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.least(F.lit(k), F.size("t") - i * k).cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.slice("t", i * k + 1, k)).alias("chunk_text"),
        ),
    )
    chunks = toked.select(id_col, "n_chunks", F.explode(unit).alias("c")).select(
        id_col, "n_chunks", "c.chunk_id", "c.n_tokens", "c.chunk_text"
    )
    keep = (
        chunks.groupBy(F.md5("chunk_text").alias("sig"))
        .agg(F.min(F.struct(id_col, "chunk_id", "n_tokens", "chunk_text", "n_chunks")).alias("r"))
        .select("r.*")
    )
    ordered_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
            lambda s: s.getField("chunk_text"),
        ),
    )
    return keep.groupBy(id_col).agg(
        F.min("n_chunks").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_chunks_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
        ordered_text.alias("dedup_text"),
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_sigs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Ingest-shaped dedup: keep only the new batch's documents whose
    content signature is neither in ``seen_sigs`` (the accumulated
    corpus state, one md5 per unique doc ever kept) nor duplicated
    within the batch itself; return (kept_docs, updated_sigs).

    This is how dedup runs in production — daily batches against a
    persisted signature table — rather than re-deduping the full
    corpus. Cost per batch: one agg over the batch (keep lowest id per
    in-batch sig) + one anti-join against the sig table, which is
    broadcast when small and a shuffled anti-join at corpus scale;
    the signature table (16 bytes/doc + id) is ~1/10⁴ the corpus size,
    so even 100 TB of text keeps sigs in the low-TB shuffle range.
    Persist ``updated_sigs`` (e.g. parquet, bucketed by sig) between
    batches.
    """
    sig = F.md5(F.col(text_col))
    batch = (
        new_docs.withColumn("sig", sig)
        .groupBy("sig")
        .agg(F.min(F.struct(id_col, text_col)).alias("k"))
        .select("sig", F.col(f"k.{id_col}").alias(id_col), F.col(f"k.{text_col}").alias(text_col))
    )
    if seen_sigs is None:
        kept = batch
        updated = batch.select("sig", id_col)
    else:
        kept = batch.join(seen_sigs.select("sig"), "sig", "left_anti")
        updated = seen_sigs.select("sig", id_col).unionByName(kept.select("sig", id_col))
    return kept.select(id_col, text_col, "sig"), updated


def incremental_minhash_lsh(
    new_docs: DataFrame,
    seen_sigs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    df_cap: int | None = None,
    sigs_out: str = "all",
) -> tuple[DataFrame, DataFrame]:
    """Ingest-shaped near-dup discovery: LSH candidates between the NEW
    batch and the accumulated corpus (``seen_sigs`` — the persisted
    (doc, signature) table from prior batches), never all×all. Returns
    ``(pairs, updated_sigs)``; persist ``updated_sigs`` between batches
    exactly like ``incremental_exact_dedup``'s signature table.

    The production complement of ``minhash_lsh_pairs``: re-running the
    full self-join on every ingest re-pays O(corpus) pairing per batch,
    while here the banded join is new×(new+corpus) — the corpus side is
    touched only through its stored signatures (~260 B/doc, no re-scan
    or re-shingling of old text), and at warehouse scale the stored
    sig table is bucketed on the band/bucket key so the join co-locates.
    Pairs are normalized (doc_a < doc_b) so new-new pairs emit once;
    old-old pairs never re-emit. ``df_cap`` is evaluated within the new
    batch only (batch-local stop-shingle control — a corpus-global df
    would require re-reading old text, defeating the incremental shape).

    Redelivery-safe by DOCUMENT IDENTITY: docs whose id already exists
    in ``seen_sigs`` are dropped (anti-join on the id) before
    signatures are computed, so an ingest retry neither grows the
    signature state nor re-pairs. Note the contrast with
    ``incremental_exact_dedup``, which keys on CONTENT md5: here a
    re-ingest of an existing id with CHANGED text is treated as a
    duplicate delivery and skipped — an id is an immutable document in
    this model. Pipelines that update documents in place must delete
    the id's row from the signature table first (making the new text
    visible as a fresh doc). Consume ``pairs`` before — or atomically
    with — committing ``updated_sigs``: once the state commit lands, a
    retry of the same batch yields zero pairs by design.

    No ``persist`` here: a persist inside the operator would leak one
    cached DataFrame per batch with no handle to unpersist. The cost is
    that the new batch's signature pipeline is planned on both join
    sides (and again when the caller writes ``updated_sigs``) — in the
    incremental regime the batch is small relative to the corpus, so
    re-computing it is cheaper than unbounded executor-cache growth;
    callers that disagree can persist/write ``new_docs`` first.

    ``sigs_out``: ``"all"`` (default) returns the full updated
    signature table — the rewrite-the-state shape; ``"new"`` returns
    only THIS batch's signatures, for append-only signature stores
    (``streaming.sinks.near_dup_maintenance_sink`` writes one O(batch)
    delta dir per micro-batch instead of rewriting the corpus-scale
    sig table every trigger — at 100 TB the rewrite IS the job).
    """
    if sigs_out not in ("all", "new"):
        raise ValueError(f"sigs_out must be 'all' or 'new', got {sigs_out!r}")
    r = _band_width(num_hashes, bands)
    if seen_sigs is not None:
        # Schema contract: stored signatures MUST have been built with
        # the same num_hashes — a different length would silently band
        # into wrong buckets and skew agreement estimates. The length
        # check rides inside the plan (no extra action): any offending
        # row raises at execution time.
        seen_sigs = seen_sigs.withColumn(
            "signature",
            F.when(F.size("signature") == num_hashes, F.col("signature")).otherwise(
                F.raise_error(
                    F.format_string(
                        "incremental_minhash_lsh: stored signature length %s != num_hashes "
                        + str(num_hashes)
                        + " for doc %s",
                        F.size("signature").cast("string"),
                        F.col("doc").cast("string"),
                    )
                )
            ),
        )
        new_docs = new_docs.join(seen_sigs.select(F.col("doc").alias(id_col)), id_col, "left_anti")
    sig_new = minhash_signatures(new_docs, text_col, id_col, num_hashes, df_cap=df_cap)
    all_sigs = sig_new if seen_sigs is None else seen_sigs.unionByName(sig_new)
    a = _banded(sig_new, bands, r).alias("a")
    b = _banded(all_sigs, bands, r).alias("b")
    agreement = _est_agreement(num_hashes)
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
            agreement.alias("est"),
        )
        .filter(F.col("est") >= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est").alias("est_jaccard"))
    )
    return pairs, (sig_new if sigs_out == "new" else all_sigs)


def _store_pc(*cols, n_store_parts: int):
    """Bounded store-partition id for a cell-partitioned delta store:
    md5-derived (engine/version-stable, unlike Murmur3 ``F.hash`` whose
    seed is a Spark implementation detail) and uniform over
    ``[0, n_store_parts)``. The cell key hashes DOWN to a bounded
    directory count so ``partitionBy(pc)`` never creates unbounded
    partition dirs while still letting a trigger prune its read to the
    partitions its own cells hash into."""
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in cols])
    return F.pmod(
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long"), F.lit(n_store_parts)
    ).cast("int")


def minhash_store_rows(
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    df_cap: int | None = None,
    n_store_parts: int = 32,
) -> DataFrame:
    """Banded signature rows shaped for a CELL-PARTITIONED signature
    store: (doc, signature, band, bucket, pc) — one row per (doc,
    band), ``pc = md5(band:bucket) mod n_store_parts`` the bounded
    partition id the store is ``partitionBy``'d on.

    This is the r7-verdict fix for the streaming near-dup sink's
    per-trigger O(corpus) rescan: with the store partitioned by pc and
    bucket keys PRECOMPUTED at write time, a trigger (a) never
    re-tokenizes or re-hashes stored docs and (b) reads only the
    partitions its own batch's buckets hash into — the streaming twin
    of ``similarity.build_ivf_index``'s partition-pruned probes. The
    signature array rides on every band row (bands× replication,
    ~2 KB/doc at the 32/8 defaults) so candidate scoring needs no
    join-back into an unprunable per-doc table: storage is traded for
    the one access path the trigger needs. Reference parity: dim
    lookups in the reference are per-key point reads
    (…/utils/phoenix/DimUtil.scala:43-96), never a universe scan.
    """
    r = _band_width(num_hashes, bands)
    sig = minhash_signatures(new_docs, text_col, id_col, num_hashes, df_cap=df_cap)
    return _banded(sig, bands, r).withColumn(
        "pc", _store_pc("band", "bucket", n_store_parts=n_store_parts)
    )


def minhash_pairs_from_banded(
    new_banded: DataFrame,
    stored_banded: DataFrame | None,
    num_hashes: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs from PRE-BANDED rows: new×(new+stored) with the
    exact output contract of ``incremental_minhash_lsh`` (canonical
    doc_a < doc_b, signature-agreement estimate, one row per pair) —
    but the stored side arrives as already-banded store rows
    (``minhash_store_rows`` schema), so no signature is re-banded and
    the caller can partition-prune the stored read to the new batch's
    ``pc`` set. Stored signatures are length-checked inside the plan
    (a store written with a different num_hashes would band into wrong
    buckets silently)."""
    if stored_banded is not None:
        stored_banded = stored_banded.withColumn(
            "signature",
            F.when(F.size("signature") == num_hashes, F.col("signature")).otherwise(
                F.raise_error(
                    F.format_string(
                        "minhash_pairs_from_banded: stored signature length %s != "
                        f"num_hashes {num_hashes} for doc %s",
                        F.size("signature").cast("string"),
                        F.col("doc").cast("string"),
                    )
                )
            ),
        )
    cols = ["doc", "signature", "band", "bucket"]
    b_side = new_banded.select(cols)
    if stored_banded is not None:
        b_side = b_side.unionByName(stored_banded.select(cols))
    a, b = new_banded.select(cols).alias("a"), b_side.alias("b")
    agreement = _est_agreement(num_hashes)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
            agreement.alias("est"),
        )
        .filter(F.col("est") >= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est").alias("est_jaccard"))
    )


def embedding_store_rows(
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    num_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    n_store_parts: int = 32,
) -> DataFrame:
    """LSH cell rows shaped for a CELL-PARTITIONED vector store:
    (id, v, nrm, t, bkt, pc) — one row per (vector, table), with the
    norm and every (table, bucket) cell PRECOMPUTED at write time and
    ``pc = md5(t:bkt) mod n_store_parts`` the bounded partition id.
    The vector twin of ``minhash_store_rows`` (same r7-verdict fix):
    a trigger re-derives nothing for stored vectors — no norms, no
    num_tables×num_planes dot products — and prunes its read to the
    partitions its own batch's cells hash into. Plane constants are
    seed-deterministic (``_emb_lsh_cells``), so batch and stream land
    every vector in identical cells."""
    cells = _emb_lsh_cells(
        ensure_parallelism(new_vecs.select(F.col(id_col), F.col(vec_col))),
        id_col, vec_col, num_planes, num_tables, dim, seed,
    )
    return cells.select(
        "id", "v", "nrm",
        F.col("cell.t").alias("t"),
        F.col("cell.bkt").alias("bkt"),
    ).withColumn("pc", _store_pc("t", "bkt", n_store_parts=n_store_parts))


def embedding_pairs_from_cells(
    new_cells: DataFrame,
    stored_cells: DataFrame | None,
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding near-dup pairs from PRE-CELLED rows (the
    ``embedding_store_rows`` schema): new×new within the batch plus
    new×stored cell-equi, true-cosine scored from the STORED norms and
    vectors — the exact output contract of
    ``incremental_embedding_near_dup_lsh`` (canonical least/greatest id
    order, round-9 sim, one row per pair), with the stored side
    arriving pre-celled so nothing is re-derived per trigger."""
    a, b = new_cells.alias("a"), new_cells.alias("b")
    sim = F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 9)
    cand = a.join(
        b,
        (F.col("a.t") == F.col("b.t"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"), sim.alias("s"))
    if stored_cells is not None:
        sb = stored_cells.alias("b")
        sim_ns = F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 9
        )
        # new×stored needs no id-order filter: the caller anti-joins
        # redelivered ids out first, so the id sets are disjoint
        cand = cand.unionByName(
            a.join(
                sb, (F.col("a.t") == F.col("b.t")) & (F.col("a.bkt") == F.col("b.bkt"))
            ).select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"), sim_ns.alias("s"))
        )
    return (
        cand.select(
            F.least(F.col("ia"), F.col("ib")).alias("id_a"),
            F.greatest(F.col("ia"), F.col("ib")).alias("id_b"),
            F.col("s").alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("sim").alias("sim"))
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    watermark_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Content dedup on a stream: ``dropDuplicates`` on the md5 of the
    text. Without a watermark column the dedup state grows forever
    (exactly the semantics of a global unique-content gate); with one,
    state is bounded to the watermark horizon — duplicates arriving
    later than ``delay`` after the original are NOT suppressed, the
    documented trade for bounded state (the batch/incremental paths
    are the unbounded-correct complement).
    """
    out = stream.withColumn("sig", F.md5(F.col(text_col)))
    if watermark_col is None:
        return out.dropDuplicates(["sig"])
    return out.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(["sig"])


def substring_dup_stats(
    df: DataFrame,
    window: int = 16,
    stride: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_fraction: float = 0.5,
) -> DataFrame:
    """Sub-document EXACT-substring duplication stats via overlapping
    token windows (the ExactSubstr idea of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    approximated on a stride grid): a doc whose text largely re-appears
    verbatim inside OTHER docs — boilerplate, mirrored articles,
    licenses — is flagged even when no whole-document or
    whole-paragraph hash matches.

    Each doc emits md5 hashes of its ``window``-token substrings at
    ``stride``-token starts (stride < window ⇒ overlapping coverage;
    the w/s ratio bounds the blowup at 2× for the 16/8 default).
    Output per doc: ``n_windows``, ``n_shared`` (windows whose hash
    also occurs in ≥1 OTHER doc), ``dup_fraction``, and ``drop``
    (fraction > ``max_dup_fraction``).

    Approximation contract (the price of being a dataflow instead of
    the paper's suffix array): windows are cut on each doc's OWN
    token grid, so a verbatim run shared by two docs is detected iff
    the docs' grids align over it — i.e. the offset difference of the
    run is ≡ 0 (mod stride). Whole-doc copies, copies with
    stride-aligned prefixes, and boilerplate injected at consistent
    positions (the dominant web-dup cases) all align; a copy at an
    arbitrary offset has a 1/stride chance per unit. ``stride=1``
    recovers full exactness at window× token blowup — a knob, not a
    redesign.

    Scale shape — ONE corpus scan, TWO shuffles, both on md5-derived
    keys (skew-proof): window hashes are ``array_distinct``-ed per doc
    MAP-SIDE before exploding (so the (doc, hash) stream is distinct
    by construction — no distinct shuffle), then [1] a COUNT window
    over the whash partitioning marks shared hashes in place, and
    [2] a hash-agg folds back to docs. The window formulation (vs
    aggregate-then-join-back) is what keeps it one scan: the join
    form reads, tokenizes and hashes the corpus TWICE — at 100 TB the
    duplicated tokenize is the dominant map-stage CPU, a worse trade
    than the window's local sort of the already-exploded hashes.

    Docs shorter than ``window`` tokens emit one window covering the
    whole doc (short-doc exact dedup); empty docs hash the empty
    string — all-empty docs are mutual duplicates, which is the
    correct reading.
    """
    # Token array STAGED as a real column (r16, the winnow/shingle
    # lesson): HOF lambdas are interpreted with no loop-invariant
    # hoisting, so an inlined ``toks`` inside the window lambda would
    # re-run tokenize once per window start — O(tokens²) per doc.
    toks = F.col("_toks")
    n = F.size(toks)
    n_starts = F.when(
        n >= window, F.floor((n - F.lit(window)) / stride).cast("int") + 1
    ).otherwise(F.lit(1))
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_starts - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * stride + 1, window))),
        )
    )
    doc_wins = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
        )
        .select(F.col(id_col), F.explode(wins).alias("whash"))
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("whash"))
    marked = doc_wins.withColumn("_shared", (n_docs >= 2).cast("int"))
    frac = F.col("n_shared").cast("double") / F.col("n_windows")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("_shared").alias("n_shared"),
        )
        .select(
            F.col(id_col),
            F.col("n_windows"),
            F.col("n_shared"),
            frac.alias("dup_fraction"),
            (frac > F.lit(max_dup_fraction)).alias("drop"),
        )
    )


def edit_distance_verify(
    df: DataFrame,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    cand_threshold: float = 0.1,
    df_cap: int | None = None,
) -> DataFrame:
    """Character-level EDIT-DISTANCE verification of LSH candidate
    pairs: ``(doc_a, doc_b, edit_dist, edit_sim)`` where
    ``edit_sim = 1 − levenshtein/max(len)`` (rounded 9 dp) and only
    pairs with ``edit_sim ≥ threshold`` survive.

    Why a THIRD verifier next to Jaccard and cosine: shingle Jaccard is
    coarse on SHORT documents (one token edit can drop several of the
    handful of shingles) and order-blind on long ones; Levenshtein is
    the precise character-level metric — the classic last-pass check
    before merging near-identical records. Both engines ship the same
    unit-cost Levenshtein (Spark ``levenshtein``, DuckDB
    ``levenshtein``), so the metric is exactly cross-engine.

    Cost contract: Levenshtein is O(|a|·|b|) PER PAIR — it must only
    ever run on a bounded candidate set, never corpus×corpus. The
    candidate stage here is the proven banded-LSH pipeline
    (``minhash_lsh_pairs`` at ``cand_threshold``); the verify stage is
    two id equi-joins to fetch texts plus a map-side distance. Both
    NULL/empty texts compare as identical (edit_sim 1.0 — the
    ''-shingle clique convention carried through)."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, cand_threshold, df_cap=df_cap
    ).select("doc_a", "doc_b")
    t = df.select(F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("_t"))
    j = pairs.join(
        t.select(F.col(id_col).alias("doc_a"), F.col("_t").alias("ta")), "doc_a"
    ).join(t.select(F.col(id_col).alias("doc_b"), F.col("_t").alias("tb")), "doc_b")
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    mx = F.greatest(F.length("ta"), F.length("tb"))
    sim = F.round(
        F.when(mx == 0, F.lit(1.0)).otherwise(
            F.lit(1.0) - dist.cast("double") / mx.cast("double")
        ),
        9,
    )
    return (
        j.select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_dist"),
            sim.alias("edit_sim"),
        )
        .filter(F.col("edit_sim") >= F.lit(threshold))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """ASYMMETRIC n-gram containment pairs — the subset-duplication
    detector symmetric Jaccard misses: ``containment(A→B) =
    |A∩B| / |A|`` is ~1.0 when doc A is quoted/embedded inside a much
    larger doc B even though their Jaccard is tiny (the C4/RealNews
    quotation-dedup case). Emits ``(doc_a, doc_b, inter, size_a,
    size_b, containment_a, containment_b)`` for pairs where EITHER
    direction reaches ``threshold`` (doc_a < doc_b; containment_a is
    "how much of A is inside B").

    Same plan shape, same ``df_cap`` stop-shingle guard and same
    capped-universe exactness contract as ``ngram_jaccard_pairs`` —
    one 8-byte-key shingle self-join, per-pair intersection, sizes by
    inclusion; only the final scoring expression differs."""
    df = ensure_parallelism(df)
    shingled = shingle_explode(
        df, text_col, n=n, keep=[F.col(id_col).alias("doc")]
    ).select("doc", F.xxhash64("shingle").alias("sh"))
    paired = shingled
    if df_cap is not None:
        freq = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        paired = shingled.join(freq.filter(F.col("df") <= df_cap).select("sh"), "sh")
    sizes = paired.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = paired.alias("a")
    b = paired.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    ca = F.col("inter").cast("double") / F.col("size_a").cast("double")
    cb = F.col("inter").cast("double") / F.col("size_b").cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment_a", ca)
        .withColumn("containment_b", cb)
        .filter(
            (F.col("containment_a") >= F.lit(threshold))
            | (F.col("containment_b") >= F.lit(threshold))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            "containment_a",
            "containment_b",
        )
    )
