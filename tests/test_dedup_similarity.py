"""Semantic tests for the approximate dedup/similarity operators
(MinHash-LSH, SimHash, hyperplane-LSH) against constructed
near-duplicates — these have no SQL oracle, so correctness is defined
here: near-dups must be found, unrelated docs must not."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rt_bigdata_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from rt_bigdata_spark.operators.similarity import brute_force_topk, hyperplane_lsh_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "bird and the mouse runs under the table near the old wooden door"
)
NEAR_DUP = BASE.replace("wooden door", "wooden gate")  # tiny edit
UNRELATED = (
    "completely different subject matter about quantum physics and the "
    "mathematics of topological spaces in higher dimensional geometry"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR_DUP), (3, UNRELATED), (4, BASE)],
        ["doc_id", "text"],
    )


def test_exact_dedup_finds_identical(spark, docs):
    out = {r.keep_id: r.dup_ct for r in exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1 and 4 identical → kept id 1, count 2
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_estimates_track_true_jaccard(spark, docs):
    true = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    est = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_lsh_pairs(docs, threshold=0.0).collect()}
    for pair, e in est.items():
        if pair in true:
            assert abs(e - true[pair]) < 0.35  # 32 hashes → coarse but correlated


def test_simhash_near_dups_close_in_hamming(spark, docs):
    sh = {r.doc: r.simhash for r in simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sh[1] == sh[4]
    assert ham(sh[1], sh[2]) <= 6  # near-dup: few bits differ
    assert ham(sh[1], sh[3]) > ham(sh[1], sh[2])  # unrelated: farther


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(50):
        base = [math.sin(i * 0.7 + j) for j in range(8)]
        rows.append((i, [float(x) for x in base]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_self_similarity(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 2)
    out = brute_force_topk(vectors, queries, k=5)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1}
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert -1.000000001 <= r.sim <= 1.000000001
    per_q = {q: sorted([r.rk for r in rows if r.query_id == q]) for q in (0, 1)}
    assert per_q[0] == [1, 2, 3, 4, 5] and per_q[1] == [1, 2, 3, 4, 5]


def test_lsh_topk_subset_of_bruteforce_candidates(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 2)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(vectors, queries, k=50).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in hyperplane_lsh_topk(vectors, queries, k=50, dim=8).collect()}
    assert approx  # finds something
    assert approx.issubset(exact)  # candidates are a recall-limited subset


def test_ivf_topk_matches_bruteforce_in_probed_cells(spark, vectors):
    from rt_bigdata_spark.operators.similarity import ivf_topk

    queries = vectors.filter(F.col("vec_id") < 2)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(vectors, queries, k=50).collect()}
    rows = ivf_topk(vectors, queries, k=50, n_centroids=8, n_probe=3).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    assert approx  # probing finds candidates
    assert approx.issubset(exact)  # never invents pairs
    # sims must agree with brute force for shared pairs
    exact_sims = {(r.query_id, r.neighbor_id): r.sim for r in brute_force_topk(vectors, queries, k=50).collect()}
    for r in rows:
        assert abs(r.sim - exact_sims[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ivf_full_probe_recovers_bruteforce_topk(spark, vectors):
    from rt_bigdata_spark.operators.similarity import ivf_topk

    queries = vectors.filter(F.col("vec_id") < 2)
    exact = {(r.query_id, r.neighbor_id, r.rk) for r in brute_force_topk(vectors, queries, k=5).collect()}
    # probing every cell ≡ exact search
    full = {(r.query_id, r.neighbor_id, r.rk) for r in ivf_topk(vectors, queries, k=5, n_centroids=8, n_probe=8).collect()}
    assert full == exact


def test_ivf_indexed_matches_inline_and_partition_prunes(spark, vectors, tmp_path):
    """The materialized index path must return exactly what the inline
    operator returns, and its scan must partition-prune to the probed
    cells (the ~n_probe/n_centroids read that makes IVF pay at scale)."""
    import contextlib
    import io

    from rt_bigdata_spark.operators.similarity import build_ivf_index, ivf_topk, ivf_topk_indexed

    queries = vectors.filter(F.col("vec_id") < 2)
    inline = {(r.query_id, r.neighbor_id, r.rk) for r in ivf_topk(vectors, queries, k=5, n_centroids=8, n_probe=3).collect()}

    path = str(tmp_path / "ivf_index")
    build_ivf_index(vectors, path, n_centroids=8)
    out = ivf_topk_indexed(spark, path, queries, k=5, n_probe=3)
    indexed = {(r.query_id, r.neighbor_id, r.rk) for r in out.collect()}
    assert indexed == inline

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    pf_lines = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert pf_lines and all("cell" in line for line in pf_lines), plan


def test_trained_centroid_index_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    """The PRODUCTION composition end-to-end: build_ivf_index with the
    COMMITTED trained centroids (models/ivf_centroids.json), probe via
    ivf_topk_indexed — must equal the registered q_ann_ivf_trained
    (inline form) exactly, and the probe scan must partition-prune on
    cell. Proves the driver-verified spec and the materialized 100 TB
    path are the same answers under the same model artifact."""
    import contextlib
    import io

    from rt_bigdata_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        load_ivf_centroids,
    )
    from rt_bigdata_spark.plans.textops import _ivf_model_path, q_ann_ivf_trained
    from rt_bigdata_spark.sources.tables import load_table

    cents = load_ivf_centroids(_ivf_model_path())
    inline = {
        (r.query_id, r.neighbor_id, r.rk, r.sim)
        for r in q_ann_ivf_trained(spark, sf_dir).collect()
    }

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_trained_index")
    build_ivf_index(emb, path, centroids=cents)
    out = ivf_topk_indexed(spark, path, emb.filter(F.col("vec_id") < 5), k=10, n_probe=4)
    indexed = {(r.query_id, r.neighbor_id, r.rk, r.sim) for r in out.collect()}
    assert indexed == inline

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    pf_lines = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert pf_lines and all("cell" in line for line in pf_lines), plan


def test_embedding_near_dup_exact_and_lsh(spark, vectors):
    from rt_bigdata_spark.operators.dedup import embedding_near_dup_lsh, embedding_near_dup_pairs

    exact = {(r.id_a, r.id_b): r.sim for r in embedding_near_dup_pairs(vectors, threshold=0.99).collect()}
    # sin-wave vectors repeat with period 2π/0.7 ≈ 8.98… — no exact repeat,
    # but i and i+9 are near-identical phases → sim ≈ 1
    assert exact, "expected high-cosine pairs in the periodic fixture"
    for (a, b), s in exact.items():
        assert a < b and s >= 0.99
    approx = {(r.id_a, r.id_b): r.sim for r in embedding_near_dup_lsh(vectors, threshold=0.99, dim=8).collect()}
    assert approx  # finds some
    assert set(approx).issubset(set(exact))  # re-scored → never a false positive
    for pair, s in approx.items():
        assert abs(s - exact[pair]) < 1e-9


def test_df_cap_drops_stop_shingle_pairs(spark):
    """Docs 1/2 share only a stop-shingle present in every doc; docs 3/4
    share a rare shingle. With the cap, the stop-shingle pair vanishes,
    the rare pair survives with exact Jaccard on the capped universe."""
    stop = "the quick brown"
    rows = [
        (1, stop + " alpha beta gamma"),
        (2, stop + " delta epsilon zeta"),
        (3, stop + " eta theta iota kappa lambda mu"),
        (4, stop + " eta theta iota kappa lambda nu"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df, threshold=0.01).collect()}
    capped = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df, threshold=0.01, df_cap=3).collect()}
    assert (1, 2) in uncapped
    assert (1, 2) not in capped  # only shared capped shingles → dropped
    assert (3, 4) in capped  # rare-shingle pair survives

    # minhash cap: candidates still found for the rare pair
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df, threshold=0.1, df_cap=3).collect()}
    assert (3, 4) in lsh


def test_kmeans_ivf_centroids_are_valid_and_improve_balance(spark, vectors):
    from rt_bigdata_spark.operators.similarity import (
        _assign_cells,
        ivf_topk,
        brute_force_topk,
        train_ivf_centroids,
    )

    centroids = train_ivf_centroids(vectors, n_centroids=4, seed=42)
    assert len(centroids) == 4
    for c in centroids:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-6  # L2-normalized

    # every cell gets assigned; trained-centroid IVF results stay a
    # subset of brute force (same guarantee as seeded IVF)
    cells = _assign_cells(vectors, centroids, "vec_id", "embedding")
    assert cells.select("cell").distinct().count() >= 2
    queries = vectors.limit(2)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(vectors, queries, k=5, n_probe=2, centroids=centroids).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in brute_force_topk(vectors, queries, k=30).collect()
    }
    assert approx <= exact


def test_load_ivf_centroids_validates_committed_artifact(tmp_path):
    """The committed model artifact loads, has the documented shape,
    and the loader rejects corrupted exports (wrong dim, non-unit
    norm) at load time — r13 verdict item 1's trained-centroid path."""
    import json

    import pytest as _pytest

    from rt_bigdata_spark.operators.similarity import load_ivf_centroids
    from rt_bigdata_spark.plans.textops import _ivf_model_path

    cents = load_ivf_centroids(_ivf_model_path())
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    for c in cents:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-6

    bad = {"n_centroids": 1, "dim": 3, "centroids": [[1.0, 1.0]]}
    f = tmp_path / "bad_dim.json"
    f.write_text(json.dumps(bad))
    with _pytest.raises(ValueError, match="dim"):
        load_ivf_centroids(str(f))
    f2 = tmp_path / "bad_norm.json"
    f2.write_text(json.dumps({"n_centroids": 1, "dim": 2, "centroids": [[3.0, 4.0]]}))
    with _pytest.raises(ValueError, match="normalized"):
        load_ivf_centroids(str(f2))


def test_embedding_candidate_verify_pipeline_matches_fused_lsh(spark, sf_dir):
    """The split discovery→verify pipeline (embedding_lsh_candidates →
    embedding_verify_pairs) must return exactly the fused
    embedding_near_dup_lsh pairs at the same threshold: same candidate
    cells, same exact-cosine rescore, different plan shape only."""
    from rt_bigdata_spark.operators.dedup import (
        embedding_lsh_candidates,
        embedding_near_dup_lsh,
        embedding_verify_pairs,
    )
    from rt_bigdata_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fused = {
        (r.id_a, r.id_b, r.sim) for r in embedding_near_dup_lsh(emb, threshold=0.35).collect()
    }
    cands = embedding_lsh_candidates(emb)
    split = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_verify_pairs(emb, cands, threshold=0.35).collect()
    }
    assert split == fused and len(split) > 0


def test_paragraph_dedup_keeps_first_occurrence_and_reassembles(spark):
    """Doc 1 and doc 2 share an identical leading paragraph (aligned):
    doc 1 keeps it (lowest doc_id), doc 2 survives with only its novel
    tail; a doc that is entirely a repeat disappears."""
    from rt_bigdata_spark.operators.dedup import paragraph_dedup

    boiler = " ".join(f"b{i}" for i in range(4))  # one 4-token unit
    rows = [
        (1, f"{boiler} u1a u1b u1c u1d"),
        (2, f"{boiler} u2a u2b u2c u2d"),
        (3, boiler),  # pure repeat -> vanishes
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in paragraph_dedup(df, chunk_tokens=4).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_chunks == 2 and out[1].n_chunks_kept == 2
    assert out[1].dedup_text == f"{boiler} u1a u1b u1c u1d"
    assert out[2].n_chunks == 2 and out[2].n_chunks_kept == 1
    assert out[2].dedup_text == "u2a u2b u2c u2d"


def test_paragraph_dedup_reassembly_preserves_order(spark):
    from rt_bigdata_spark.operators.dedup import paragraph_dedup

    text = " ".join(f"w{i}" for i in range(20))  # 5 units of 4 tokens, all distinct
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    out = paragraph_dedup(df, chunk_tokens=4).collect()[0]
    assert out.dedup_text == text and out.n_chunks_kept == 5 and out.n_tokens_kept == 20


def test_minhash_threshold_sweep_monotone_and_zero_filled(spark):
    """One LSH pass, whole grid: counts are non-increasing in the
    threshold, identical copies survive every threshold (est = 1.0),
    and thresholds no pair reaches appear zero-filled rather than
    missing."""
    from rt_bigdata_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_threshold_sweep,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                       # identical -> est 1.0 pair
            (3, base + " extra trailing"),   # near-dup of 1 and 2
            (4, " ".join(f"zz{i}" for i in range(30))),  # unique
        ],
        "doc_id: long, text: string",
    )
    grid = (0.1, 0.5, 0.999)
    rows = {r.threshold: r for r in minhash_threshold_sweep(docs, grid).collect()}
    assert set(rows) == set(grid)  # every threshold present, even empty ones
    pair_counts = [rows[t].n_pairs for t in sorted(grid)]
    doc_counts = [rows[t].n_docs_with_dup for t in sorted(grid)]
    assert pair_counts == sorted(pair_counts, reverse=True)
    assert doc_counts == sorted(doc_counts, reverse=True)
    # the identical pair survives even at 0.999 (est exactly 1.0)
    assert rows[0.999].n_pairs >= 1 and rows[0.999].n_docs_with_dup >= 2
    # the loosest row must agree with a direct single-threshold run
    direct = minhash_lsh_pairs(docs, threshold=0.1)
    assert rows[0.1].n_pairs == direct.count()


def test_embedding_tau_sweep_monotone_and_agrees_with_single_run(spark):
    """τ-sweep from one LSH pass: monotone non-increasing counts, the
    scaled-copy pair (cosine exactly 1.0 — positive scaling preserves
    every hyperplane sign, so cell collision is guaranteed) survives
    the tightest τ, and the floor row equals a direct single-τ run."""
    from rt_bigdata_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_tau_sweep,
    )

    base = [1.0, -2.0, 0.5, 3.0]
    vecs = [
        (1, base),
        (2, [2.0 * x for x in base]),      # same direction -> sim 1.0
        (3, [-3.0, 1.0, 2.0, -0.5]),       # unrelated direction
    ]
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<double>")
    grid = (0.2, 0.9, 1.0)
    rows = {r.tau: r for r in embedding_tau_sweep(df, grid, dim=4).collect()}
    assert set(rows) == set(grid)
    pair_counts = [rows[t].n_pairs for t in sorted(grid)]
    assert pair_counts == sorted(pair_counts, reverse=True)
    # the scaled copy survives even at tau = 1.0
    assert rows[1.0].n_pairs >= 1 and rows[1.0].n_docs_with_dup >= 2
    direct = embedding_near_dup_lsh(df, threshold=0.2, dim=4)
    assert rows[0.2].n_pairs == direct.count()


def test_source_matrix_collapse_equals_naive_enumeration(spark):
    """near_dup_source_matrix's exact-duplicate collapse must reproduce
    the naive pair-enumeration matrix bit-for-bit, including multi-
    source exact-dup cliques (the case where the combinatorics are
    easy to get wrong: C(m,2) same-source + m_s*m_t cross-source
    within a clique, m_a*m_b across cliques)."""
    import pyspark.sql.functions as F

    from rt_bigdata_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_source_matrix,
    )

    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    near = base + " tonight"      # near-dup of base (high jaccard)
    other = "completely different words about spark shuffles and joins here"
    rows = (
        # a 5-member exact clique of `base` spread over 3 sources
        [(1, base, "s1"), (2, base, "s1"), (3, base, "s2"), (4, base, "s2"), (5, base, "s3")]
        # a 2-member exact clique of `near` on one source
        + [(6, near, "s3"), (7, near, "s1")]
        # singletons
        + [(8, other, "s2"), (9, other + " extra tail tokens", "s3")]
    )
    df = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")

    got = {
        (r.source_a, r.source_b): r.n_pairs
        for r in near_dup_source_matrix(df, threshold=0.1).collect()
    }

    src = {doc_id: s for doc_id, _, s in rows}
    naive: dict[tuple[str, str], int] = {}
    for r in minhash_lsh_pairs(df, threshold=0.1).collect():
        a, b = sorted((src[r.doc_a], src[r.doc_b]))
        naive[(a, b)] = naive.get((a, b), 0) + 1
    assert got == naive
    # sanity: the 5-clique alone contributes C(2,2 choose)=1+1 same-src
    # pairs for s1 and s2 and cross-source pairs — the matrix must have
    # every source pair of the clique present
    for key in [("s1", "s1"), ("s2", "s2"), ("s1", "s2"), ("s1", "s3"), ("s2", "s3")]:
        assert key in got, key


def test_ngram_novelty_matches_python_reference(spark):
    """ngram_novelty against a pure-Python first-occurrence scan with
    the same distinct-3-gram shingling (short docs collapse to one
    whole-text shingle, duplicate docs have novelty 0 after the
    first)."""
    import re as _re

    from rt_bigdata_spark.operators.text_analysis import ngram_novelty

    texts = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),        # exact dup -> novelty 0
        (3, "zeta eta theta"),                        # single 3-gram, new
        (4, "alpha beta gamma NEW words here after"),  # partial overlap
        (5, "tiny"),                                  # < 3 tokens -> whole text
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    got = {
        r.doc_id: (r.n_grams, r.n_seen_before, round(r.novelty, 12))
        for r in ngram_novelty(df).collect()
    }

    def shingles(t):
        toks = [w for w in _re.split(r"[^\w]+", t.lower()) if w]
        if len(toks) <= 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    first: dict[str, int] = {}
    for doc_id, t in texts:
        for g in sorted(shingles(t)):
            first.setdefault(g, doc_id)
    want = {}
    for doc_id, t in texts:
        gs = shingles(t)
        seen = sum(1 for g in gs if first[g] < doc_id)
        want[doc_id] = (len(gs), seen, round(1.0 - seen / len(gs), 12))
    assert got == want


def test_sweep_empty_grid_raises_contextual_error(spark):
    """ADVICE r10: an empty threshold/tau grid must raise a contextual
    ValueError, not min()'s bare 'empty sequence'."""
    import pytest

    from rt_bigdata_spark.operators.dedup import (
        embedding_tau_sweep,
        minhash_threshold_sweep,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="thresholds grid"):
        minhash_threshold_sweep(df, [])
    emb = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="taus grid"):
        embedding_tau_sweep(emb, [], dim=2)


def test_sweep_grid_above_cosine_ceiling_raises(spark):
    """ADVICE r11: the exact-dup collapse folds within-clique pairs
    (sim/est exactly 1.0) into EVERY grid value — a τ or threshold
    above 1.0 would keep that fold while naive enumeration excludes
    the pairs. Both collapse-based operators must reject > 1.0."""
    from rt_bigdata_spark.operators.dedup import (
        embedding_tau_sweep,
        near_dup_source_matrix,
    )

    emb = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="<= 1.0"):
        embedding_tau_sweep(emb, [0.5, 1.1], dim=2)
    docs = spark.createDataFrame([(1, "a b c", "s0")], "doc_id: long, text: string, source: string")
    with pytest.raises(ValueError, match="<= 1.0"):
        near_dup_source_matrix(docs, threshold=1.2)


def test_null_text_convention_for_shingle_family(spark):
    """ADVICE r11: NULL text ≡ empty text across the word_shingles
    family — one '' shingle, the doc participates in dedup as a member
    of the empty-doc clique. Pins both the Spark clamp and the
    coalesced DuckDB oracle so neither can drift alone."""
    import duckdb

    from rt_bigdata_spark.operators.dedup import word_shingles
    from rt_bigdata_spark.operators.text_analysis import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None), (3, "")],
        "doc_id: long, text: string",
    )
    sh = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", word_shingles(F.col("text")).alias("sh")).collect()
    }
    assert sh[2] == [""] == sh[3]  # NULL clamps exactly like empty

    # ngram_novelty keeps the NULL doc, and its oracle (coalesced
    # tokenizer) agrees: doc 2 sees the '' shingle first, doc 3 re-sees it
    out = {r.doc_id: (r.n_grams, r.n_seen_before) for r in ngram_novelty(docs).collect()}
    assert out[2] == (1, 0) and out[3] == (1, 1)

    from rt_bigdata_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    oracle = {
        int(r[0]): (int(r[1]), int(r[2]))
        for r in con.execute(REGISTRY["ngram_novelty"].oracle).fetchall()
    }
    assert oracle[2] == out[2] and oracle[3] == out[3]


# ---------------------------------------------------------------------------
# r12 verdict item 6: max_pairs_per_group — the capped spanning-pair
# form a 100 TB run materializes instead of the Θ(Σ m_g²) full pair set
# ---------------------------------------------------------------------------


def _components(pairs: set[tuple[int, int]], nodes: set[int]) -> set[frozenset[int]]:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, set[int]] = {}
    for n in nodes:
        comps.setdefault(find(n), set()).add(n)
    return {frozenset(v) for v in comps.values()}


def _dup_corpus(spark):
    """3 exact-dup cliques (sizes 4, 3, 2) + 2 singletons + a genuine
    near-dup pair (not exact): the shapes the cap must handle."""
    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "pack my box with five dozen liquor jugs before the long winter night",
        "how vexingly quick daft zebras jump when the circus music starts",
    ]
    rows = []
    did = 0
    for ci, m in enumerate((4, 3, 2)):
        for _ in range(m):
            did += 1
            rows.append((did, base[ci]))
    rows.append((did + 1, "completely unrelated text about sparkling distributed engines"))
    rows.append((did + 2, base[0] + " tonight"))  # near-dup of clique 0, not exact
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_minhash_lsh_pair_cap_is_spanning_subset(spark):
    from rt_bigdata_spark.operators.dedup import minhash_lsh_pairs

    docs = _dup_corpus(spark)
    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold=0.5).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, threshold=0.5, max_pairs_per_group=100
        ).collect()
    }
    # subset with identical values
    for k, v in capped.items():
        assert k in full and full[k] == v, k
    # strictly smaller on this corpus: clique C(4,2)+C(3,2)+C(2,2)=10
    # within-pairs shrink to 3+2+1=6 spanning pairs
    assert len(capped) < len(full)
    # cap >= clique-1 ⇒ identical connected components
    nodes = {r.doc_id for r in docs.collect()}
    assert _components(set(capped), nodes) == _components(set(full), nodes)
    # every clique's within-pairs are the keeper→member star
    assert {(1, 2), (1, 3), (1, 4), (5, 6), (5, 7), (8, 9)} <= set(capped)
    assert (2, 3) in full and (2, 3) not in capped


def test_minhash_lsh_pair_cap_truncates_at_cap(spark):
    from rt_bigdata_spark.operators.dedup import minhash_lsh_pairs

    docs = _dup_corpus(spark)
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, threshold=0.5, max_pairs_per_group=1
        ).collect()
    }
    # size-4 clique {1,2,3,4}: exactly ONE within-pair, the lowest member
    within = {p for p in capped if p[0] == 1 and p[1] in (2, 3, 4)}
    assert within == {(1, 2)}


def test_embedding_lsh_pair_cap_is_spanning_subset(spark):
    from rt_bigdata_spark.operators.dedup import embedding_near_dup_lsh

    import random

    rng = random.Random(7)
    dim = 8
    base = [[round(rng.uniform(-1, 1), 3) for _ in range(dim)] for _ in range(3)]
    rows = []
    vid = 0
    for ci, m in enumerate((4, 3, 2)):
        for _ in range(m):
            vid += 1
            rows.append((vid, base[ci]))
    rows.append((vid + 1, [1.0] + [0.0] * (dim - 1)))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    kw = dict(threshold=0.9, num_planes=4, num_tables=3, dim=dim)
    full = {
        (r.id_a, r.id_b): r.sim for r in embedding_near_dup_lsh(df, **kw).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.sim
        for r in embedding_near_dup_lsh(df, max_pairs_per_group=100, **kw).collect()
    }
    for k, v in capped.items():
        assert k in full and full[k] == v, k  # bit-identical sims
    assert len(capped) < len(full)
    nodes = {r.vec_id for r in df.collect()}
    assert _components(set(capped), nodes) == _components(set(full), nodes)
    assert {(1, 2), (1, 3), (1, 4), (5, 6), (5, 7), (8, 9)} <= set(capped)


def test_minhash_recall_monotone_and_reaches_one_at_r1(spark):
    """Banding recall properties: monotone non-decreasing in bands
    (shorter bands collide more), recall 1.0 at r=1 whenever every
    true pair agrees in >=1 minhash position, constant n_true across
    the grid, and a planted exact-dup pair is reachable at EVERY
    banding (identical signatures collide in all bands)."""
    from rt_bigdata_spark.operators.dedup import minhash_recall

    docs = _dup_corpus(spark)
    rows = {
        int(r.bands): r
        for r in minhash_recall(
            docs, jaccard_threshold=0.5, num_hashes=16, bands_grid=(2, 4, 8, 16)
        ).collect()
    }
    assert set(rows) == {2, 4, 8, 16}
    recalls = [rows[b].recall for b in sorted(rows)]
    assert recalls == sorted(recalls)
    assert len({r.n_true for r in rows.values()}) == 1
    assert rows[2].n_true > 0
    # exact-dup cliques (identical sigs) are reachable even at the
    # strictest banding, so recall can never be 0 on this corpus
    assert rows[2].recall > 0.0
    assert rows[16].recall >= rows[2].recall


def test_minhash_recall_validates_band_divisibility(spark):
    import pytest as _pt

    from rt_bigdata_spark.operators.dedup import minhash_recall

    docs = _dup_corpus(spark)
    with _pt.raises(ValueError, match="divide"):
        minhash_recall(docs, num_hashes=16, bands_grid=(3,)).collect()


# --- edit-distance verification --------------------------------------


def test_edit_distance_verify_values_and_empty_convention(spark):
    """Hand-pinned Levenshtein values on planted near-identical docs;
    NULL/empty docs (the ''-shingle clique) verify at edit_sim 1.0."""
    from rt_bigdata_spark.operators.dedup import edit_distance_verify

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("lazy", "hazy")),  # 1 substitution
        (3, None),
        (4, ""),
        (5, "completely unrelated words about quantum topology and geometry"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r.doc_a, r.doc_b): r for r in edit_distance_verify(df, threshold=0.3).collect()}
    pair = got[(1, 2)]
    assert pair.edit_dist == 1
    assert pair.edit_sim == round(1.0 - 1.0 / len(base), 9)
    empty = got[(3, 4)]
    assert empty.edit_dist == 0 and empty.edit_sim == 1.0
    assert (1, 5) not in got and (2, 5) not in got


def test_edit_distance_verify_is_subset_of_candidates(spark):
    """Verification only FILTERS: every surviving pair must be an LSH
    candidate pair, and raising the threshold shrinks the output
    monotonically."""
    from rt_bigdata_spark.operators.dedup import (
        edit_distance_verify,
        minhash_lsh_pairs,
    )
    from rt_bigdata_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    cands = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.1).select("doc_a", "doc_b").collect()
    }
    lo = {(r.doc_a, r.doc_b) for r in edit_distance_verify(docs, threshold=0.3).collect()}
    hi = {(r.doc_a, r.doc_b) for r in edit_distance_verify(docs, threshold=0.8).collect()}
    assert lo <= cands
    assert hi <= lo


def test_containment_detects_planted_quotation(spark):
    """A short doc quoted verbatim inside a much larger doc has
    containment(A->B) = 1.0 while its Jaccard stays below any dedup
    threshold — the asymmetric case the operator exists for."""
    from rt_bigdata_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i} word{i} extra{i}" for i in range(30))
    rows = [
        (1, quote),
        (2, filler + " " + quote + " " + filler.replace("filler", "pad")),
        (3, "entirely different text about something else entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r.doc_a, r.doc_b): r for r in ngram_containment_pairs(df, threshold=0.8).collect()}
    pair = got[(1, 2)]
    assert pair.containment_a == 1.0  # every shingle of the quote is in doc 2
    assert pair.containment_b < 0.2
    jac = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) not in jac  # symmetric Jaccard misses the quotation
    assert (1, 3) not in got and (2, 3) not in got


def test_containment_symmetric_on_identical_docs(spark):
    from rt_bigdata_spark.operators.dedup import ngram_containment_pairs

    rows = [(1, "a b c d e f g"), (2, "a b c d e f g")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    r = ngram_containment_pairs(df, threshold=0.9).collect()[0]
    assert r.containment_a == 1.0 and r.containment_b == 1.0
    assert r.inter == r.size_a == r.size_b


def test_shingle_explode_equals_naive_and_stages_tokenize_once(spark):
    """r16 staging fix: ``shingle_explode`` must (a) produce exactly the
    rows of the naive ``explode(word_shingles(text, n))`` form — NULL
    docs, short docs and duplicate-shingle dedup included — and (b)
    keep the tokenize expression OUT of the shingle lambda, i.e. the
    optimized plan evaluates ``split(lower(...))`` exactly once per
    row. An inlined token array is re-evaluated once per gram position
    by the interpreted HOF evaluator — O(tokens^2) tokenize work."""
    from rt_bigdata_spark.operators.dedup import shingle_explode, word_shingles

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "s0"),
        (2, None, "s1"),
        (3, "", "s0"),
        (4, "one two", "s1"),  # < n tokens → single clamped shingle
        (5, "a b a b a b a b", "s0"),  # duplicate shingles → array_distinct
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")

    staged = shingle_explode(df, "text", n=3, alias="g", keep=["doc_id", "source"])
    naive = df.select(
        "doc_id", "source", F.explode(word_shingles(F.col("text"), 3)).alias("g")
    )
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, naive.collect()))

    plan = staged._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(lower(") == 1, plan


def test_grid_counts_kernel_equals_brute_force(spark):
    """The sweeps' one-pass grid-count kernel against a pure-Python
    count over seeded random pair sets, unweighted and with
    multiplicities: n_pairs = sum of m_a*m_b over pairs scoring >= t,
    n_docs_with_dup = m = 1 docs in at least one such pair. Covers the
    empty pair set and a grid value above every score (zero rows)."""
    import random

    from rt_bigdata_spark.operators.dedup import _grid_counts

    def brute(rows, grid, base):
        mult = {d: m for a, b, _v, ma, mb in rows for d, m in ((a, ma), (b, mb))}
        out = {}
        for t in grid:
            hit = [r for r in rows if r[2] >= t]
            docs = {d for a, b, *_ in hit for d in (a, b) if mult[d] == 1}
            out[t] = (sum(r[3] * r[4] for r in hit) + base[0], len(docs) + base[1])
        return out

    rng = random.Random(11)
    grid = [0.9, 0.0, 0.25, 0.5, 0.5, 1.0, 1.5]  # unsorted, repeated, 1.5 > every score
    scores = [0.0, 0.125, 0.25, 0.3, 0.5, 0.875, 1.0]
    for weighted in (False, True):
        for n_pairs, base in ((0, (0, 0)), (1, (0, 0)), (25, (0, 0)), (40, (6, 4))):
            mult = {d: rng.choice([1, 1, 2, 5]) if weighted else 1 for d in range(14)}
            keys = set()
            while len(keys) < n_pairs:
                keys.add(tuple(sorted(rng.sample(range(14), 2))))
            rows = [(a, b, rng.choice(scores), mult[a], mult[b]) for a, b in sorted(keys)]
            pairs = spark.createDataFrame(rows, "a long, b long, v double, m_a long, m_b long")
            out = _grid_counts(pairs, grid, "g", base=base).collect()
            assert [r.g for r in out] == sorted(set(grid))
            got = {r.g: (r.n_pairs, r.n_docs_with_dup) for r in out}
            assert got == brute(rows, sorted(set(grid)), base), (weighted, n_pairs)


def test_minhash_signatures_equal_python_minhash(spark):
    """Pins the signature values: stores written by earlier builds must
    keep comparing. Reference: md5 31-bit shingle hash h (first 8 hex
    digits mod p), h_i = (h*(2i+1) + i*i+1) mod p, minimum over the
    doc's distinct word 3-shingles (the whole token join when a doc has
    fewer than 3 tokens)."""
    import hashlib

    from rt_bigdata_spark.operators.dedup import minhash_signatures

    p = 2147483647
    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "one two",
        3: "",
        4: "a b a b a b",
        5: "the quick brown fox jumps over the lazy cat",
    }

    def py_minhash(text, num_hashes):
        toks = text.split()
        grams = {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % p for g in grams]
        return [min((h * (2 * i + 1) + i * i + 1) % p for h in hs) for i in range(num_hashes)]

    df = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    for num_hashes in (32, 8):
        got = {r.doc: r.signature for r in minhash_signatures(df, num_hashes=num_hashes).collect()}
        assert got == {d: py_minhash(t, num_hashes) for d, t in texts.items()}


def test_minhash_lsh_build_py4j_budget(spark, monkeypatch):
    """Building ``minhash_lsh_pairs`` is driver-side py4j traffic; the
    generated expression families (signature minima, banding,
    agreement) are one JVM call each. Measured 708 round trips for the
    build with them; one Column chain per hash position cost ~3,500.
    The bound keeps ~50% headroom over the measured count."""
    from py4j.clientserver import ClientServerConnection

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z"), (4, "a b c d")], "doc_id long, text string"
    )
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    minhash_lsh_pairs(df, threshold=0.1)
    monkeypatch.undo()
    assert 0 < calls[0] <= 1050, calls[0]
