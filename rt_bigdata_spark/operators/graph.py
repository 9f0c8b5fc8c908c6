"""Iterative graph operators for dedup post-processing.

Near-dup discovery (minhash_lsh / ngram_jaccard) emits PAIRS; curation
needs CLUSTERS — pick one canonical doc per group of transitively-
connected near-dups. Connected components is the canonical iterative
Spark workload: no single-pass SQL expresses it, but a short loop of
joins does, with the driver controlling convergence.

``connected_components`` is the one entry point and picks one of two
paths by the measured edge count. At most ``_CC_DRIVER_EDGE_CAP``
directed edges (the common near-dup case at every scale) are collected
once over Arrow and labeled on the driver by ``_cc_numpy_labels``.
Larger edge sets run alternating large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14), whose round count is O(log² n) whatever the component
diameter. The loop stops only when its edge set is a star forest, so
it cannot return unconverged labels; it raises when ``max_iter`` runs
out. Every round's edge set is localCheckpoint'ed: persist does NOT
truncate lineage, and an untruncated iterative plan doubles per round
until the driver dies building plan strings (measured on an 11-round
path graph).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# connected_components collects the (deduplicated, symmetrized) edge set
# and labels it driver-locally when it has at most this many directed
# rows. The collect rides Arrow (``toArrow`` — a 2.4 M-row probe
# collects in ~0.5 s where row-collect took tens of seconds) and the
# labeling is a VECTORIZED numpy min-label/pointer-jumping pass, so the
# cap sits at 4 M directed rows × 16 B ≈ 64 MB — still the
# bounded-model-collect class (far under spark.driver.maxResultSize),
# but wide enough that a 10× near-dup-clique replica (2.4 M directed
# edges) stays on the driver path. Above the cap the star-contraction
# loop runs (the 100 TB path, where edge sets are billions of rows).
# The near-dup graphs this operator post-processes are SMALL by
# construction — dedup pair discovery emits a fraction of the corpus —
# so the small-graph case is the common one at every scale; the cap is
# what keeps the driver safe when it is not.
_CC_DRIVER_EDGE_CAP = 4 * 1024 * 1024


def _cc_numpy_labels(src, dst):
    """Vectorized driver-local CC over edge arrays of any orderable id
    type (``np.unique`` ranks the ids; the loop runs on their integer
    ranks): min-label relaxation + pointer jumping (Shiloach-Vishkin
    shape) on numpy index arrays — O((E+N) · log n) with no per-edge
    Python. Returns (unique node ids ascending, per-node
    min-reachable-id labels). Labels are monotone non-increasing and
    bounded, so the relax/jump loop reaches the unique fixpoint where
    every edge's endpoints agree; equality with a union-find reference
    and with the distributed loop is property-tested."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    ua, vb = inv[: len(src)], inv[len(src) :]
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        prev = lab
        m = np.minimum(lab[ua], lab[vb])
        lab = lab.copy()
        np.minimum.at(lab, ua, m)
        np.minimum.at(lab, vb, m)
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab, prev):
            break
    return ids, ids[lab]


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Label every node with the smallest node id reachable from it
    (undirected reachability): output ``(node, label)``; nodes in the
    same component share a label, singletons label themselves.

    Deterministic (min over ids — no hash-partitioning dependence), so
    results are oracle-comparable; the DuckDB equivalent is a recursive
    CTE over the symmetrized edge set.

    Labeling runs over the edge-touched nodes only; a node with no
    edges gets its self-label in the single final left join. After a
    near-dup pair discovery the edge-touched set is a small fraction of
    the corpus (most docs are unique).

    SCALE-ADAPTIVE: an edge set of at most ``_CC_DRIVER_EDGE_CAP``
    directed rows is collected once and labeled on the driver
    (``_cc_numpy_labels``) — 2 jobs in total. A larger one runs
    large-star/small-star contraction, one materializing action per
    round, until the edge set is a star forest; if that takes more than
    ``max_iter`` rounds it raises ``RuntimeError`` instead of returning
    labels. Equality of the two paths is pinned in
    tests/test_graph_sampling.py::test_driver_labels_equal_distributed_loop.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # localCheckpoint computes the edge set once for both the probe
    # collect and the star loop's first round, and truncates lineage.
    # On a cluster prefer reliable `checkpoint()` to keep executor-loss
    # recovery.
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().localCheckpoint()
    # Sizing and collecting are ONE job: ``limit(cap+1)`` over the
    # checkpointed blocks returns ≤ cap rows iff the edge set fits (then
    # those rows ARE the whole set), and cap+1 rows iff it does not
    # (discard, take the distributed path). The collect stays bounded at
    # cap+1 rows by construction.
    probe_tbl = e.limit(_CC_DRIVER_EDGE_CAP + 1).toArrow()
    if probe_tbl.num_rows <= _CC_DRIVER_EDGE_CAP:
        import pyarrow as pa

        ids, labs = _cc_numpy_labels(
            probe_tbl.column("a").to_numpy(zero_copy_only=False),
            probe_tbl.column("b").to_numpy(zero_copy_only=False),
        )
        id_type = probe_tbl.schema.field("a").type
        labels = nodes.sparkSession.createDataFrame(
            pa.table({"node": pa.array(ids, id_type), "label": pa.array(labs, id_type)})
        )
    else:
        # Star contraction: both star operations preserve connectivity
        # (Kiveris et al.), so once the edge set is a star forest each
        # star is one component rooted at its smallest id.
        e = e.filter(F.col("a") != F.col("b")).select(F.col("a").alias("u"), F.col("b").alias("v"))
        for _ in range(max_iter):
            # large-star needs both directions of the current edge set
            sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
            # one action per round: the star-forest count materializes
            # the lazily-marked checkpoint (full scan → every partition
            # persists; the next round reuses the blocks)
            e = _star_edges(_star_edges(sym, large=True), large=False).localCheckpoint(eager=False)
            if _star_forest_violations(e) == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components: star contraction did not converge in {max_iter} rounds"
            )
        labels = e.select(F.col("u").alias("node"), F.col("v").alias("label"))
    out = nodes.select(F.col(id_col).alias("node")).join(labels, "node", "left")
    return out.select("node", F.coalesce("label", "node").alias("label"))


def _star_edges(e: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star round (Kiveris et al., SoCC'14).

    ``e`` is a directed edge list (u, v). Per node u with neighbor set
    Γ(u) and m = min(Γ(u) ∪ {u}):
    - large-star rewires every LARGER neighbor to m: (v, m) ∀v>u;
    - small-star rewires every not-larger neighbor AND u itself to m:
      (v, m) ∀v≤u plus (u, m).
    Both emit only non-self edges.
    """
    g = e.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    g = g.withColumn("m", F.least(F.array_min("nbrs"), F.col("u")))
    exploded = g.select(F.col("u"), F.col("m"), F.explode("nbrs").alias("v"))
    if large:
        out = exploded.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        rewired = exploded.filter(F.col("v") <= F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        out = rewired.unionByName(g.select(F.col("u"), F.col("m").alias("v")))
    return out.filter(F.col("u") != F.col("v")).distinct()


def _star_forest_violations(e: DataFrame) -> int:
    """Count the nodes of edge set ``e`` (u, v) that break the star
    forest shape: an edge that does not point at a smaller id, or a
    node with an out-edge that has any other edge (a second out-edge,
    or an in-edge, so its target is not a root). Zero means every
    component is one star whose root is its smallest id."""
    ends = e.select(
        F.col("u").alias("n"),
        F.lit(1).alias("out"),
        (F.col("v") >= F.col("u")).cast("int").alias("up"),
    ).unionByName(e.select(F.col("v").alias("n"), F.lit(0).alias("out"), F.lit(0).alias("up")))
    per_node = ends.groupBy("n").agg(
        F.sum("out").alias("out"), F.count(F.lit(1)).alias("deg"), F.max("up").alias("up")
    )
    return per_node.filter(
        ((F.col("out") >= 1) & (F.col("deg") > 1)) | (F.col("up") == 1)
    ).count()


def cluster_representatives(
    labeled: DataFrame,
    scores: DataFrame,
    node_col: str = "node",
    label_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """Pick the KEEPER of each near-dup cluster by QUALITY, not by id:
    min-id labeling answers "which cluster", this answers "which copy
    survives" — at pretraining scale the kept copy should be the
    best-scored one (longest, cleanest, highest classifier margin),
    not whichever hashed lowest. Ties break on the smaller node id so
    the choice stays deterministic.

    ``labeled`` is (node, label) from connected_components; ``scores``
    is (node, score). One node-keyed LEFT join + one row_number window
    over the label key — cluster populations bound the window sort, and
    the label keys are md5-derived doc ids (no skew). Emits EVERY
    labeled node (a node the scorer skipped keeps a NULL score and
    sorts last — an inner join would silently drop it from both the
    keeper set and the drop list, letting the duplicate survive);
    filter ``is_rep`` for the keeper set, ``~is_rep`` for the drop
    list.
    """
    from pyspark.sql import Window

    joined = labeled.join(scores, node_col, "left")
    w = Window.partitionBy(label_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(node_col).asc()
    )
    return joined.withColumn(
        "is_rep", F.row_number().over(w) == 1
    )
