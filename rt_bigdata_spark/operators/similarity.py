"""Similarity search over embedding columns (array<float>).

Beyond-reference operators (SURVEY.md §7.2 step 9): brute-force cosine
top-k as the exact baseline, and an LSH-bucketed variant (random
hyperplane signs) as the scale path.

Scale design: brute-force is a broadcast of the (small) query set
against a full scan of the corpus — fine for few queries, linear in
corpus size, no shuffle except the final per-query top-k. The
hyperplane-LSH variant buckets the corpus once (map-side signature),
then only scans matching buckets — the standard ANN trade at 100 TB.
Dot products use ``zip_with``/``aggregate`` (JVM-side, codegen); cast
to double first so accumulation is IEEE-double deterministic.

INPUT CONTRACT (r12): every vector operator in this family (and in
clustering.py / quantization.py) assumes WELL-FORMED embeddings —
non-null, the declared dimension, finite components. Malformed rows
don't crash Spark (null sims propagate, wrong dims zip short) but
their cross-engine semantics are undefined, so at ingest run
``embedding_validation_stats`` / ``valid_embeddings`` first — the
gate a 100 TB pipeline puts before its vector stages, registered as
the oracle-backed ``embedding_validation`` audit.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from rt_bigdata_spark.operators.scale import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return dot(ad, bd) / (F.sqrt(dot(ad, ad)) * F.sqrt(dot(bd, bd)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is broadcast (small); per-query ranking is one window
    over the per-query candidate scores. Ties break on corpus id for
    determinism. Similarity is rounded to 9 dp to keep the value stable
    under engine-specific float formatting.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    corpus = ensure_parallelism(corpus)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.withColumn("sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 9))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rk").cast("long").alias("rk"))
    )


def lcg_planes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG, driver-side).

    Seeded so signatures are reproducible across runs/engines — the
    same reason the dedup operators hash with md5, not the JVM hash.
    """
    planes: list[list[float]] = []
    state = seed
    for _ in range(num_planes):
        plane = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % (1 << 31)
            plane.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(plane)
    return planes


def _lit_d(v: float) -> str:
    """SQL literal text for one double. ``repr`` emits the shortest
    round-tripping decimal and Spark's parser reads it back to the
    IDENTICAL IEEE double (pinned bit-for-bit incl. -0.0 / subnormals /
    max-double in tests/test_vector_ops.py), so the inlined model is
    the same one ``F.lit`` would build."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(f"literal vector values must be finite, got {v!r}")
    return repr(f) + "D"


def lit_double_array(values: "list[float]") -> Column:
    """Literal array<double> in ONE parser/py4j call (r15, guide §7.3
    driver-side planning cost): ``F.array(*[F.lit(v) ...])`` pays one
    py4j round-trip per element — ~0.5 ms each, so every 64-dim
    plane/centroid cost ~35 ms to CONSTRUCT and the 16-centroid /
    8-plane model trees made arm construction the dominant wall (the
    ann_recall warm probe measured 3.2 s of pure DataFrame build per
    LSH/IVF arm, 50 s cold, against 0.6 s of execution). One
    ``F.expr("array(…D,…D)")`` builds the same Literal tree JVM-side —
    measured 82× faster to construct, values bit-identical.

    The rule, for the whole engine: a GENERATED expression family —
    literal arrays, per-position aggregates, per-band or per-plane
    lambda bodies — is built as ONE SQL string (doubles written through
    ``_lit_d``), never as one ``F.*`` chain per element. Every ``F.*``
    call is several py4j round trips plus a call-site capture; the
    MinHash signature, LSH banding and embedding-LSH cells in
    ``dedup.py`` follow it too."""
    if not len(values):
        return F.expr("CAST(array() AS array<double>)")
    return F.expr(_sql_double_array(values))


def _sql_double_array(values: "list[float]") -> str:
    return "array(" + ",".join(_lit_d(v) for v in values) + ")"


def _sql_double_matrix(rows: "list[list[float]]") -> str:
    return "array(" + ",".join(_sql_double_array(r) for r in rows) + ")"


def lit_long_array(values: "list[int]") -> Column:
    """Literal array<bigint> in one parser call — the integer sibling
    of ``lit_double_array`` (CMS register rows etc.).

    LONG_MIN (-2**63) is special-cased: ``-9223372036854775808L``
    parses as unary minus applied to an out-of-range POSITIVE bigint
    literal and fails analysis (r15 ADVICE), so it is emitted as an
    explicit CAST instead. Values outside int64 raise here rather
    than failing later in the parser."""
    if not len(values):
        return F.expr("CAST(array() AS array<bigint>)")

    def _lit_l(v: int) -> str:
        v = int(v)
        if not (-(2**63) <= v < 2**63):
            raise ValueError(f"value out of int64 range: {v}")
        if v == -(2**63):
            return "CAST('-9223372036854775808' AS BIGINT)"
        return f"{v}L"

    return F.expr("array(" + ",".join(_lit_l(v) for v in values) + ")")


def lit_double_matrix(rows: "list[list[float]]") -> Column:
    """Literal array<array<double>> (centroid / codebook matrices) in
    one parser call — same rationale and bit-equality as
    ``lit_double_array``."""
    if not len(rows):
        return F.expr("CAST(array() AS array<array<double>>)")
    return F.expr(_sql_double_matrix(rows))


def plane_lit(plane: list[float]) -> Column:
    """One hyperplane as a literal array<double> column — the single
    place the python-float→literal inlining happens, shared by the LSH
    bucketing and the random projection so the determinism discipline
    (and its ``_duck_plane`` oracle mirror) cannot diverge between
    consumers."""
    return lit_double_array(plane)


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of ``vec`` against fixed hyperplanes — pure
    map-side column expression (no shuffle, no Python per row)."""
    acc = F.lit(0).cast("long")
    vd = F.transform(vec, lambda x: x.cast("double"))
    for i, plane in enumerate(planes):
        d = dot(vd, plane_lit(plane))
        acc = acc + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane sign buckets.

    Corpus rows hash to a ``num_planes``-bit bucket (sign of dot with
    each fixed pseudo-random plane); queries probe only their own
    bucket. Recall < 1 by construction; the 100 TB path where
    brute-force is too expensive. Planes derive from a seeded LCG so
    results are deterministic.
    """
    planes = lcg_planes(num_planes, dim, seed)

    def bucket_of(vec: Column) -> Column:
        return hyperplane_bucket(vec, planes)

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")).withColumn(
        "bucket", bucket_of(F.col("cvec"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")).withColumn(
        "bucket", bucket_of(F.col("qvec"))
    )
    scored = c.join(F.broadcast(q), "bucket").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.withColumn("sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 9))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rk").cast("long").alias("rk"))
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction, exploded form:
    ``(vec_id, dim, val)`` — each output component is the dot of the
    input vector with a fixed seeded-LCG plane (the same deterministic
    plane family the hyperplane-LSH bucketing uses, here keeping the
    full projection value instead of just its sign). The embedding
    compression step before storing/sharding a 100 TB vector corpus:
    distances are approximately preserved at out_dim ≈ O(log n / ε²),
    and the projection is a pure map-side expression — the plane
    matrix is out_dim × dim literals, no shuffle, no model object.

    Exploded (id, dim, val) output rather than an array column so the
    result is directly comparable across engines and joins/aggregates
    without array support.
    """
    planes = lcg_planes(out_dim, dim, seed)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("dim"),
                F.round(dot(vd, plane_lit(plane)), 9).alias("val"),
            )
            for j, plane in enumerate(planes)
        ]
    )
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.dim").alias("dim"), F.col("p.val").alias("val"))
    )


def _ivf_centroids(corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int) -> list[list[float]]:
    """Deterministic centroid seeding: the first ``n_centroids`` corpus
    vectors by id, L2-normalized. A production build would run k-means
    (``pyspark.ml.clustering.KMeans`` slots in here unchanged) but the
    scale-relevant mechanics — cell assignment, cell-pruned scan — are
    identical either way."""
    cent_rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    norm = lambda c: [x / (sum(y * y for y in c) ** 0.5) for x in c]
    return [norm([float(x) for x in r[vec_col]]) for r in cent_rows]


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[float]]:
    """K-means centroid training for the IVF index via ``pyspark.ml``
    (distributed Lloyd's iterations, k-means|| init — the real index
    build for skewed corpora, where the first-n seeding of
    ``_ivf_centroids`` would put all centroids inside one dense
    region). Returns plain L2-normalized python lists, drop-in for the
    ``centroids`` argument of ``ivf_topk``/``build_ivf_index``.

    Kept out of the oracle-checked query path: k-means results depend
    on partition layout, so the registry queries stay on the
    deterministic seeded centroids; cell-pruning mechanics are
    identical either way.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)

    def norm(c: list[float]) -> list[float]:
        s = sum(x * x for x in c) ** 0.5 or 1.0
        return [x / s for x in c]

    return [norm([float(x) for x in center]) for center in model.clusterCenters()]


def _cell_sims(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of dot(vec, centroid_i) — centroids are
    pre-normalized, and both consumers (nearest-cell argmax, probe-cell
    ranking) only ever compare entries for the SAME input row, so the
    row's own norm is a positive constant factor that cannot change the
    ordering. Skipping the division halves the array passes per row
    (higher-order array exprs are interpreted — no codegen CSE — so an
    inlined ``/ nrm`` would re-run the norm dot once per centroid)."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    return F.array(*[dot(vd, lit_double_array(c)) for c in centroids])


def _assign_cells(corpus: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str) -> DataFrame:
    """(neighbor_id, cvec, cell): nearest-centroid assignment, one
    map-side pass (no shuffle, no per-row Python).

    ``cell`` is wrapped non-NULLABLE (coalesce with -1 — a no-op for
    any real vector, since array_position of the array's own max always
    hits): downstream equi-joins on ``cell`` otherwise make
    InferFiltersFromConstraints add ``isnotnull(cell)``, and predicate
    pushdown re-inlines the ENTIRE k×dim assignment expression into a
    pre-exchange Filter — doubling the per-row assignment cost on every
    join side (the r12 semdedup plan audit measured 5 full assignment
    evaluations per row). A non-nullable key infers no filter."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    return (
        c.withColumn("_sims", _cell_sims(F.col("cvec"), centroids))
        .withColumn(
            "cell",
            F.coalesce(
                F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))), F.lit(-1).cast("long")
            ),
        )
        .drop("_sims")
    )


def _probe_queries(queries: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str, n_probe: int) -> DataFrame:
    """(query_id, qvec, cell) exploded to the ``n_probe`` nearest cells."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    idx = F.sequence(F.lit(1), F.lit(len(centroids)))
    q = q.withColumn("_sims", _cell_sims(F.col("qvec"), centroids))
    zipped = F.transform(
        idx, lambda i: F.struct(F.element_at(F.col("_sims"), i).alias("s"), i.cast("long").alias("c"))
    )
    # array_sort on struct sorts ascending by (s, c); reverse → best-first.
    probe = F.slice(F.reverse(F.array_sort(zipped)), 1, n_probe)
    return q.withColumn("cell", F.explode(F.transform(probe, lambda st: st.getField("c")))).drop("_sims")


def _topk_scored(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    scored = c.join(F.broadcast(q), "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.withColumn("sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 9))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rk").cast("long").alias("rk"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into ``n_centroids``
    Voronoi cells, probe only the ``n_probe`` nearest cells per query.
    Pass ``centroids`` (e.g. from ``train_ivf_centroids``) to override
    the deterministic first-n seeding.

    The centroid "model" is tiny (n_centroids × dim doubles), collected
    to the driver exactly like an MLlib model and inlined as literal
    arrays, so cell assignment is one map-side pass over the corpus: no
    shuffle, no per-row Python. This in-line variant re-assigns cells on
    every run; at 100 TB build the index once with ``build_ivf_index``
    and probe with ``ivf_topk_indexed`` — the probed scan then
    partition-prunes to ~n_probe/n_centroids of the files.
    """
    centroids = centroids or _ivf_centroids(corpus, id_col, vec_col, n_centroids)
    c = _assign_cells(ensure_parallelism(corpus), centroids, id_col, vec_col)
    q = _probe_queries(queries, centroids, id_col, vec_col, n_probe)
    return _topk_scored(c, q, k)


def load_ivf_centroids(path: str) -> list[list[float]]:
    """Load committed offline-trained IVF centroids from a JSON model
    artifact ``{"n_centroids": K, "dim": D, "centroids": [[...], ...]}``
    (written by ``scripts/train_ivf_model.py`` — pyspark.ml k-means on
    the public sf0.001 embeddings; the ``load_classifier_weights``
    pattern applied to vectors, r13 verdict item 1). The rounded values
    in the file ARE the model: both ``ivf_topk`` and the DuckDB oracle
    consume them verbatim, so correctness never depends on re-training
    reproducibility. Validates shape and finiteness plus near-unit L2
    norms (the centroids are stored normalized; a corrupted export
    fails here, not mid-job)."""
    import json as _json
    import math as _math

    with open(path, encoding="utf-8") as fh:
        model = _json.load(fh)
    cents = [[float(x) for x in c] for c in model["centroids"]]
    if len(cents) != model["n_centroids"]:
        raise ValueError(f"{len(cents)} centroids != n_centroids {model['n_centroids']}")
    for c in cents:
        if len(c) != model["dim"]:
            raise ValueError(f"centroid dim {len(c)} != dim {model['dim']}")
        nrm = _math.sqrt(sum(x * x for x in c))
        if not _math.isfinite(nrm) or abs(nrm - 1.0) > 1e-6:
            raise ValueError(f"centroid not unit-normalized (|c|={nrm})")
    return cents


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
) -> None:
    """Materialize the IVF index: corpus written ``partitionBy("cell")``
    so probes become directory-pruned scans, centroids stored under
    ``<path>/_centroids`` (underscore prefix — invisible to the main
    parquet read, the same convention as ``_metadata``).

    This is the write-once index build that amortizes cell assignment
    across every future query batch; at 100 TB the build is one
    map-side pass + a partitioned write, and each probe reads only
    ~n_probe/n_centroids of the files (asserted via PartitionFilters in
    tests/test_dedup_similarity.py).
    """
    spark = corpus.sparkSession
    centroids = centroids or _ivf_centroids(corpus, id_col, vec_col, n_centroids)
    assigned = _assign_cells(ensure_parallelism(corpus), centroids, id_col, vec_col)
    # ONE file per cell directory (r15, guide §6): partitionBy from an
    # n-partition frame writes up to n × n_centroids tiny files — the
    # measured sf0.1 index was 512 files, and every probe paid ~128
    # file opens / ~250 scheduled tasks to read 4 cells (248-task warm
    # probes, executorRunTime ≈ 10× CPU time — pure open/commit
    # overhead). Hashing on the cell key first gives exactly one file
    # per populated cell (a cell's rows all land in one partition).
    # The explicit numPartitions keeps this exempt from AQE coalescing.
    # At warehouse scale, where one file per cell would be too large,
    # add a deterministic salt column (pmod(xxhash64(id), files_per_
    # cell)) to the repartition — same layout story, bounded file size.
    assigned = assigned.repartition(len(centroids), F.col("cell"))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    cent_df = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(centroids)], "cell: long, centroid: array<double>"
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")


# Per-process cache of the tiny centroid MODEL of a materialized index,
# keyed by (path, mtime of the _centroids dir): the index itself is
# already amortized write-once storage, and its n_centroids × dim model
# is index METADATA, not query results — re-collecting it per probe cost
# 2 Spark jobs per call (r15 measurement: warm probes were pure
# job-scheduling overhead, 13 jobs / 0.4 s CPU). The mtime key serves
# fresh centroids if an index is rebuilt at the same path in-process.
_CENTROID_CACHE: dict[tuple[str, float], list[list[float]]] = {}


def _index_centroids(spark, index_path: str) -> list[list[float]]:
    import os as _os

    key = (index_path, _os.path.getmtime(f"{index_path}/_centroids"))
    cents = _CENTROID_CACHE.get(key)
    if cents is None:
        rows = spark.read.parquet(f"{index_path}/_centroids").orderBy("cell").collect()
        cents = [list(r["centroid"]) for r in rows]
        _CENTROID_CACHE[key] = cents
    return cents


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    keep: DataFrame | None = None,
) -> DataFrame:
    """Probe a materialized IVF index (``build_ivf_index`` output).

    The union of the query batch's probed cells is collected (tiny:
    ≤ queries × n_probe longs) and pushed as a partition filter on the
    index scan — Spark prunes non-probed cell directories at planning
    time, so the scan cost is ~n_probe/n_centroids of the corpus
    regardless of corpus size. Scoring then joins cell-local candidates
    against the broadcast query set, identical to ``ivf_topk``.

    ``keep`` (optional) is a one-column DataFrame of allowed candidate
    ids — the metadata-filtered ANN composition at index scale: the
    relational filter lands as a semi-join against the already
    partition-pruned cell scan, BEFORE any similarity math, so the
    vector kernel runs only on rows that are both in a probed cell and
    filter-eligible. Filtering after scoring would waste
    (1 − selectivity) of the cosine work and return fewer than k
    survivors per query.
    """
    centroids = _index_centroids(spark, index_path)
    # Evaluate the probe subplan ONCE: the probed (query, cell) set is
    # tiny (≤ queries × n_probe), so collect it and rebuild a local
    # DataFrame for the scoring join. Re-executing the probe plan inside
    # the join would both duplicate the probe computation and — for a
    # non-deterministic queries input — risk probing different cells at
    # collect time vs join time, silently dropping candidates.
    q = _probe_queries(queries, centroids, id_col, vec_col, n_probe)
    q_rows = q.collect()
    probed = sorted({r["cell"] for r in q_rows})
    q_local = spark.createDataFrame(q_rows, q.schema)
    c = spark.read.parquet(index_path).filter(F.col("cell").isin(probed))
    if keep is not None:
        kc = keep.columns[0]
        # No .distinct() on the keep side (r15): a LEFT SEMI join emits
        # each probe row at most once regardless of build-side
        # multiplicity, so the distinct only added an exchange + agg
        # (one extra Spark job) for identical output.
        c = c.join(keep.select(F.col(kc).alias("neighbor_id")), "neighbor_id", "semi")
    return _topk_scored(c, q_local, k)


def contrastive_samples(
    corpus: DataFrame,
    queries: DataFrame,
    k_pos: int = 4,
    k_hard: int = 8,
    k_rand: int = 8,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mine contrastive training samples per query vector: top-k_pos
    POSITIVES, the next k_hard by similarity as HARD negatives (the
    near-but-not-top band in-batch sampling misses — standard hard
    negative mining for retrieval/embedding training), and up to
    k_rand RANDOM negatives drawn in md5(seed:query:id) order from
    outside the similarity band (deterministic, engine-portable — the
    same reason every sampler here hashes instead of rand()).

    One scored corpus×queries pass (queries broadcast, same shape as
    brute_force_topk) with TWO row_number windows over the SAME
    query-id partitioning — one exchange, two sorts (similarity and
    hash order). Random negatives can undershoot k_rand when md5-early
    rows fall inside the similarity band (they are excluded rather
    than resampled, keeping the draw one-pass; documented contract).
    At large corpus sizes restrict the candidate pool first (IVF
    cells via ``ivf_topk_indexed``'s index, or a hash_split slice) —
    negatives don't need the full corpus.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 9))
    )
    w_sim = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    rnd_key = F.md5(
        F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.col("query_id").cast("string"),
            F.col("neighbor_id").cast("string"),
        )
    )
    w_rnd = Window.partitionBy("query_id").orderBy(rnd_key, F.col("neighbor_id"))
    band = k_pos + k_hard
    role = (
        F.when(F.col("rk") <= k_pos, F.lit("positive"))
        .when(F.col("rk") <= band, F.lit("hard_negative"))
        .when(F.col("rrk") <= k_rand, F.lit("random_negative"))
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_sim))
        .withColumn("rrk", F.row_number().over(w_rnd))
        .withColumn("role", role)
        .filter(F.col("role").isNotNull())
        .select("query_id", "neighbor_id", "sim", "role")
    )


def ivf_nprobe_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    probes: "list[int] | tuple[int, ...]",
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """n_probe ↔ candidate-recall curve from ONE pass — the index-layer
    twin of ``dedup.minhash_threshold_sweep``. "How many cells must a
    probe touch to reach recall X" is THE IVF tuning question (n_probe
    is the knob that trades per-query scan fraction against recall at
    100 TB), and the naive answer re-runs the search once per
    candidate value.

    One pass instead: (1) the exact top-k per query (the recall
    denominator — one brute-force scan, the audit's honest cost, same
    as ann_recall); (2) each true neighbor's cell assignment (map-side
    broadcast-centroid argmax — the same write-time rule as
    ``build_ivf_index``); (3) each query's FULL best-first cell order
    (same probe tie-rules as ``ivf_topk``: score desc, cell desc). A
    true neighbor is reachable at ``n_probe = p`` iff its cell's rank
    in the query's order is ≤ p — so the whole curve falls out of one
    grid explode over k·|Q| pair rows, no per-p searches. Recall here
    is CANDIDATE-GENERATION recall (the neighbor's cell is probed);
    it upper-bounds end-to-end recall@k and is the quantity n_probe
    actually controls.

    Output: (n_probe, n_true, n_reachable, recall) — recall is one
    unrounded double division of exact counts (bit-identical
    cross-engine)."""
    cents = centroids if centroids is not None else _ivf_centroids(corpus, id_col, vec_col, n_centroids)
    exact = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col).select(
        "query_id", "neighbor_id"
    )
    ncell = _assign_cells(corpus, cents, id_col, vec_col).select("neighbor_id", "cell")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    idx = F.sequence(F.lit(1), F.lit(len(cents)))
    q = q.withColumn("_sims", _cell_sims(F.col("qvec"), cents))
    zipped = F.transform(
        idx, lambda i: F.struct(F.element_at(F.col("_sims"), i).alias("s"), i.cast("long").alias("c"))
    )
    order = F.transform(F.reverse(F.array_sort(zipped)), lambda st: st.getField("c"))
    qorder = q.select("query_id", order.alias("cell_order"))
    pairs = (
        exact.join(ncell, "neighbor_id")
        .join(F.broadcast(qorder), "query_id")
        .select(
            F.array_position(F.col("cell_order"), F.col("cell")).alias("cell_rank")
        )
    )
    ps = sorted({int(p) for p in probes})
    probes_lit = F.array(*[F.lit(p).cast("long") for p in ps])
    expanded = pairs.select(
        F.explode(probes_lit).alias("n_probe"), "cell_rank"
    ).select("n_probe", (F.col("cell_rank") <= F.col("n_probe")).cast("long").alias("reach"))
    return (
        expanded.groupBy("n_probe")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum("reach").alias("n_reachable"),
        )
        .select(
            F.col("n_probe").cast("long").alias("n_probe"),
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_reachable").cast("long").alias("n_reachable"),
            # unrounded on purpose: exact-integer counts, one shared
            # IEEE division — same bits on every engine
            (F.col("n_reachable").cast("double") / F.col("n_true").cast("double")).alias("recall"),
        )
    )


def embedding_validation_stats(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """ONE-row ingest audit of the vector input contract: total rows,
    rows passing (non-null, exactly ``dim`` components, all finite),
    and the three failure counts. Pure map-side classification + one
    global aggregate — run it (or ``valid_embeddings``) before any
    vector operator; the operators themselves assume validated input
    (module docstring).

    Finiteness is spelled ``x = x AND abs(x) <= DBL_MAX`` — NaN fails
    the self-compare and ±Inf the magnitude bound — because neither
    engine has a portable isfinite over array elements; the identical
    ANSI spelling is what makes the audit hash-oracleable. A NULL
    *element* makes ``forall`` return NULL (three-valued logic), which
    would drop the row out of every bucket — coalesce(False) routes it
    to n_nonfinite, the bucket for "vector exists, right dim, bad
    components".
    """
    v = F.col(vec_col)
    finite = F.coalesce(
        F.forall(v, lambda x: (x == x) & (F.abs(x) <= F.lit(1.7976931348623157e308))),
        F.lit(False),
    )
    is_null = v.isNull()
    wrong_dim = ~is_null & (F.size(v) != dim)
    nonfinite = ~is_null & (F.size(v) == dim) & ~finite
    valid = ~is_null & (F.size(v) == dim) & finite
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(valid.cast("long")).cast("long").alias("n_valid"),
        F.sum(is_null.cast("long")).cast("long").alias("n_null"),
        F.sum(wrong_dim.cast("long")).cast("long").alias("n_wrong_dim"),
        F.sum(nonfinite.cast("long")).cast("long").alias("n_nonfinite"),
    )


def valid_embeddings(df: DataFrame, dim: int, vec_col: str = "embedding") -> DataFrame:
    """The enforcement half of the ingest gate: rows whose vector
    satisfies the contract (non-null, ``dim`` components, finite).
    The predicate matches embedding_validation_stats' ``n_valid``
    classification exactly — gate with this, audit with that. The
    coalesce(False) matters: a NULL element turns ``forall`` NULL and a
    NULL filter predicate silently drops the row WITHOUT it being
    counted anywhere by an un-coalesced audit (the advice-r12 bug)."""
    v = F.col(vec_col)
    finite = F.coalesce(
        F.forall(v, lambda x: (x == x) & (F.abs(x) <= F.lit(1.7976931348623157e308))),
        F.lit(False),
    )
    return df.filter(v.isNotNull() & (F.size(v) == dim) & finite)
