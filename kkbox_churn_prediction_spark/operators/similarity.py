"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline; sign-LSH
bucketing as the scale path (shrinks the candidate set from N to a
bucket). All dot products are built-in higher-order functions
(``zip_with`` + ``aggregate``) — JVM-side, no Python. A vectorized
pandas-UDF variant exists for very wide vectors where Arrow batching
beats codegen'd loops (``cosine_topk_pandas``).

Scale: brute force is O(Q·N) — fine when Q is small and broadcast;
LSH buckets are O(Q·N/2^bits) expected. At 100 TB the embedding side
stays partitioned; only queries broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ in index order, double accumulation (deterministic,
    matches a sequential SQL oracle)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: str, b: str) -> Column:
    # try_divide: a zero vector has no direction -> cosine NULL, the
    # same answer DuckDB's NULL-on-zero-divide oracles give (ANSI
    # division would ERROR; caught by the r5 fuzz net's zero vectors)
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def unit_vector_expr(vec_col: str) -> Column:
    """vec / ‖vec‖ with the norm evaluated ONCE per row.

    Naively writing ``transform(v, x -> x / norm(v))`` re-evaluates
    the whole norm subtree per element (interpreted HOF semantics —
    same trap as ``functions.text.word_shingles``); binding the norm
    as a lambda variable via a 1-element outer ``transform`` makes it
    a per-row constant. Pre-normalizing turns every pairwise cosine
    into a bare dot product — the win scales with how many pairs each
    vector participates in."""
    return F.element_at(
        F.transform(
            F.array(norm_expr(vec_col)),
            lambda nrm: F.transform(
                F.col(vec_col),
                lambda x: F.try_divide(x.cast("double"), nrm)
            ),
        ),
        1,
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query (cosine, broadcast queries,
    self-match excluded). Rounded cosine + id tiebreak keep ranking
    deterministic across engines and partitionings."""
    # norms are hoisted to per-ROW columns before the pair join:
    # cosine_expr inline would re-run both norm aggregates for every
    # PAIR (interpreted HOF, 3× the dot's work — measured ~60s for a
    # 2k×2k all-pairs kNN at sf0.1, ~20s hoisted). The float ops are
    # IDENTICAL (same sqrt per row, same dot/(na·nb) division per
    # pair), so rounded cosines — and every oracle — are unchanged.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        norm_expr(vec_col).alias("_nn"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    dot_expr("_qv", "_nv"), F.col("_qn") * F.col("_nn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sign_bucket(vec_col: str, bits: int) -> Column:
    """Deterministic sign-LSH bucket: bit b = (vec[b] > 0). Cheap IVF
    stand-in that both engines express identically; the seeded
    random-hyperplane variant is ``hyperplane_bucket`` (no oracle —
    planes live driver-side)."""
    b = F.lit(0).cast("bigint")
    for i in range(bits):
        b = b + F.when(
            F.element_at(F.col(vec_col), i + 1) > 0, F.lit(1 << i).cast("bigint")
        ).otherwise(F.lit(0))
    return b


def lsh_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN: candidates restricted to the query's sign-LSH bucket —
    the equi-join on bucket replaces the cross join (recall < 1 by
    design; recall measured in tests vs brute force)."""
    # per-row norm hoist — see brute_force_topk (bit-identical floats)
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        norm_expr(vec_col).alias("_nn"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    scored = (
        v.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    dot_expr("_qv", "_nv"), F.col("_qn") * F.col("_nn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_group_col: str = "label",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantizer + probed cells.

    Cells are seeded deterministically — the minimum-id vector of each
    ``seed_group_col`` group acts as the cell centroid (a medoid
    stand-in for k-means, chosen so the Spark plan and the SQL oracle
    assign IDENTICAL cells with no float-sum order sensitivity; in
    production the seeds come from an offline k-means and everything
    downstream is unchanged). Every vector is assigned to its nearest
    seed (rounded cosine, seed-id tiebreak); each query probes its
    ``nprobe`` nearest cells and ranks only those cells' members —
    the classic IVF recall/cost dial.

    Scale: seeds are tiny (k cells) → both assignment joins broadcast
    the seed list; the vector side never shuffles for assignment.
    ``broadcast_queries=True`` (default) additionally broadcasts the
    PROBED-QUERY side of the candidate join — right when the query set
    is small (the common lookup shape), wrong for a large query batch
    (driver/executor OOM): pass ``False`` there and the candidate join
    shuffles both sides on ``cell`` — bounded by cell sizes, and a hot
    cell means the quantizer is too coarse (raise k), exactly the IVF
    tuning story.
    """
    seeds = (
        vectors.groupBy(seed_group_col)
        .agg(F.min(id_col).alias(id_col))
        .join(vectors.select(id_col, vec_col), id_col)
        .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("_cv"))
    )

    def assign(df: DataFrame, out_id: str, probes: int) -> DataFrame:
        scored = (
            df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("_v"))
            .crossJoin(F.broadcast(seeds))
            .select(
                out_id,
                "_v",
                "cell",
                F.round(cosine_expr("_v", "_cv"), 6).alias("_c"),
            )
        )
        w = Window.partitionBy(out_id).orderBy(
            F.col("_c").desc(), F.col("cell").asc()
        )
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= probes)
            .select(out_id, F.col("_v"), "cell")
        )

    members = assign(vectors, "neighbor_id", 1).withColumnRenamed("_v", "_nv")
    probed = assign(queries, "query_id", nprobe).withColumnRenamed("_v", "_qv")
    probed_side = F.broadcast(probed) if broadcast_queries else probed
    scored = (
        members.join(probed_side, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("_qv", "_nv"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_bucket(df: DataFrame, planes, vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH with driver-seeded planes (numpy array
    [bits, dim]) — the production variant; planes ship as literals in
    the plan (no closure capture per task)."""
    b = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        dot = None
        for j, w in enumerate(plane):
            term = F.element_at(F.col(vec_col), j + 1).cast("double") * F.lit(float(w))
            dot = term if dot is None else dot + term
        b = b + F.when(dot > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0))
    return df.withColumn("bucket", b)


def cosine_topk_pandas(
    vectors: DataFrame,
    queries_pd,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Arrow-vectorized brute force: queries as a small numpy matrix
    broadcast into a mapInPandas; each batch computes a [batch, Q]
    cosine matrix with BLAS. Faster than codegen'd per-element loops
    for wide vectors / many queries."""
    import numpy as np
    import pandas as pd

    qids = queries_pd[id_col].to_numpy()
    qm = np.stack(queries_pd[vec_col].to_numpy()).astype("float64")
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast((qids, qn))

    def score(batches):
        ids_b, qn_b = bc.value
        for pdf in batches:
            vm = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            vn = vm / np.linalg.norm(vm, axis=1, keepdims=True)
            cos = vn @ qn_b.T  # [batch, Q]
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(ids_b, len(pdf)),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(ids_b)),
                    "cosine": np.round(cos.T.ravel(), 6),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = vectors.mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cluster_centroids(
    df: DataFrame,
    cluster_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean embedding per cluster, exploded to (cluster, dim,
    centroid, n_members) scalar rows — representative-vector
    selection for dedup clusters / IVF refresh / diversity audits.

    Plan: ``pyspark.ml.stat.Summarizer`` aggregates whole vectors
    JVM-side in ONE partial+final pass keyed by cluster — the corpus
    never explodes to (row × dim) tuples (the naive posexplode shape
    multiplies the shuffle by the dimensionality; at 64-d that is a
    64× stream for the identical answer). Only the tiny per-cluster
    result (clusters × dims) explodes for the scalar output.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    v = df.select(
        F.col(cluster_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_v"),
    )
    agg = v.groupBy(cluster_col).agg(
        Summarizer.mean(F.col("_v")).alias("_m"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.select(
        cluster_col,
        "n_members",
        F.posexplode(vector_to_array(F.col("_m"))).alias("dim", "_c"),
    ).select(
        cluster_col,
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("_c"), 6).alias("centroid"),
        "n_members",
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector int8 scalar quantization:
    (id, scale, offset, qvec array<int>) with
    x ≈ offset + q·scale, q ∈ [0, 255].

    A float32 embedding store at corpus scale is often the single
    largest table; 4×-compressing it with per-vector min/max scaling
    costs <1% cosine error at 64-d and keeps retrieval math integer.
    Pure column expressions (array min/max once per row, one
    transform); constant vectors quantize to q=0 with scale 0 and
    dequantize exactly to the offset.
    """
    v = F.col(vec_col).cast("array<double>")
    lo = F.array_min(v)
    hi = F.array_max(v)
    scale = (hi - lo) / F.lit(255.0)
    q = F.when(
        hi > lo,
        F.transform(v, lambda x: F.round((x - lo) / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        id_col,
        F.round(scale, 9).alias("scale"),
        F.round(lo, 9).alias("offset"),
        q.alias("qvec"),
    )


def dequantize_expr(qvec: Column, scale: Column, offset: Column) -> Column:
    """array<double> reconstruction: offset + q·scale."""
    return F.transform(qvec, lambda q: offset + q.cast("double") * scale)


def assign_cells(
    vectors: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment against a driver-side centroid list
    (k×dim — tiny by construction): squared-euclidean distance per
    centroid as a ``zip_with``+``aggregate`` fold, argmin via
    ``array_min`` over (dist, cell) structs so ties break to the
    lower cell id. Pure column expressions — the vector side never
    shuffles, k·dim multiply-adds per row inside codegen."""
    v = F.col(vec_col).cast("array<double>")
    structs = []
    for j, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(v, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d.alias("d"), F.lit(j).alias("j")))
    best = F.array_min(F.array(*structs))
    return vectors.select(
        id_col,
        F.col(vec_col),
        best["j"].cast("int").alias("cell"),
        best["d"].alias("sq_dist"),
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Distributed Lloyd's k-means — the trainer for the IVF coarse
    quantizer (:func:`ivf_topk` consumes exactly these seeds at scale).

    Init is deterministic with no RNG: the minimum-id vector of each
    ``id pmod k`` residue class (spread across the id space,
    reproducible across runs/partitionings). Each iteration is ONE
    distributed pass: broadcast-literal centroid assignment
    (:func:`assign_cells`, no shuffle) → per-cell mean via the ML
    ``Summarizer`` one-pass vector aggregate (k·dim result). Only the
    k centroid rows ever reach the driver — tiny by construction, the
    same license as the heavy-hitter and PSI-edge collects. Empty
    cells keep their previous centroid (no respawn heuristic — k is a
    quality dial, not a guarantee).

    Iterative fixpoints are not SQL-expressible — correctness is
    gated by a lock-step numpy Lloyd reference in tests (exact
    assignment equality on separated data) rather than a DuckDB
    oracle; the driver records the weaker rows-only check.

    Returns ``(assignments DataFrame, centroids list)``.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    seeds = (
        vectors.select(F.col(id_col), F.col(vec_col))
        .withColumn("_cls", F.pmod(F.col(id_col), F.lit(int(k))))
        .groupBy("_cls")
        .agg(F.min(id_col).alias(id_col))
        .join(vectors.select(id_col, vec_col), id_col)
        .orderBy("_cls")
    )
    cents = [list(r[vec_col]) for r in seeds.collect()]
    if len(cents) < k:
        raise ValueError(f"only {len(cents)} of {k} residue classes populated")

    for _ in range(int(iters)):
        assigned = assign_cells(vectors, cents, vec_col, id_col)
        means = (
            assigned.select(
                "cell",
                array_to_vector(F.col(vec_col).cast("array<double>")).alias("_v"),
            )
            .groupBy("cell")
            .agg(Summarizer.mean(F.col("_v")).alias("_m"))
            .select("cell", vector_to_array("_m").alias("_m"))
        )
        updated = {r["cell"]: list(r["_m"]) for r in means.collect()}
        cents = [updated.get(j, cents[j]) for j in range(k)]

    return assign_cells(vectors, cents, vec_col, id_col), cents


def centroid_distance_outliers(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Embedding-quality screen: euclidean distance of every vector to
    the corpus centroid, z-scored against the distance distribution →
    ``(vec_id, dist, z, is_outlier)`` for every vector.

    Far-from-centroid vectors are the classic embedding-space junk
    signal (mis-encoded docs, wrong-language strays, collapsed/zero
    vectors sit at the OTHER extreme — both tails show up as |z|
    large). The curation companion to the near-dup family: near-dups
    remove redundancy, this removes eccentricity.

    Distributed shape: centroid = ONE aggregation pass of ``dim``
    per-position ``avg`` columns (map-side partials, no explode — the
    posexplode alternative multiplies the stream by ``dim``); it
    returns a 1-row array that rides a broadcast cross join. Distance
    uses the expanded identity ‖x‖² − 2·x·c + ‖c‖² (clamped at 0
    against float cancellation) so the DuckDB oracle can reproduce it
    term-for-term with ``list_dot_product``. The z-scoring pass is a
    second 1-row broadcast (mean/stddev_pop of dist). Total: two
    full-data passes + two tiny broadcasts, zero shuffles of the
    vector table itself. At 100 TB the centroid pass can run on a
    sample (the mean is robust to sampling); the scoring pass is
    embarrassingly parallel either way.

    ``stddev_pop = 0`` (all vectors equidistant, e.g. one vector or
    perfect symmetry) degrades to z = 0.0 / no outliers rather than
    NULLs.
    """
    v = F.col(vec_col).cast("array<double>")
    cent_row = vectors.agg(
        F.array(*[F.avg(v[i]) for i in range(int(dim))]).alias("_cent")
    )
    c = F.col("_cent")
    sq = (
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        - 2.0 * F.aggregate(
            F.zip_with(v, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = (
        vectors.crossJoin(F.broadcast(cent_row))
        .select(
            F.col(id_col),
            F.sqrt(F.greatest(sq, F.lit(0.0))).alias("dist"),
        )
    )
    stats = scored.agg(
        F.avg("dist").alias("_mu"), F.stddev_pop("dist").alias("_sd")
    )
    z = F.when(
        F.col("_sd") > 0, (F.col("dist") - F.col("_mu")) / F.col("_sd")
    ).otherwise(F.lit(0.0))
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.round("dist", 6).alias("dist"),
            F.round(z, 6).alias("z"),
            (z > F.lit(float(z_threshold))).alias("is_outlier"),
        )
    )


def embedding_covariance(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Sample covariance matrix of an embedding column, long form →
    ``(dim_i, dim_j, cov)`` for the upper triangle ``dim_i ≤ dim_j``
    — the sufficient statistic for PCA (:func:`pca_project`),
    whitening, and Mahalanobis outlier screens over the corpus's
    embedding space.

    Plan: per-partition sufficient statistics ``(n, Σx, upper(Σxxᵀ))``
    via ONE Arrow-batched ``mapInPandas`` pass — the Gram update is a
    BLAS ``XᵀX`` per batch, so the stream is scanned once and nothing
    row×d² ever materializes (tried: 2 080 separate ``covar_samp``
    buffers run interpreted and were ~50× slower; the posexplode
    self-join is a d²× stream blowup). Only the tiny partials — one
    ~33 KB row per partition — reach the driver for the final
    combine, the same tiny-result-only-collect discipline as
    ``kmeans_fit``; with 10⁵ partitions that is still ~3 GB → add a
    coalesce-level tree step before collecting if you run wider.
    ``cov = (Σxy − n·x̄·ȳ)/(n−1)`` in float64 on corpus-scale sums is
    ≪ the 1e-6 rounding the cross-engine gate compares at.
    """
    import numpy as np

    first = df.select(F.size(vec_col).alias("_d")).first()
    if first is None:  # empty input → empty result (oracle: no rows)
        return df.sparkSession.createDataFrame(
            [], "dim_i int, dim_j int, cov double"
        )
    d = int(first["_d"])

    def gram(batches):
        import numpy as _np
        import pandas as _pd

        n = 0
        s = _np.zeros(d)
        g = _np.zeros((d, d))
        for pdf in batches:
            if not len(pdf):
                continue
            x = _np.asarray([_np.asarray(v, dtype=_np.float64) for v in pdf["_x"]])
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        iu = _np.triu_indices(d)
        yield _pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g[iu].tolist()]})

    parts = df.select(F.col(vec_col).cast("array<double>").alias("_x")).mapInPandas(
        gram, "n long, s array<double>, g array<double>"
    )
    rows = parts.collect()
    n = sum(r["n"] for r in rows)
    s = np.sum([r["s"] for r in rows], axis=0)
    gu = np.sum([r["g"] for r in rows], axis=0)
    g = np.zeros((d, d))
    g[np.triu_indices(d)] = gu
    mean = s / n
    out = []
    for i in range(d):
        for j in range(i, d):
            # n == 1 → sample covariance undefined → NULL (covar_samp)
            c = (
                round(float((g[i, j] - n * mean[i] * mean[j]) / (n - 1)), 6)
                if n > 1
                else None
            )
            out.append((i, j, c))
    return df.sparkSession.createDataFrame(out, "dim_i int, dim_j int, cov double")


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    k: int = 2,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components →
    ``(id, pc, value)`` — dimensionality reduction for visualization
    / cheap downstream models, on top of the one-pass covariance.

    Eigendecomposition runs driver-side on the tiny d×d covariance
    (numpy ``eigh`` — d=64 is microseconds; the DATA never moves);
    each component's sign is fixed deterministically (largest-|loading|
    coordinate made positive) since eigenvectors are sign-ambiguous.
    The projection back over the corpus is a broadcast-literal
    dot-product per component — pure JVM column arithmetic via
    ``F.aggregate`` over the zipped arrays, no UDF, no shuffle.
    """
    import numpy as np

    cov_long = embedding_covariance(df, vec_col).collect()
    d = max(r.dim_j for r in cov_long) + 1
    cov = np.zeros((d, d))
    for r in cov_long:
        cov[r.dim_i, r.dim_j] = cov[r.dim_j, r.dim_i] = r.cov
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for c in range(k):
        v = vecs[:, order[c]]
        if v[int(np.argmax(np.abs(v)))] < 0:  # deterministic sign
            v = -v
        comps.append(v)

    out = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_x"))
    proj = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("_x"),
                    F.array(*[F.lit(float(w)) for w in comps[c]]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            6,
        ).alias(f"pc{c}")
        for c in range(k)
    ]
    wide = out.select(id_col, *proj)
    return wide.unpivot([id_col], [f"pc{c}" for c in range(k)], "pc", "value")


def _jl_signs(d_in: int, d_out: int, seed: str) -> list[list[float]]:
    """Deterministic ±1 projection matrix from md5 — the same stable
    hash family as ``functions.text.stable_hash48``, so any engine can
    re-derive the matrix from (seed, i, j) alone."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:12], 16) % 2 == 0
            else -1.0
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    d_in: int = 64,
    d_out: int = 8,
    seed: str = "jl",
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: map ``d_in``-dim
    embeddings to ``d_out`` dims with a deterministic ±1/√d_out matrix
    (Achlioptas' database-friendly projections, JMLR 2003 — public).

    This is the DATA-INDEPENDENT counterpart to :func:`pca_project`:
    no fit pass at all, which is the dimensionality-reduction story at
    10^12 rows — PCA's covariance needs a full corpus pass before the
    first projected row exists, while JL projects each row as it
    streams and still preserves pairwise distances within (1±ε) for
    d_out = O(log n / ε²). The standard pre-step before LSH/IVF when
    raw vectors are wide (project 1024→64, then bucket).

    Shape: per-row column arithmetic only — the matrix rides the plan
    as codegen'd literals (no broadcast join, no shuffle, no UDF);
    each output dim is one ``zip_with``+``aggregate`` dot product in
    index order, matching a sequential SQL oracle exactly. Outputs are
    deliberately NOT engine-rounded (fixed float tree → bit-identical
    doubles; the interarrival discipline).
    """
    signs = _jl_signs(d_in, d_out, seed)
    scale = 1.0 / float(d_out) ** 0.5
    x = df.select(
        F.col(id_col),
        F.slice(F.col(vec_col).cast("array<double>"), 1, d_in).alias("_x"),
    ).where(F.size("_x") >= d_in)
    proj = [
        (
            F.aggregate(
                F.zip_with(
                    F.col("_x"),
                    F.array(*[F.lit(s) for s in signs[j]]),
                    lambda v, s: v * s,
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            * F.lit(scale)
        ).alias(f"proj_{j}")
        for j in range(d_out)
    ]
    return x.select(id_col, *proj)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    *,
    k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N ranked
    retrieval lists → ``(doc_id, rrf_score, n_lists, best_rank,
    fused_rank)`` with ``rrf_score = Σ_lists 1/(k + rank)`` — the
    standard score-free way to combine lexical (BM25) and dense
    (embedding top-k) retrieval, robust to incomparable score scales
    because only RANKS enter the sum.

    Shape: the inputs are already top-k-bounded lists (tiny by
    construction), so fusion is a union + ONE hash agg keyed by doc;
    the final ordering window runs over ≤ Σk rows. Ordering uses the
    ROUNDED score with a doc-id tie-break so float summation order
    can never flip a rank.
    """
    from functools import reduce

    from pyspark.sql import Window

    tagged = [
        r.select(
            F.col(id_col).alias("_doc"), F.col(rank_col).cast("int").alias("_rk")
        )
        for r in rankings
    ]
    u = reduce(lambda a, b: a.unionAll(b), tagged)
    fused = u.groupBy("_doc").agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(int(k)) + F.col("_rk"))), 6).alias(
            "rrf_score"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.min("_rk").cast("int").alias("best_rank"),
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("_doc"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .where(F.col("fused_rank") <= int(top_n))
        .select(
            F.col("_doc").alias(id_col),
            "rrf_score",
            "n_lists",
            "best_rank",
            "fused_rank",
        )
    )


def mahalanobis_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    top_n: int = 20,
    ridge: float = 1e-6,
) -> DataFrame:
    """Covariance-aware embedding outliers → top ``top_n``
    ``(id, mahalanobis_sq)`` by squared Mahalanobis distance
    ``(x−μ)ᵀ Σ⁻¹ (x−μ)`` — the correlated-dimensions upgrade of
    :func:`centroid_distance_outliers` (which assumes isotropic
    spread and under-flags outliers lying along low-variance axes).

    Tested-not-gated, deliberately: the oracle would need a matrix
    inverse, which SQL can't express — same policy as
    ``cosine_topk_pandas`` (driver-side planes). Numpy lock-step
    goldens cover it instead.

    Shape: Σ comes from :func:`embedding_covariance` (one scan); the
    driver inverts the tiny d×d (ridge-regularized) and Cholesky-
    factors Σ⁻¹ = LᵀL so the per-row score is ‖L(x−μ)‖² — shipped to
    executors as a broadcast literal inside ONE Arrow-batched
    pandas_udf (BLAS matmul per batch, the ``cosine_topk_pandas``
    precedent; a d²-term column expression per row would be
    interpreted and ~50× slower). Top-n is a TakeOrdered, id
    tie-broken.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cov_long = embedding_covariance(df, vec_col).collect()
    d = max(r.dim_j for r in cov_long) + 1
    cov = np.zeros((d, d))
    for r in cov_long:
        cov[r.dim_i, r.dim_j] = cov[r.dim_j, r.dim_i] = r.cov
    mean_rows = (
        df.agg(
            *[
                F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"m{i}")
                for i in range(d)
            ]
        ).first()
    )
    mu = np.array([mean_rows[f"m{i}"] for i in range(d)])
    prec = np.linalg.inv(cov + float(ridge) * np.eye(d))
    L = np.linalg.cholesky(prec).T  # Σ⁻¹ = LᵀL, score = ‖L(x−μ)‖²

    # no type hints: the module's `from __future__ import annotations`
    # turns them into strings that pandas_udf can't resolve (pd is a
    # function-local import); the returnType string is sufficient
    @pandas_udf("double")
    def _score(v):
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        if X.size == 0:
            return pd.Series([], dtype=np.float64)
        Y = (X - mu) @ L.T
        return pd.Series(np.round((Y * Y).sum(axis=1), 6))

    return (
        df.select(
            F.col(id_col),
            _score(F.col(vec_col).cast("array<double>")).alias("mahalanobis_sq"),
        )
        .orderBy(F.desc("mahalanobis_sq"), F.asc(id_col))
        .limit(int(top_n))
    )


def embedding_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    *,
    ref_group=None,
) -> DataFrame:
    """Group-level embedding drift: per group, the L2 and cosine
    distance between its centroid and a reference group's centroid →
    ``(group, n_members, l2_to_ref, cosine_to_ref)`` — the
    embedding-space sibling of categorical PSI (distribution drift of
    the REPRESENTATION, not of a scalar feature). A fold whose
    centroid wanders from the reference fold's signals upstream
    encoder/model drift before any scalar feature moves.

    Shape: centroids come from ``cluster_centroids`` (ONE
    Summarizer whole-vector pass — the corpus never explodes); the
    distance algebra runs on the tiny (groups × dims) table with the
    reference column broadcast back by dim. Distances use the
    6-rounded centroids so the cross-engine compare is exact.
    ``ref_group`` defaults to the minimum group value (deterministic).
    """
    cents = cluster_centroids(df, group_col, vec_col)
    if ref_group is None:
        ref_group = cents.agg(F.min(group_col)).first()[0]
    ref = cents.where(F.col(group_col) == F.lit(ref_group)).select(
        F.col("dim"), F.col("centroid").alias("_ref")
    )
    j = cents.join(F.broadcast(ref), "dim")
    per_group = j.groupBy(group_col).agg(
        F.max("n_members").cast("bigint").alias("n_members"),
        F.sqrt(F.sum(F.pow(F.col("centroid") - F.col("_ref"), 2))).alias("_l2"),
        F.sum(F.col("centroid") * F.col("_ref")).alias("_dot"),
        F.sqrt(F.sum(F.col("centroid") * F.col("centroid"))).alias("_na"),
        F.sqrt(F.sum(F.col("_ref") * F.col("_ref"))).alias("_nb"),
    )
    return per_group.select(
        group_col,
        "n_members",
        F.round("_l2", 6).alias("l2_to_ref"),
        F.round(
            F.when(
                (F.col("_na") > 0) & (F.col("_nb") > 0),
                F.col("_dot") / (F.col("_na") * F.col("_nb")),
            ),
            6,
        ).alias("cosine_to_ref"),
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Retrieval-quality evaluation: per-query recall@k of an
    approximate ANN result against the exact (brute-force) one —
    ``|approx ∩ exact| / |exact|`` over each side's top-``k``. The
    measurement every approximate index needs before it replaces the
    exact path in a pipeline; the same check the LSH/IVF unit tests
    run, promoted to a first-class gated operator.

    Inputs are ``(query_id, neighbor_id, …, rank)`` frames as produced
    by :func:`brute_force_topk` / :func:`lsh_bucketed_topk` /
    :func:`ivf_topk`. Output: ``(query_id, n_exact, n_hit, recall)``.

    Shape: both sides prune to top-k FIRST (≤ Q·k rows each), so the
    intersection join and the two per-query aggs run on result-sized
    data — the corpus never re-enters; queries-only cost at any scale.
    """
    a = approx.where(F.col("rank") <= int(k)).select("query_id", "neighbor_id")
    e = exact.where(F.col("rank") <= int(k)).select("query_id", "neighbor_id")
    hits = (
        a.join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    denom = e.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        denom.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) * 1.0 / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def embedding_diversity(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Within-group embedding dispersion: per group the variance
    trace ``E||x − μ||² = mean||x||² − ||μ||²`` and its square root
    (RMS radius) — the diversity audit for corpus mixture groups: a
    source whose trace collapses is duplicate-heavy or mode-collapsed
    even when its centroid (``embedding_drift``) looks healthy.
    Complements the centroid ops: drift watches WHERE a group sits,
    diversity watches how SPREAD it is.

    Shape: ``||x||²`` is one scalar per row via an ``F.aggregate``
    fold over the array (no row×dim explosion); μ comes from
    :func:`cluster_centroids`' single Summarizer pass. Everything
    after runs on group-sized tables. ``mean||x||²`` and ``||μ||²``
    are EACH rounded to 6dp before the subtraction so the
    cross-engine difference is exact; the trace is clamped at 0
    before the square root (rounding can push a near-zero trace
    negative).
    """
    # order-free sums on integer grids (r5 fuzz catch at seed 1234:
    # the raw AVG/SUM doubles are partition-order-dependent and one
    # group landed ON the 6dp rounding boundary). Per-row ||x||² is
    # the same double on both engines (identical index-order fold),
    # so its 1e-6 quantization is identical; same for the 6dp-grid
    # centroid components' squares on the 1e-9 grid.
    sq = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda a, x: a + x * x,
    )
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.round(sq * F.lit(1e6)).cast("long")).alias("_msq_q"),
    )
    per = per.withColumn(
        "_msq",
        F.round(
            F.col("_msq_q").cast("double")
            / F.col("n_vectors").cast("double")
            / F.lit(1e6),
            6,
        ),
    )
    cents = cluster_centroids(df, group_col, vec_col)
    musq = cents.groupBy(group_col).agg(
        F.round(
            F.sum(
                F.round(
                    F.col("centroid") * F.col("centroid") * F.lit(1e9)
                ).cast("long")
            ).cast("double")
            / F.lit(1e9),
            6,
        ).alias("_musq")
    )
    out = per.join(musq, group_col)
    trace = F.round(F.col("_msq") - F.col("_musq"), 6)
    return out.select(
        group_col,
        "n_vectors",
        trace.alias("trace_variance"),
        F.round(F.sqrt(F.greatest(trace, F.lit(0.0))), 6).alias("rms_radius"),
    )


def ndcg_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Retrieval-quality evaluation #2: per-query nDCG@k of an
    approximate result against the exact ranking — the GRADED
    companion to :func:`recall_at_k` (recall says "did the right
    neighbors appear"; nDCG says "in the right order, weighted toward
    the top"). Relevance is derived from the exact ranking itself:
    ``rel(neighbor) = k + 1 − exact_rank`` (top exact neighbor most
    relevant, neighbors outside the exact top-k contribute 0), so no
    external judgment set is needed. ``nDCG = DCG(approx) /
    DCG(exact)`` with the standard ``rel / log2(rank + 1)`` discount.

    Determinism: the ≤k discount terms per query are summed over the
    rank-ORDERED window frame, so both engines add the same doubles in
    the same order; relevance grades are exact small integers.

    Shape: both sides prune to top-k FIRST (≤ Q·k rows), the relevance
    join is per-query equi, and every window is partitioned by query —
    queries-only cost at any scale (recall_at_k discipline).
    """
    kk = int(k)
    e = exact.where(F.col("rank") <= kk).select(
        "query_id",
        "neighbor_id",
        (F.lit(kk + 1) - F.col("rank")).cast("double").alias("_rel"),
        F.col("rank").alias("_erank"),
    )
    a = approx.where(F.col("rank") <= kk).select(
        "query_id", "neighbor_id", F.col("rank").alias("_arank")
    )
    w_a = (
        Window.partitionBy("query_id")
        .orderBy("_arank")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_e = (
        Window.partitionBy("query_id")
        .orderBy("_erank")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    dcg_terms = a.join(
        e.select("query_id", "neighbor_id", "_rel"),
        ["query_id", "neighbor_id"],
        "left",
    ).select(
        "query_id",
        "_arank",
        (
            F.coalesce(F.col("_rel"), F.lit(0.0))
            / F.log2(F.col("_arank").cast("double") + F.lit(1.0))
        ).alias("_term"),
    )
    dcg = dcg_terms.select(
        "query_id", F.sum("_term").over(w_a).alias("dcg")
    ).groupBy("query_id").agg(F.max("dcg").alias("dcg"))
    idcg_terms = e.select(
        "query_id",
        "_erank",
        (F.col("_rel") / F.log2(F.col("_erank").cast("double") + F.lit(1.0))).alias(
            "_term"
        ),
    )
    idcg = idcg_terms.select(
        "query_id", F.sum("_term").over(w_e).alias("idcg")
    ).groupBy("query_id").agg(F.max("idcg").alias("idcg"))
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("dcg"), F.lit(0.0)), 6).alias("dcg"),
        F.round(F.col("idcg"), 6).alias("idcg"),
        F.round(
            F.when(
                F.col("idcg") > 0,
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg"),
    )


def lof_scores(
    vectors: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Local Outlier Factor over the embedding space: the DENSITY-
    relative companion to ``centroid_distance_outliers`` (global) and
    ``lsh_dbscan`` (binary noise flag) — LOF ≈ 1 inside a cluster of
    any density, ≫ 1 for points whose neighborhood is sparser than
    their neighbors' neighborhoods. Classic Breunig et al. 2000
    semantics on the cosine-distance kNN graph:

    - ``dist = 1 − cosine`` (cosine rounded 6 — the engine's
      cross-engine similarity contract, so every downstream number
      derives from identical inputs on both engines);
    - ``kdist(b)`` = distance to b's k-th neighbor;
    - ``reach(a,b) = max(dist(a,b), kdist(b))``;
    - ``lrd(a) = k / Σ_b reach(a,b)`` (ε-floored denominator — exact
      duplicates give zero reach); cosine distance bounds reach to
      [0, 2] (a NULL reach drops out of the sum), so lrd ≥ 0.5 and
      its 1e-6-grid ``_lrd_q`` ≥ 500000 — the lof division below
      never divides by zero;
    - ``lof(a) = mean_b lrd(b) / lrd(a)``.

    Scale shape: built entirely on the kNN edge list (n·k rows). The
    gate uses exact ``brute_force_topk`` (n ≤ a few k vectors); at
    corpus scale swap in ``lsh_bucketed_topk`` — every step after the
    kNN is k-bounded joins + hash aggs, so the LOF pass itself never
    exceeds O(n·k).
    """
    knn = brute_force_topk(vectors, vectors, k=k, vec_col=vec_col, id_col=id_col)
    edges = knn.select(
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.round(F.lit(1.0) - F.col("cosine"), 6).alias("dist"),
    )
    kdist = edges.groupBy(F.col("a").alias("node")).agg(
        F.max("dist").alias("kdist")
    )
    reach = edges.join(
        F.broadcast(kdist.select(F.col("node").alias("b"), "kdist")), "b"
    ).select("a", "b", F.greatest(F.col("dist"), F.col("kdist")).alias("reach"))
    # order-free sums on integer grids (r5 fuzz catch: duplicate
    # vectors drive Σreach to the ε floor, lrd to ~5e9, and a 1-ulp
    # float-sum ordering difference then amplifies into the rounded
    # lof). reach is ALREADY on the 1e-6 grid (max/greatest of
    # 6dp-rounded dists), so round(reach·1e6) loses nothing; lrd is
    # re-quantized to the same grid before the neighbor sum so lof is
    # one double division of exact integers on both engines.
    lrd = reach.groupBy("a").agg(
        (
            F.count(F.lit(1)).cast("double")
            / F.greatest(
                F.sum(F.round(F.col("reach") * F.lit(1e6)).cast("long"))
                .cast("double")
                / F.lit(1e6),
                F.lit(1e-9),
            )
        ).alias("lrd"),
        F.count(F.lit(1)).cast("long").alias("n_k"),
    )
    lrd = lrd.withColumn(
        "_lrd_q", F.round(F.col("lrd") * F.lit(1e6)).cast("long")
    )
    lof = (
        reach.select("a", "b")
        .join(
            F.broadcast(
                lrd.select(F.col("a").alias("b"), F.col("_lrd_q").alias("_lrd_b_q"))
            ),
            "b",
        )
        .groupBy("a")
        .agg(F.sum("_lrd_b_q").alias("_slbq"))
        .join(lrd, "a")
        .select(
            F.col("a").alias(id_col),
            "n_k",
            F.round("lrd", 6).alias("lrd"),
            # LOF saturates at 1e6: ε-floored duplicate clusters give
            # astronomically large, meaningless ratios where the
            # double grid (spacing ~5e-7 at 2.5e9) is COARSER than
            # the 6dp rounding grid, making round-to-6dp engine-
            # dependent; below 1e6 the rounding is well-defined and
            # cross-engine exact
            F.round(
                F.least(
                    F.col("_slbq").cast("double")
                    / (F.col("n_k") * F.col("_lrd_q")).cast("double"),
                    F.lit(1e6),
                ),
                6,
            ).alias("lof"),
        )
    )
    return lof


def knn_label_consistency(
    labeled: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    *,
    method: str = "lsh",
    bits: int = 4,
) -> DataFrame:
    """Embedding-neighborhood label agreement — the cleanlab-style
    mislabel screen the probability-based ``label_noise_screen``
    can't do without a model: a point whose label disagrees with its
    k nearest neighbors in embedding space is a labeling suspect
    (or sits on a true class boundary).

    Per point: its label, how many of its ``k`` cosine neighbors
    share it, the agreement fraction, and a ``suspect`` flag
    (agreement ≤ 1/k — at most one supporting neighbor). Every point
    is a query, so ``method="lsh"`` (default) restricts candidates to
    the sign-LSH bucket — the all-pairs brute path costs
    |corpus|²·d and is the measured bottleneck already at sf0.1
    (points alone in their bucket have no neighbors and are absent,
    like empty LOF neighborhoods). ``method="brute"`` for exactness
    on small sets. Everything after the kNN is one broadcast label
    join + one k-bounded hash agg, the ``lof_scores`` discipline.
    """
    vecs = labeled.select(id_col, vec_col)
    if method == "brute":
        knn = brute_force_topk(vecs, vecs, k=k, vec_col=vec_col, id_col=id_col)
    else:
        knn = lsh_bucketed_topk(
            vecs, vecs, k=k, bits=bits, vec_col=vec_col, id_col=id_col
        )
    lbl = labeled.select(
        F.col(id_col).alias("_n"), F.col(label_col).alias("_nl")
    )
    own = labeled.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("label")
    )
    edges = knn.select("query_id", F.col("neighbor_id").alias("_n")).join(
        F.broadcast(lbl), "_n"
    )
    agg = edges.join(F.broadcast(own), "query_id").groupBy(
        "query_id", "label"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum((F.col("_nl") == F.col("label")).cast("int"))
        .cast("long")
        .alias("n_match"),
    )
    return agg.select(
        F.col("query_id").alias(id_col),
        "label",
        "n_k",
        "n_match",
        F.round(
            F.col("n_match").cast("double") / F.col("n_k").cast("double"), 6
        ).alias("consistency"),
        (
            F.col("n_match").cast("double") / F.col("n_k").cast("double")
            <= 1.0 / float(k)
        )
        .cast("int")
        .alias("suspect"),
    )


def mmr_rerank(
    candidates: DataFrame,
    sims: DataFrame,
    *,
    k: int = 10,
    lam: float = 0.7,
    mode: str = "driver",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of a BOUNDED candidate set: greedily pick the candidate
    maximizing ``λ·rel − (1−λ)·max_sim_to_selected`` — the
    diversity-aware context-selection step a pure top-k can't do
    (top-k hands the context window five paraphrases of one
    document; MMR trades relevance for coverage).

    Inputs: ``candidates(cand_id, rel)`` (relevance, rounded 6) and
    ``sims(a, b, sim)`` — pairwise similarities over the candidate
    set, both directions present (or symmetric pairs; missing pairs
    count as 0). Greedy selection is inherently sequential, so this
    operator is for RESULT-sized candidate sets (top-N of a retrieval
    stage, N ≤ ~100): each of the ``k`` rounds is one join + one
    1-row argmax on the N-row frame, ``localCheckpoint``-flattened —
    the ESD remove-and-rescore discipline. Tiebreak: max score, then
    min cand_id — cross-engine exact on round-6 inputs and literal λ.

    Output: ``(rank, cand_id, rel, mmr_score)``, rank 1-based.

    Execution modes (bit-identical, pytest-asserted): the candidate
    set is RESULT-sized by contract, so ``mode="driver"`` (default)
    collects it once and runs the greedy loop in Python — the same
    IEEE score expression and the same (max score, min cand_id)
    tiebreak, and since every comparison is a max (not a sum) there
    is no accumulation-order sensitivity. ``mode="distributed"``
    keeps the per-round join/argmax jobs (measured 5.8s vs ~1s at
    sf0.1 — per-round scheduling, not data).
    """
    if mode == "driver":
        return _mmr_rerank_driver(
            candidates, sims, k=int(k), lam=float(lam)
        )
    remaining = candidates.select("cand_id", "rel").localCheckpoint()
    sim_pairs = sims.select(
        F.col("a").alias("_sa"), F.col("b").alias("_sb"), F.col("sim")
    ).persist()
    picks = []
    selected = None
    lam_f = float(lam)
    try:
        for rnd in range(1, int(k) + 1):
            if selected is None:
                scored = remaining.select(
                    "cand_id", "rel", (F.lit(lam_f) * F.col("rel")).alias("score")
                )
            else:
                maxsim = (
                    sim_pairs.join(
                        F.broadcast(selected.select(F.col("cand_id").alias("_sb"))),
                        "_sb",
                    )
                    .groupBy(F.col("_sa").alias("cand_id"))
                    .agg(F.max("sim").alias("_ms"))
                )
                scored = remaining.join(maxsim, "cand_id", "left").select(
                    "cand_id",
                    "rel",
                    (
                        F.lit(lam_f) * F.col("rel")
                        - F.lit(1.0 - lam_f) * F.coalesce("_ms", F.lit(0.0))
                    ).alias("score"),
                )
            best = scored.agg(F.max("score").alias("_mx"))
            pick = (
                scored.crossJoin(F.broadcast(best))
                .where(F.col("score") == F.col("_mx"))
                .agg(
                    F.min_by(
                        F.struct("cand_id", "rel", "score"), F.col("cand_id")
                    ).alias("p")
                )
                .select(
                    F.lit(rnd).cast("int").alias("rank"),
                    F.col("p.cand_id").alias("cand_id"),
                    F.col("p.rel").alias("rel"),
                    F.round("p.score", 6).alias("mmr_score"),
                )
                .localCheckpoint()
            )
            picks.append(pick)
            pk = pick.select("cand_id")
            selected = (
                pk if selected is None else selected.unionAll(pk)
            ).localCheckpoint()
            remaining = remaining.join(
                F.broadcast(pick.select(F.col("cand_id").alias("_pc"))),
                remaining["cand_id"] == F.col("_pc"),
                "left_anti",
            ).localCheckpoint()
    finally:
        sim_pairs.unpersist()
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


def _mmr_rerank_driver(
    candidates: DataFrame,
    sims: DataFrame,
    *,
    k: int,
    lam: float,
) -> DataFrame:
    """Driver-side replay of :func:`mmr_rerank`'s greedy loop over the
    collected result-sized candidate set — identical score expression
    ``λ·rel − (1−λ)·max(sim to selected, else 0.0)`` and identical
    (max score, min cand_id) tiebreak; 6dp rounding runs in Spark on
    the shipped raw doubles."""
    from pyspark.sql import types as T

    spark = candidates.sparkSession
    cand_field = candidates.schema["cand_id"]
    cand = [
        (r["cand_id"], float(r["rel"]))
        for r in candidates.select("cand_id", "rel").collect()
    ]
    # directed pairs exactly as given (the distributed join's view);
    # duplicates collapse by max like the groupBy-max does
    sim: dict[tuple, float] = {}
    for r in sims.select("a", "b", "sim").collect():
        key = (r["a"], r["b"])
        v = float(r["sim"])
        if key not in sim or v > sim[key]:
            sim[key] = v
    remaining = dict(cand)
    selected: list = []
    rows = []
    lam_f = float(lam)
    for rnd in range(1, int(k) + 1):
        if not remaining:
            break
        best_id, best_score, best_rel = None, None, None
        for cid, rel in remaining.items():
            if not selected:
                score = lam_f * rel
            else:
                present = [
                    sim[(cid, s)] for s in selected if (cid, s) in sim
                ]
                # max over PRESENT pairs only; 0.0 when none (the
                # left-join coalesce semantics — sims may be negative)
                ms = max(present) if present else 0.0
                score = lam_f * rel - (1.0 - lam_f) * ms
            if (
                best_score is None
                or score > best_score
                or (score == best_score and cid < best_id)
            ):
                best_id, best_score, best_rel = cid, score, rel
        rows.append((rnd, best_id, best_rel, best_score))
        selected.append(best_id)
        del remaining[best_id]
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType()),
            T.StructField("cand_id", cand_field.dataType),
            T.StructField("rel", T.DoubleType()),
            T.StructField("_raw", T.DoubleType()),
        ]
    )
    raw = spark.createDataFrame(rows, schema)
    return raw.select(
        "rank", "cand_id", "rel", F.round("_raw", 6).alias("mmr_score")
    )


def mrr_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Mean-reciprocal-rank eval: per query, the reciprocal rank of
    the FIRST approx result that is relevant (relevant = the exact
    top-``k``) — the metric for interfaces where the user takes ONE
    result (retrieval-augmented prompting takes the top hit;
    recall@k grades the whole candidate set, nDCG the full ordering,
    MRR the time-to-first-hit). Output: ``(query_id,
    first_hit_rank, rr)`` with rank NULL / rr 0.0 for queries whose
    approx list misses entirely (honest-miss accounting, same
    convention as :func:`recall_at_k`).

    Shape: both sides prune to top-k first (≤ Q·k rows), then one
    result-sized intersection join + per-query MIN — the corpus
    never re-enters. rr = 1/rank is an exact-integer reciprocal
    rounded at 6dp (no float accumulation anywhere).
    """
    a = approx.where(F.col("rank") <= int(k)).select(
        "query_id", "neighbor_id", "rank"
    )
    e = exact.where(F.col("rank") <= int(k)).select("query_id", "neighbor_id")
    first = (
        a.join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.min("rank").cast("int").alias("first_hit_rank"))
    )
    qs = e.select("query_id").distinct()
    return qs.join(first, "query_id", "left").select(
        "query_id",
        "first_hit_rank",
        F.coalesce(
            F.round(F.lit(1.0) / F.col("first_hit_rank"), 6), F.lit(0.0)
        ).alias("rr"),
    )


def silhouette_by_label(
    df: DataFrame,
    cluster_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each
    point, ``a`` = distance to its OWN cluster centroid, ``b`` =
    distance to the NEAREST other centroid, ``s = (b − a)/max(a, b)``
    — the cluster-quality read (separation vs cohesion in one number,
    s < 0 = likely misassigned) that :func:`embedding_diversity`
    (within-spread only) and :func:`embedding_drift` (centroid
    position only) can't give. Centroid-based "simplified silhouette"
    by design: the classic all-pairs silhouette is O(n²) and
    cluster-quality literature shows the centroid form tracks it —
    this is the ONLY scalable variant at corpus size.

    Output per cluster: ``(label, n_points, mean_a, mean_b,
    mean_silhouette, n_negative)``.

    Shape: centroids via :func:`cluster_centroids` (ONE Summarizer
    pass, 6dp-rounded — the deterministic cross-engine contract);
    distances via ONE posexplode to (point, dim) joined to the
    broadcast (cluster × dim) centroid table — Σ(v−c)² per
    (point, candidate-cluster) in a single hash agg (rows × dims ×
    clusters intermediate, shuffled once; the row-local fold
    alternative burns interpreted-HOF CPU per centroid — measured
    slower in this engine, see BENCH.md HOF notes). Per-point s is
    rounded to integer MICRO-units before the per-cluster mean, so
    the final averages are exact integer sums (order-free).
    """
    cents = cluster_centroids(df, cluster_col, vec_col).select(
        F.col(cluster_col).alias("_cand"),
        "dim",
        F.col("centroid").alias("_c"),
    )
    # id BEFORE the explode (a generator in the same projection would
    # re-evaluate the id per dim row); never surfaces in the output
    pts = df.select(
        F.monotonically_increasing_id().alias("_pid"),
        F.col(cluster_col).alias("_own"),
        F.col(vec_col).cast("array<double>").alias("_x"),
    ).select("_pid", "_own", F.posexplode("_x").alias("dim", "_v"))
    dists = (
        pts.join(F.broadcast(cents), "dim")
        .groupBy("_pid", "_own", "_cand")
        .agg(
            F.sum((F.col("_v") - F.col("_c")) * (F.col("_v") - F.col("_c"))).alias(
                "_d2"
            )
        )
    )
    per_point = dists.groupBy("_pid", "_own").agg(
        F.max(F.when(F.col("_cand") == F.col("_own"), F.col("_d2"))).alias("_a2"),
        F.min(F.when(F.col("_cand") != F.col("_own"), F.col("_d2"))).alias("_b2"),
    )
    a = F.sqrt(F.col("_a2"))
    b = F.sqrt(F.col("_b2"))
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    micro = per_point.select(
        "_own",
        F.round(a * F.lit(1.0e6), 0).cast("long").alias("_am"),
        F.round(b * F.lit(1.0e6), 0).cast("long").alias("_bm"),
        F.round(s * F.lit(1.0e6), 0).cast("long").alias("_sm"),
    )
    return (
        micro.groupBy(F.col("_own").alias(cluster_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.sum("_am") / (F.count(F.lit(1)) * F.lit(1.0e6)), 6).alias(
                "mean_a"
            ),
            F.round(F.sum("_bm") / (F.count(F.lit(1)) * F.lit(1.0e6)), 6).alias(
                "mean_b"
            ),
            F.round(F.sum("_sm") / (F.count(F.lit(1)) * F.lit(1.0e6)), 6).alias(
                "mean_silhouette"
            ),
            F.sum((F.col("_sm") < 0).cast("int")).cast("long").alias("n_negative"),
        )
        .orderBy(cluster_col)
    )
