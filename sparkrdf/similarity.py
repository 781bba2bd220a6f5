"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k against a query vector taken from the
  table itself (so the DuckDB oracle can reference the same vector without
  literals).
- blocked_near_dup: cosine near-duplicate pairs within label blocks — the
  pre-partitioned (coarse-quantized) variant: at 100 TB the label plays the
  role of an IVF cell id, so the pair join is block-local instead of a full
  cross join.
- ivf_topk: two-stage IVF search — per-label centroids (the "coarse
  quantizer"), probe the closest n_probe cells, exact search inside. The
  shuffle is bounded by cell size, not table size.

Every vector operator scores through two folds, :func:`_dot` and
:func:`_sqdist`. Each runs as a compiled JVM UDF (sparkrdf.VecDot /
VecSqDist) when the session has it, else as the Catalyst
``aggregate(zip_with)`` fold; both widen every element to double before the
arithmetic and accumulate left to right from +0.0, so the two give the same
bits. Cosines are rounded (6 d.p.) so float noise cannot flip the oracle's
value-hash comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkrdf.session import jvm_udfs


def _fold(udf: str, a: Column, b: Column, term) -> Column:
    """Left-to-right sum from +0.0 of ``term(x, y)`` over the element pairs,
    each element widened to double first: the JVM UDF ``udf`` when the
    active session has it (a JIT-compiled loop), else the Catalyst
    ``aggregate(zip_with)`` form (interpreted per element). Same bits either
    way, and the zip_with contract on both: a NULL array, a NULL element or
    a length mismatch gives NULL. A fixed-dim unrolled chain was measured
    and regressed 2-5× (a 64-term expression tree per product inflates
    Catalyst and generated-code size past the JIT sweet spot: sim_lsh_topk
    1.4 s → 8.0 s), so the fold stays a single expression."""
    active = SparkSession.getActiveSession()
    if active is not None and udf in jvm_udfs(active):
        return F.call_udf(udf, a, b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: term(x.cast("double"), y.cast("double"))),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _dot(a: Column, b: Column) -> Column:
    return _fold("sparkrdf_vdot", a, b, lambda x, y: x * y)


def _sqdist(a: Column, b: Column) -> Column:
    """Squared euclidean distance — the identical accumulation order the
    DuckDB oracle's list_sum uses."""
    return _fold("sparkrdf_vsqd", a, b, lambda x, y: (x - y) * (x - y))


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    emb: DataFrame, query_id: int = 0, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs the row with id == query_id.

    (k+1 scan then drop self; ties broken by id asc — fully deterministic.)
    """
    q = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qvec"))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def blocked_near_dup(
    emb: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    max_block_rows: int = 10_000,
) -> DataFrame:
    """Cosine near-dup pairs within blocks: (id_a, id_b, score ≥ threshold).

    The double-cast vector and its norm are computed ONCE PER ROW before the
    pair join (each row participates in O(block) pairs, so per-pair work
    drops from dot+2 norms to a single dot). The final value is the same
    dot/(norm_a*norm_b) fold as :func:`cosine`, so results are bit-identical
    to the unoptimized form.

    Hot-block salting: the within-block pair join is O(n²) in the largest
    block, so a block with n rows is split into ``S = ceil(n /
    max_block_rows)`` salt cells. The left side keeps one deterministic salt
    per row (``xxhash64(id) mod S``); the right side is replicated into all
    S cells; the join key becomes (blk, salt). Every ordered pair meets in
    exactly one cell (the left row's), so results are identical to the
    unsalted join, while per-task pair work is bounded by n²/S ≈
    n·max_block_rows and a single dominant label spreads across S shuffle
    partitions instead of one. Blocks under the threshold get S=1 — the
    plan degenerates to the plain block join."""
    dv = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    sizes = emb.groupBy(F.col(block_col).alias("blk")).agg(
        F.ceil(F.count("*") / F.lit(max_block_rows)).cast("int").alias("n_salt")
    )
    a = emb.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_a"),
        dv.alias("va"), _norm(F.col(vec_col)).alias("na"),
    ).join(sizes, "blk").withColumn(
        "salt", F.pmod(F.xxhash64(F.col("id_a")), F.col("n_salt")).cast("int")
    ).drop("n_salt")
    b = emb.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_b"),
        dv.alias("vb"), _norm(F.col(vec_col)).alias("nb"),
    ).join(sizes, "blk").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1))
    ).drop("n_salt")
    return (
        a.join(b, ["blk", "salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Two-stage approximate search: probe the n_probe closest cells (by
    centroid cosine), exact cosine inside. Returns (vec_id, score)."""
    dim_vec = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    # centroids via dimension explode + partial-aggregated avg (map-side
    # combine keeps the shuffle at |cells|·dim rows)
    ex = emb.select(
        F.col(cell_col).alias("cell"), F.posexplode(dim_vec).alias("pos", "val")
    )
    cells = (
        ex.groupBy("cell", "pos")
        .agg(F.avg("val").alias("v"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("cell", F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec"), F.col(cell_col).alias("qcell")
    )
    probed = (
        cells.crossJoin(F.broadcast(q))
        .select("cell", cosine(F.col("centroid"), F.col("qvec")).alias("cscore"))
        .orderBy(F.col("cscore").desc(), F.col("cell").asc())
        .limit(n_probe)
    )
    cand = emb.join(
        F.broadcast(probed.select(F.col("cell").alias(cell_col))), cell_col, "inner"
    ).filter(F.col(id_col) != query_id)
    scored = cand.crossJoin(F.broadcast(q.select("qvec"))).select(
        F.col(id_col), F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


LSH_PLANES = 10  # 2^10 buckets; probe radius trades recall vs candidates


def lsh_hyperplanes(dim: int = 64, n_planes: int = LSH_PLANES) -> list[list[float]]:
    """Deterministic ±1 random-projection hyperplanes (sign-bit of the
    vendored farmhash of "hp:<plane>:<dim>") — reproducible across engines,
    shippable as literals into both Catalyst and oracle SQL."""
    from sparkrdf.hashing import fingerprint64

    return [
        [1.0 if (fingerprint64(f"hp:{p}:{d}") >> 32) & 1 else -1.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH signature: bit p = (w_p · v) > 0, packed into a long.
    One :func:`_dot` fold per plane."""
    sig = F.lit(0).cast("long")
    for p, w in enumerate(planes):
        dot = _dot(vec, F.array(*[F.lit(x) for x in w]))
        sig = sig + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return sig


def lsh_cosine_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_planes: int = LSH_PLANES,
    max_hamming: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH — the bucketed ANN
    path when no coarse label/cell exists (complements blocked_near_dup and
    ivf_topk). Candidates = vectors whose signature is within
    ``max_hamming`` bits of the query's; exact cosine inside.

    Scale shape: signatures are one narrow projection; the distinct-bucket
    table is bounded by 2^n_planes (broadcastable BY CONSTRUCTION at any
    data size); candidate selection is a broadcast semi-join, so nothing but
    the candidate set ever shuffles."""
    planes = lsh_hyperplanes(dim, n_planes)
    sigs = emb.select(
        F.col(id_col), F.col(vec_col), lsh_signature(F.col(vec_col), planes).alias("sig")
    )
    q = sigs.filter(F.col(id_col) == query_id).select(
        F.col("sig").alias("qsig"), F.col(vec_col).alias("qvec")
    )
    probed = (
        sigs.select("sig")
        .dropDuplicates()
        .crossJoin(F.broadcast(q.select("qsig")))
        .filter(
            F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))) <= max_hamming
        )
        .select("sig")
    )
    cand = sigs.join(F.broadcast(probed), "sig").filter(F.col(id_col) != query_id)
    scored = cand.crossJoin(F.broadcast(q.select("qvec"))).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _mean_centroids(df: DataFrame, key_col: str, vec_col: str) -> DataFrame:
    """Per-key mean vectors, each component rounded to 9 d.p.

    The rounding is the cross-engine float contract: Spark's partial
    aggregation and DuckDB's scan order sum the same doubles differently
    (~1e-13 relative drift on corpus-sized means), and 9 d.p. is coarse
    enough to absorb that while staying far finer than any real centroid
    separation. → (cluster, centroid array<double>)."""
    dim_vec = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    ex = df.select(
        F.col(key_col).alias("cluster"), F.posexplode(dim_vec).alias("pos", "val")
    )
    return (
        ex.groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), 9).alias("v"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("cluster", F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )


def kmeans_assign(
    emb: DataFrame,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_col: str = "label",
) -> DataFrame:
    """Lloyd's k-means over the embedding column with deterministic
    initialization: the starting centroids are the per-``init_col`` means
    (the same coarse quantizer :func:`ivf_topk` uses), then ``n_assign``
    assignment steps run with a centroid recomputation between consecutive
    ones — i.e. ``n_assign`` assigns and ``n_assign - 1`` updates, a fixed
    closed-form definition the DuckDB oracle unrolls verbatim.

    Assignment is argmin squared-euclidean with ties to the smallest
    cluster id (min over a (dist, cluster) struct); distances are rounded
    to 9 d.p. before the argmin so last-ulp noise can never flip a
    near-tie differently in the two engines. Clusters that attract no
    vectors simply vanish from the next update, exactly as in textbook
    Lloyd. Returns ``(vec_id, cluster, dist)`` with dist rounded to 6 d.p.

    Scale shape: the centroid table is |clusters| rows — broadcast by
    construction — so each assignment is a map-only broadcast join over the
    embeddings; each update is one posexplode + hash aggregate with
    map-side partials (shuffle = |clusters|·dim rows). Nothing ever
    shuffles the full vector table. The double-cast vector table (id,
    init label, dv) is materialized ONCE (eager localCheckpoint) and every
    assignment, centroid update and re-join reads it — previously each of
    the ~2·n_assign consumers re-scanned the embedding source and re-cast
    the vectors (measured 6 scans for n_assign=2). ``_mean_centroids``
    over the pre-cast arrays is value-identical: its own element cast is a
    no-op on doubles.
    """
    if n_assign < 1:
        raise ValueError("n_assign must be >= 1")
    dim_vec = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    vecs = emb.select(
        F.col(id_col), F.col(init_col).alias("_init"), dim_vec.alias("dv")
    ).localCheckpoint(eager=True)

    def assign(cents: DataFrame) -> DataFrame:
        d = F.round(_sqdist(F.col("dv"), F.col("centroid")), 9)
        return (
            vecs.crossJoin(F.broadcast(cents))
            .select(F.col(id_col), F.col("cluster"), d.alias("dist"))
            .groupBy(id_col)
            .agg(F.min(F.struct(F.col("dist"), F.col("cluster"))).alias("m"))
            .select(
                F.col(id_col),
                F.col("m.cluster").alias("cluster"),
                F.col("m.dist").alias("dist"),
            )
        )

    cents = _mean_centroids(vecs, "_init", "dv")
    asg = assign(cents)
    for _ in range(n_assign - 1):
        assigned = vecs.join(asg.select(id_col, "cluster"), id_col)
        cents = _mean_centroids(assigned, "cluster", "dv")
        asg = assign(cents)
    return asg.select(id_col, "cluster", F.round("dist", 6).alias("dist"))


def knn_join(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Distributed kNN self-join: for EVERY row, its top-k cosine
    neighbors — the all-rows generalization of :func:`brute_force_topk`
    (one query vector) and the operator that turns an embedding table
    into a similarity GRAPH (near-dup edges, retrieval eval, clustering
    seeds). Returns ``(id_a, id_b, score, rank)`` with the deterministic
    tie order ``(score desc, id_b asc)``.

    With ``cell_col`` set (an IVF/k-means cell assignment), candidates
    are restricted to same-cell pairs — work is Σ(cell size²) instead of
    n², the standard partitioned-ANN trade (neighbors in other cells are
    missed; recall is a function of the quantizer, pinned by pytest).
    With ``cell_col=None`` the join is exact and quadratic — the
    verification configuration, not the 100 TB path.

    Scale shape: ONE equi-join on the cell key (AQE splits skewed cells;
    per-task pair work is bounded by the quantizer's cell sizes, and the
    per-row norm is precomputed so the pair loop is one fused
    ``zip_with``-sum per pair), then ONE window keyed on ``id_a`` for the
    per-row top-k — both shuffles on uniformly-hashed keys.
    """
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cell = F.col(cell_col) if cell_col else F.lit(0)
    base = emb.select(
        cell.alias("_cell"),
        F.col(id_col).alias("_id"),
        dv.alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        # a zero vector has no direction: its cosine is NaN, and NaN sorts
        # ABOVE all doubles in a descending window — it would rank as the
        # #1 neighbor of every row in its cell. Exclude it on both sides.
    ).filter(F.col("_n") != 0)
    a = base.select(
        F.col("_cell"), F.col("_id").alias("id_a"),
        F.col("_v").alias("va"), F.col("_n").alias("na"),
    )
    b = base.select(
        F.col("_cell"), F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"), F.col("_n").alias("nb"),
    )
    pairs = (
        a.join(b, "_cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
