"""Graph analytics over knowledge-graph edge tables.

Operates on plain (src, dst) DataFrames — the co-mention graph built from
the NER stage, or any RPT/PGT edge table projected to its endpoints. These
are the analytics a KG user runs *after* construction (the reference stops
at construction; ArangoDB itself answers them with AQL graph traversals —
re-expressed here as joins so Catalyst distributes them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType

from sparkrdf.localdf import collect_if_small, local_rows_df, nulls_first


def comention_edges(
    mentions: DataFrame, doc_col: str = "doc_id", ent_col: str = "surface"
) -> DataFrame:
    """Undirected co-occurrence edges: entities mentioned in the same
    document, one row per distinct unordered pair ``(u < v)``.

    Scale shape: a per-document self-join on the doc key — work is bounded
    by (mentions-per-doc)², never corpus², and the doc key is the natural
    partition key (AQE splits the rare pathological doc). The distinct
    collapses duplicate pairs before any downstream algorithm sees them.
    """
    # the self-join references the mention table twice; one barrier keeps
    # the upstream NER/extraction subtree from executing per side
    m = (
        mentions.select(F.col(doc_col).alias("d"), F.col(ent_col).alias("e"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, (F.col("a.d") == F.col("b.d")) & (F.col("a.e") < F.col("b.e")))
        .select(F.col("a.e").alias("u"), F.col("b.e").alias("v"))
        .distinct()
    )


def triangles(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Enumerate all triangles of an undirected graph given as distinct
    ``src < dst`` pairs. Returns ``(a, b, c)`` with ``a < b < c``.

    Algorithm: node-iterator++ (Schank & Wagner) — every edge is oriented
    from its lower-(degree, id) endpoint to its higher one, wedges are built
    only at the low end, and a wedge closes iff its (b, c) pair exists as an
    oriented edge. Degree orientation is THE triangle-counting scale trick:
    per-vertex wedge work is bounded by the vertex's *oriented out-degree*
    (≤ √m on any graph), so a Zipf-hot hub — which a naive a<b ordering
    would hand all its wedges — generates none; its edges point INTO it.
    Three equi-joins, all on narrow key columns; no cartesian anywhere.

    The oriented edge table is materialized ONCE (eager localCheckpoint):
    it is referenced three times below (both wedge sides + the closing-edge
    probe), and without a barrier the whole upstream edge derivation —
    often an extraction pipeline, not a base table — re-executes per
    reference (measured: the co-mention bench query compiled to 212
    exchanges). The input projection itself is NOT persisted: its three
    references inside the one orientation-checkpoint job share work via
    exchange reuse, and a persist was measured slightly slower.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    # orientation key: (degree, id) lexicographic — total order, hub-proof
    ou = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    ov = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    oriented = ed.select(
        F.when(ou < ov, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(ou < ov, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(ou < ov, ov).otherwise(ou).alias("ord_hi"),
    ).localCheckpoint(eager=True)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo")) & (F.col("e1.ord_hi") < F.col("e2.ord_hi")),
    ).select(
        F.col("e1.lo").alias("w"),
        F.col("e1.hi").alias("b"),
        F.col("e2.hi").alias("c"),
    )
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select(
        F.array_sort(F.array("w", "b", "c")).alias("t")
    )
    return tri.select(
        F.col("t")[0].alias("a"), F.col("t")[1].alias("b"), F.col("t")[2].alias("c")
    )


def _ranks_df(spark, pr: dict, id_type, col: str = "pr") -> DataFrame:
    """(n, <col>) DataFrame from a driver score map — UNROUNDED; callers
    apply F.round so the rounding semantics (HALF_UP) stay Spark's own."""
    return local_rows_df(
        spark, sorted(pr.items(), key=nulls_first), [("n", id_type), (col, DoubleType())]
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """PageRank over an undirected distinct-pair edge list (each edge walks
    both ways). Returns ``(n, pr)`` with pr rounded to 6 d.p. so float
    summation order can never flip an oracle comparison.

    Scale shape: the directed edge+degree table is built once, repartitioned
    on its source key and persisted — each power iteration then shuffles
    ONLY the rank table (|V| narrow rows), never the edges. Ranks are
    eagerly localCheckpoint-ed per round to cut the O(iterations) lineage
    (the same discipline as dedupe.connected_components). Every vertex of an
    edge list has degree ≥ 1, so there is no dangling-mass correction and
    total rank stays 1.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    de = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    de = de.persist()
    # The driver power iteration runs the IDENTICAL per-edge arithmetic
    # (pr/deg contributions, same damping algebra); double-summation order
    # differs, which the 6-d.p. output rounding absorbs by design — it
    # already absorbs Spark's own nondeterministic partial-aggregation
    # order run to run. Rounding itself stays in Spark (F.round below), so
    # HALF_UP semantics are byte-identical.
    rows = collect_if_small(de)
    if rows is not None:
        de.unpersist()
        dg: dict = {}
        for r in rows:
            dg[r["s"]] = dg.get(r["s"], 0) + 1
        n_v = len(dg)
        if not n_v:  # empty edge list: no vertex to rank
            return _ranks_df(edges.sparkSession, {}, de.schema["s"].dataType).select("n", "pr")
        base = (1.0 - damping) / n_v
        pr = {n: 1.0 / n_v for n in dg}
        # a NULL source never matches the distributed rank join
        pairs = [(r["s"], r["t"]) for r in rows if r["s"] is not None]
        for i in range(n_iter):
            acc: dict = {}
            for s, t2 in pairs:
                acc[t2] = acc.get(t2, 0.0) + pr[s] / dg[s]
            pr = {t2: base + damping * c for t2, c in acc.items()}
            if i == 0:
                # a vertex whose only neighbour is NULL has no rank left
                # after round one; from then on the rank table is stable
                pairs = [(s, t2) for s, t2 in pairs if s in pr]
        out_df = _ranks_df(edges.sparkSession, pr, de.schema["s"].dataType)
        return out_df.select("n", F.round("pr", 6).alias("pr"))
    deg = de.groupBy("s").agg(F.count("*").cast("double").alias("dg"))
    out = de.join(deg, "s").repartition("s").persist()
    n_v = deg.count()
    de.unpersist()
    if not n_v:
        out.unpersist()
        return _ranks_df(edges.sparkSession, {}, de.schema["s"].dataType).select("n", "pr")
    base = (1.0 - damping) / n_v
    ranks = deg.select(F.col("s").alias("n"), F.lit(1.0 / n_v).alias("pr"))
    for i in range(n_iter):
        ranks = (
            out.join(ranks, out["s"] == ranks["n"])
            .select(F.col("t"), (F.col("pr") / F.col("dg")).alias("c"))
            .groupBy("t")
            .agg((F.lit(base) + damping * F.sum("c")).alias("pr"))
            .withColumnRenamed("t", "n")
        )
        # checkpoint every OTHER round (plus the last): the lineage between
        # barriers is at most two join+agg rounds — same shuffles, half the
        # materialization jobs (the per-round action is pure scheduling
        # overhead once the rank table is small relative to the cluster)
        if i % 2 == 1 or i == n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    out.unpersist()
    return ranks.select("n", F.round("pr", 6).alias("pr"))


def degree_stats(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-vertex degree of an undirected distinct-pair edge list — the
    seed statistic for orientation, skew diagnosis and hub capping."""
    e = edges.select(F.col(src).alias("n")).unionAll(
        edges.select(F.col(dst).alias("n"))
    )
    return e.groupBy("n").agg(F.count("*").cast("long").alias("deg"))

def npmi_edges(
    mentions: DataFrame, doc_col: str = "doc_id", ent_col: str = "surface"
) -> DataFrame:
    """Association-weighted co-occurrence edges: normalized pointwise mutual
    information (NPMI, Bouma 2009) per unordered entity pair.

    Raw co-mention counts are dominated by globally frequent entities; NPMI
    rescales by the marginals so an edge scores high only when the pair
    co-occurs MORE than their popularity predicts — the standard statistic
    for turning webtext co-occurrence into candidate KG relations. With
    ``N`` = documents containing ≥1 mention, ``n_u``/``n_v`` = documents
    containing each entity and ``n_uv`` = documents containing both:

        pmi  = ln(n_uv · N / (n_u · n_v))
        npmi = pmi / ln(N / n_uv)        (and 1.0 when n_uv = N)

    Returns ``(u, v, n_uv, npmi)`` with ``u < v`` and npmi rounded to 6 d.p.
    (same cross-engine float discipline as :func:`pagerank` — the inputs to
    both logs are exact integer ratios, so the only FP sensitivity is the
    final division).

    Scale shape: one (doc, entity) dedup, one per-document self-join (work
    bounded by mentions-per-doc², AQE splits pathological docs), two hash
    aggregates for the marginals, and the corpus total joins in as a
    broadcast single row — nothing global ever shuffles.
    """
    m = (
        mentions.select(F.col(doc_col).alias("d"), F.col(ent_col).alias("e"))
        .distinct()
    )
    ent_docs = m.groupBy("e").agg(F.count("*").alias("n_e"))
    a, b = m.alias("a"), m.alias("b")
    pair_docs = (
        a.join(b, (F.col("a.d") == F.col("b.d")) & (F.col("a.e") < F.col("b.e")))
        .groupBy(F.col("a.e").alias("u"), F.col("b.e").alias("v"))
        .agg(F.count("*").alias("n_uv"))
    )
    total = m.select(F.countDistinct("d").alias("n_docs"))
    j = (
        pair_docs.join(
            ent_docs.select(F.col("e").alias("u"), F.col("n_e").alias("n_u")), "u"
        )
        .join(ent_docs.select(F.col("e").alias("v"), F.col("n_e").alias("n_v")), "v")
        .crossJoin(F.broadcast(total))
    )
    pmi = F.log(
        (F.col("n_uv").cast("double") * F.col("n_docs"))
        / (F.col("n_u").cast("double") * F.col("n_v"))
    )
    denom = F.log(F.col("n_docs").cast("double") / F.col("n_uv"))
    npmi = F.when(F.col("n_uv") == F.col("n_docs"), F.lit(1.0)).otherwise(
        pmi / denom
    )
    return j.select(
        "u", "v", F.col("n_uv").cast("long").alias("n_uv"),
        F.round(npmi, 6).alias("npmi"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """k-core membership by iterative peeling: repeatedly drop vertices of
    degree < k (degrees recomputed over the surviving subgraph) for a FIXED
    number of ``rounds``. Returns ``(n, deg)`` — the surviving vertices with
    their in-core degree.

    The fixed round count makes the operator a deterministic, closed-form
    definition that unrolls to plain SQL (the DuckDB oracle runs the
    identical peeling rounds as nested CTEs); peeling is monotone and
    idempotent after convergence, so whenever the graph converges within
    ``rounds`` this IS the exact k-core, and both engines agree by
    construction either way. 8 rounds converge every graph in the test
    corpus; raise it for deep peeling chains.

    Scale shape: per round one degree aggregate plus two semi-joins keyed on
    the endpoint — the graph only shrinks, later rounds are cheap, and
    lineage is truncated per round (``localCheckpoint``) exactly like
    :func:`sparkrdf.dedupe.connected_components`.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    cur = e.localCheckpoint(eager=True)
    # The driver peeling rounds are pure integer degree counting over the
    # edge MULTISET (duplicates and self-loops count exactly as in the
    # aggregate) — bit-identical to the distributed loop.
    rows = collect_if_small(cur)
    if rows is not None:
        pairs = [(r["u"], r["v"]) for r in rows]
        for _ in range(rounds):
            dg: dict = {}
            for u, v in pairs:
                dg[u] = dg.get(u, 0) + 1
                dg[v] = dg.get(v, 0) + 1
            # NULL never survives the distributed semi-join peel
            keep = {n for n, d in dg.items() if d >= k and n is not None}
            pairs = [(u, v) for u, v in pairs if u in keep and v in keep]
        dg = {}
        for u, v in pairs:
            dg[u] = dg.get(u, 0) + 1
            dg[v] = dg.get(v, 0) + 1
        return local_rows_df(
            edges.sparkSession,
            sorted(((n, d) for n, d in dg.items() if d >= k), key=nulls_first),
            [("n", cur.schema["u"].dataType), ("deg", LongType())],
        )
    for _ in range(rounds):
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("n")
        cur = (
            cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    deg = (
        cur.select(F.col("u").alias("n"))
        .unionAll(cur.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return deg.filter(F.col("deg") >= k)


def _weighted_out_edges(rows) -> tuple[dict, set, list]:
    """Driver side of the weighted PageRank loops: out-weight per source,
    the node set, and ``(s, t, w/outw(s))`` per edge. NULL endpoints follow
    the distributed joins: a NULL node is a node, but it sends nothing (its
    out-edges never join) and receives nothing (the rank table's left join
    never matches it), so it has no out-weight and its edges carry no
    mass."""
    ow: dict = {}
    nodes: set = set()
    for r in rows:
        s, t2 = r["s"], r["t"]
        nodes.add(s)
        nodes.add(t2)
        if s is not None:
            ow[s] = ow.get(s, 0.0) + r["w"]
    frac = [
        (r["s"], r["t"], r["w"] / ow[r["s"]])
        for r in rows
        if r["s"] is not None and r["t"] is not None
    ]
    return ow, nodes, frac


def pagerank_directed(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str = "n_links",
) -> DataFrame:
    """PageRank over a DIRECTED weighted edge list — the web-graph variant:
    link direction matters and sink nodes (linked-to hosts that link to
    nothing, i.e. no out-edges) exist, so their rank mass is redistributed
    uniformly every iteration (the standard dangling-node correction;
    without it total rank leaks and the ranking drifts toward 0).

        pr'(v) = (1-d)/N + d·( Σ_{u→v} pr(u)·w(u,v)/outw(u) + D/N )

    with D = Σ pr(u) over dangling u. Returns ``(n, pr)`` rounded 6 d.p.
    (the same cross-engine float discipline as :func:`pagerank`).

    Scale shape: the normalized edge table (w/outw precomputed) is built
    once, repartitioned on the source key and persisted; per iteration only
    the |V|-row rank table shuffles, the dangling mass is a broadcast
    single-row aggregate, and ranks are localCheckpoint-ed so the plan
    stays flat across iterations.
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t"),
        F.col(weight).cast("double").alias("w"),
    )
    e = e.persist()
    # driver loop — see pagerank() for the exactness argument (same
    # per-edge arithmetic, 6-d.p. rounding stays Spark-side)
    rows = collect_if_small(e)
    if rows is not None:
        e.unpersist()
        ow, nodes, frac = _weighted_out_edges(rows)
        n_v = len(nodes)
        if not n_v:  # empty edge list: no vertex to rank
            return _ranks_df(edges.sparkSession, {}, e.schema["s"].dataType).select("n", "pr")
        base = (1.0 - damping) / n_v
        pr = {n: 1.0 / n_v for n in nodes}
        for _ in range(n_iter):
            dm = sum(pr[n] for n in nodes if n not in ow)
            acc: dict = {}
            for s, t2, f2 in frac:
                acc[t2] = acc.get(t2, 0.0) + pr[s] * f2
            pr = {
                n: base + damping * (acc.get(n, 0.0) + dm / n_v) for n in nodes
            }
        out_df = _ranks_df(edges.sparkSession, pr, e.schema["s"].dataType)
        return out_df.select("n", F.round("pr", 6).alias("pr"))
    outw = e.groupBy("s").agg(F.sum("w").alias("ow"))
    norm = (
        e.join(outw, "s")
        .select("s", "t", (F.col("w") / F.col("ow")).alias("frac"))
        .repartition("s")
        .persist()
    )
    # the dangling flag (no out-edge) is a static node property: resolve it
    # ONCE into the node table instead of re-running a distinct + anti-join
    # against the edge table every iteration — the per-round dangling mass
    # becomes a filter-aggregate over the (checkpointed) rank table itself
    srcs = norm.select(F.col("s").alias("n")).dropDuplicates()
    nodes = (
        e.select(F.col("s").alias("n"))
        .unionAll(e.select(F.col("t").alias("n")))
        .dropDuplicates()
        .join(srcs.withColumn("_ho", F.lit(1)), "n", "left")
        .select("n", F.col("_ho").isNull().alias("dang"))
        .localCheckpoint(eager=True)
    )
    n_v = nodes.count()
    if not n_v:
        norm.unpersist()
        e.unpersist()
        return _ranks_df(edges.sparkSession, {}, e.schema["s"].dataType).select("n", "pr")
    base = (1.0 - damping) / n_v
    ranks = nodes.withColumn("pr", F.lit(1.0 / n_v))
    for _ in range(n_iter):
        dang = ranks.filter(F.col("dang")).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm")
        )
        inflow = (
            norm.join(ranks.select(F.col("n").alias("s"), "pr"), "s")
            .groupBy(F.col("t").alias("n"))
            .agg(F.sum(F.col("pr") * F.col("frac")).alias("c"))
        )
        ranks = (
            ranks.select("n", "dang")
            .join(inflow, "n", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "n",
                "dang",
                (
                    F.lit(base)
                    + damping
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / n_v)
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    norm.unpersist()
    e.unpersist()
    return ranks.select("n", F.round("pr", 6).alias("pr"))

def hits(
    edges: DataFrame,
    n_iter: int = 10,
    src: str = "src_host",
    dst: str = "dst_host",
) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores over a directed edge list.
    Returns ``(n, hub, auth)``, both rounded 6 d.p.

    Per iteration: auth(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} auth(v),
    each L1-normalized. Scores are rounded to 12 d.p. after every
    normalization — the global-sum normalizer is the one place engine
    summation order could drift, and 12 d.p. is far below any real score
    separation while far above the ~1e-14 accumulated ulp drift, so the
    DuckDB oracle reproduces every iteration bit-for-bit after rounding.

    Scale shape: identical to :func:`pagerank_directed` — the edge table is
    partitioned once and persisted, per iteration only the |V|-row score
    table shuffles, normalizers are broadcast single-row aggregates, and
    scores are localCheckpoint-ed so the plan stays flat.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .dropDuplicates()
        .repartition("s")
        .persist()
    )
    nodes = (
        e.select(F.col("s").alias("n"))
        .unionAll(e.select(F.col("t").alias("n")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n_v = nodes.count()
    scores = nodes.select(
        "n", F.lit(1.0 / n_v).alias("hub"), F.lit(1.0 / n_v).alias("auth")
    )

    def _norm(df, col):
        tot = df.agg(F.sum(col).alias("_tot"))
        return (
            df.crossJoin(F.broadcast(tot))
            .withColumn(col, F.round(F.col(col) / F.col("_tot"), 12))
            .drop("_tot")
        )

    for _ in range(n_iter):
        auth = (
            e.join(scores.select(F.col("n").alias("s"), "hub"), "s")
            .groupBy(F.col("t").alias("n"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = _norm(
            nodes.join(auth, "n", "left").fillna(0.0, ["auth"]), "auth"
        ).localCheckpoint(eager=True)
        hub = (
            e.join(auth.select(F.col("n").alias("t"), "auth"), "t")
            .groupBy(F.col("s").alias("n"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = _norm(nodes.join(hub, "n", "left").fillna(0.0, ["hub"]), "hub")
        scores = (
            hub.join(auth, "n").select("n", "hub", "auth").localCheckpoint(eager=True)
        )
    e.unpersist()
    return scores.select(
        "n", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )

def _md5_long(col) -> "F.Column":
    """First 8 hex chars of md5 as a non-negative BIGINT — the cross-engine
    deterministic hash (DuckDB: ('0x' || substr(md5(x),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def random_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 2,
    seed: int = 7,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic "random" walks over a directed edge list — the corpus
    generator for graph-embedding training (DeepWalk / node2vec with
    p = q = 1): from every node with out-edges, ``walks_per_node`` walks of
    up to ``walk_len`` steps; the walker at ``node`` on step ``t`` moves to
    out-neighbor index ``md5(seed|start|walk_no|t|node) % outdeg(node)``
    with neighbors ordered by name. md5 replaces an RNG so the walk corpus
    is reproducible run-to-run, engine-to-engine (the DuckDB oracle
    reproduces every hop), and resume-safe — the same properties
    textops.hash_split buys over randomSplit. Walks stop early at sinks.
    Returns one row per visited position: ``(start, walk_no, step, node)``.

    Scale shape: the indexed neighbor table and the degree table are built
    once and persisted; each step is two narrow equi-joins keyed on the
    current node — frontier size never exceeds |starts|·walks_per_node, and
    hot nodes are join KEYS (AQE skew split), never window partitions. The
    neighbor index itself is also window-free: a per-source window would
    make a 10M-out-degree hub ONE task's sort, so instead the (s, t) global
    rank is computed with the range-partition + per-partition row_number +
    broadcast cumulative-offset pattern (same as er.py sorted_neighborhood)
    and the per-source 0-based index is rank − min(rank) over s — rows of
    one source are contiguous in (s, t) order, so the difference IS the
    neighbor index; the min is a partial-aggregated groupBy, never a sort.
    """
    from sparkrdf.er import global_rank

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).dropDuplicates()
    ranked = global_rank(e, ["s", "t"])
    nbr = (
        ranked.join(ranked.groupBy("s").agg(F.min("_gr").alias("_g0")), "s")
        .select("s", "t", (F.col("_gr") - F.col("_g0")).cast("int").alias("idx"))
        .repartition("s")
        .persist()
    )
    deg = nbr.groupBy("s").agg(F.count("*").alias("dg"))
    starts = deg.select(F.col("s").alias("start")).crossJoin(
        F.broadcast(
            e.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("walk_no")
            )
        )
    )
    cur = starts.select(
        "start", "walk_no", F.lit(0).alias("step"), F.col("start").alias("node")
    ).localCheckpoint(eager=True)
    out = cur
    for t in range(walk_len):
        h = _md5_long(
            F.concat_ws(
                "|",
                F.lit(str(seed)),
                F.col("start"),
                F.col("walk_no").cast("string"),
                F.lit(str(t)),
                F.col("node"),
            )
        )
        stepped = (
            cur.join(deg.withColumnRenamed("s", "node"), "node")
            .select("start", "walk_no", (h % F.col("dg")).alias("idx"), "node")
            .join(
                nbr.select(
                    F.col("s").alias("node"), F.col("idx"), F.col("t").alias("nxt")
                ),
                ["node", "idx"],
            )
            .select(
                "start",
                "walk_no",
                F.lit(t + 1).alias("step"),
                F.col("nxt").alias("node"),
            )
            .localCheckpoint(eager=True)
        )
        cur = stepped
        out = out.unionByName(cur)
    nbr.unpersist()
    return out

def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pairs from a random-walk corpus — the
    training examples DeepWalk/node2vec feed a word2vec objective: within
    one walk, every ordered pair of positions at distance 1..window.
    Input is :func:`random_walks` output ``(start, walk_no, step, node)``;
    returns ``(center, context, n)`` with pair multiplicity aggregated.

    Scale shape: one self-join keyed on the walk identity (start, walk_no)
    — work bounded by walk_len·window per walk, never corpus² — and one
    hash aggregate with map-side partials.
    """
    a, b = walks.alias("a"), walks.alias("b")
    d = F.abs(F.col("a.step") - F.col("b.step"))
    return (
        a.join(
            b,
            (F.col("a.start") == F.col("b.start"))
            & (F.col("a.walk_no") == F.col("b.walk_no"))
            & (d > 0)
            & (d <= window),
        )
        .groupBy(
            F.col("a.node").alias("center"), F.col("b.node").alias("context")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


def negative_samples(
    pairs: DataFrame, vocab: DataFrame, k: int = 2, seed: int = 7
) -> DataFrame:
    """Deterministic negative sampling for skip-gram training: for each
    (center, context) pair, ``k`` negatives drawn uniformly from ``vocab``
    (a one-column node table) by hashed index —
    ``md5(seed|center|context|j) % |vocab|`` over the name-sorted vocab.
    md5 replaces the RNG for the same reasons as :func:`random_walks`
    (reproducible engine-to-engine, resume-safe). Accidental positives are
    KEPT, matching standard word2vec practice (exclusion would make the
    sample count data-dependent). Returns ``(center, context, j, negative)``.

    Scale shape: the vocab index is a window over the VOCAB table only —
    the small dimension by construction (hosts/entities, not the corpus) —
    broadcast into a map-only join against the pair stream; the pair table
    itself never shuffles.
    """
    n_vocab = vocab.count()
    w = Window.orderBy(vocab.columns[0])
    indexed = vocab.select(
        (F.row_number().over(w) - 1).alias("_idx"),
        F.col(vocab.columns[0]).alias("negative"),
    )
    samples = pairs.select("center", "context").crossJoin(
        F.broadcast(
            pairs.sparkSession.range(k).select(F.col("id").cast("int").alias("j"))
        )
    )
    idx = _md5_long(
        F.concat_ws(
            "|",
            F.lit(str(seed)),
            F.col("center"),
            F.col("context"),
            F.col("j").cast("string"),
        )
    ) % F.lit(n_vocab)
    return samples.withColumn("_idx", idx).join(
        F.broadcast(indexed), "_idx"
    ).select("center", "context", "j", "negative")


def predicate_profile(
    triples: DataFrame, s_col: str = "s", p_col: str = "p", o_col: str = "o"
) -> DataFrame:
    """Schema induction: per-predicate usage statistics over a triple table.

    The ontology-profiling step of KG construction — after extraction the
    predicate vocabulary is open-ended, and downstream modeling (PGT
    collapse rules, edge-definition generation, index choice) needs to know
    each predicate's shape. Returns per predicate:

    - ``n_triples``   — distinct (s,o) assertions using it;
    - ``n_subj``/``n_obj`` — distinct subjects / objects it connects;
    - ``max_fanout``  — the largest per-subject out-degree under it;
    - ``functional``  — true iff every subject has exactly one object
      (``max_fanout == 1``) — the OWL FunctionalProperty signal that
      decides scalar-vs-array property collapse in the PGT mapping.

    Scale shape: one (p,s)-keyed count aggregate (map-side partials) feeds
    n_subj / n_triples / max_fanout in a single second-stage aggregate per
    predicate; n_obj is one more distinct-aggregate keyed (p,o). Nothing
    ever groups by the bare predicate over raw triples — predicate keys are
    Zipf-hot, so both aggregates keep the subject/object in the key until
    the row stream is already predicate-sized.
    """
    t = triples.select(
        F.col(s_col).alias("s"), F.col(p_col).alias("p"), F.col(o_col).alias("o")
    ).dropDuplicates()
    per_ps = t.groupBy("p", "s").agg(F.count("*").cast("long").alias("fan"))
    subj_side = per_ps.groupBy("p").agg(
        F.sum("fan").cast("long").alias("n_triples"),
        F.count("*").cast("long").alias("n_subj"),
        F.max("fan").cast("long").alias("max_fanout"),
    )
    obj_side = (
        t.select("p", "o")
        .dropDuplicates()
        .groupBy("p")
        .agg(F.count("*").cast("long").alias("n_obj"))
    )
    return subj_side.join(obj_side, "p").select(
        "p",
        "n_triples",
        "n_subj",
        "n_obj",
        "max_fanout",
        (F.col("max_fanout") == 1).alias("functional"),
    )


def corrupt_triples(
    triples: DataFrame,
    k: int = 2,
    seed: int = 11,
    filtered: bool = True,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
    assume_distinct: bool = False,
) -> DataFrame:
    """KG-embedding negative generation: deterministic corrupted triples.

    The training-data step every TransE-family embedding run needs
    (Bordes et al. 2013): per positive ``(s, p, o)`` emit ``k`` corruptions
    that replace the subject (even ``j``) or the object (odd ``j``) with a
    hashed-uniform draw from the entity vocabulary —
    ``md5(seed|s|p|o|j) % |entities|`` over the name-sorted entity index,
    the same RNG-free discipline as :func:`negative_samples` (reproducible
    engine-to-engine, resume-safe, no data-dependent sample counts at the
    draw stage). With ``filtered=True`` (the standard "filtered" protocol),
    corruptions that happen to be TRUE triples — including draws that
    reproduce the original entity — are anti-joined away so the model is
    never trained to score a real fact as negative.

    Returns ``(s, p, o, j, cs, co)``: the positive, the draw index, and the
    corrupted triple ``(cs, p, co)``.

    Scale shape: the entity index is a window over the VOCAB only (entities,
    not assertions) and broadcasts into a map-only join against the triple
    stream; the filter is one anti-join keyed on the corrupted triple —
    both sides triple-sized, no self-join amplification beyond ×k. The
    deduped positives are materialized ONCE (eager localCheckpoint): the
    vocab derivation, the candidate stream and the filter's positive side
    all reference them, so an unmaterialized input — typically a whole
    extraction subtree, not a base table — would re-execute per reference.
    ``assume_distinct=True`` skips the dedup+barrier for callers (e.g.
    :func:`lp_rank_eval`) that pass an already-materialized distinct table.
    """
    t = triples.select(
        F.col(s_col).alias("s"), F.col(p_col).alias("p"), F.col(o_col).alias("o")
    )
    if not assume_distinct:
        t = t.dropDuplicates().localCheckpoint(eager=True)
    vocab = t.select(F.col("s").alias("n")).unionAll(
        t.select(F.col("o").alias("n"))
    ).dropDuplicates()
    n_vocab = vocab.count()
    w = Window.orderBy("n")
    indexed = vocab.select(
        (F.row_number().over(w) - 1).alias("_idx"), F.col("n").alias("draw")
    )
    samples = t.crossJoin(
        F.broadcast(
            t.sparkSession.range(k).select(F.col("id").cast("int").alias("j"))
        )
    )
    idx = _md5_long(
        F.concat_ws(
            "|",
            F.lit(str(seed)),
            F.col("s"),
            F.col("p"),
            F.col("o"),
            F.col("j").cast("string"),
        )
    ) % F.lit(n_vocab)
    cand = (
        samples.withColumn("_idx", idx)
        .join(F.broadcast(indexed), "_idx")
        .select(
            "s",
            "p",
            "o",
            "j",
            F.when(F.col("j") % 2 == 0, F.col("draw")).otherwise(F.col("s")).alias("cs"),
            F.when(F.col("j") % 2 == 1, F.col("draw")).otherwise(F.col("o")).alias("co"),
        )
    )
    if not filtered:
        return cand
    pos = t.select(
        F.col("s").alias("cs"), F.col("p").alias("p"), F.col("o").alias("co")
    )
    return cand.join(pos, ["cs", "p", "co"], "left_anti")


def _count_labels(nbrs: list, lab: dict) -> dict:
    cnt: dict = {}
    for v in nbrs:
        lv = lab[v]
        cnt[lv] = cnt.get(lv, 0) + 1
    return cnt


def label_propagation(
    edges: DataFrame, iters: int = 4, src: str = "u", dst: str = "v",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007), made deterministic: every node starts labeled
    with its own id; each round it adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label (the async/random-order
    variants of LPA are irreproducible run-to-run — useless for a pipeline
    whose outputs must be diffable between crawls). A fixed ``iters`` keeps
    the job shape static; sync LPA on near-bipartite structures can
    oscillate rather than converge, so a fixed cutoff is the standard
    remedy. Returns ``(n, label)`` for every node with at least one edge.

    Scale shape: per round, one edge-sized join (neighbor labels) into a
    map-side-combinable ``(n, label)`` count and a node-sized row_number
    window — the edge table is deduped + both-directions once up front and
    reused; labels are checkpointed per round so lineage stays O(1).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    und0 = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).dropDuplicates().localCheckpoint(eager=True)
    # Synchronous LPA with the min-label tie-break is pure integer counting
    # over strings — the driver loop is bit-identical to the distributed
    # rounds.
    rows = collect_if_small(und0)
    if rows is not None:
        adj: dict = {}
        for r in rows:
            adj.setdefault(r["u"], []).append(r["v"])
        lab = {n: n for n in adj}
        for _ in range(iters):
            lab = {
                u: min(
                    _count_labels(nbrs, lab).items(),
                    key=lambda kv: (-kv[1], kv[0]),
                )[0]
                for u, nbrs in adj.items()
            }
        idt = und0.schema["u"].dataType
        return local_rows_df(
            edges.sparkSession, sorted(lab.items()), [("n", idt), ("label", idt)]
        )
    und = und0.repartition("v").localCheckpoint(eager=True)
    und0.unpersist()
    labels = und.select(F.col("u").alias("n")).dropDuplicates().select(
        "n", F.col("n").alias("lbl")
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("n").orderBy(F.col("c").desc(), F.col("lbl").asc())
    for i in range(iters):
        nbr = und.join(labels, und["v"] == labels["n"]).select(
            und["u"].alias("n"), "lbl"
        )
        counts = nbr.groupBy("n", "lbl").agg(F.count("*").alias("c"))
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("n", "lbl")
        )
        # each round consumes the previous labels exactly once, so a
        # two-round lineage between barriers recomputes nothing — same
        # shuffles, half the materialization jobs
        if i % 2 == 1 or i == iters - 1:
            labels = labels.localCheckpoint(eager=True)
    und.unpersist()
    return labels.select("n", F.col("lbl").alias("label"))


def adamic_adar(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-overlap link prediction over an undirected graph: for
    every NON-adjacent node pair sharing at least one neighbor, the three
    classic heuristics — common-neighbor count, Jaccard overlap, and
    Adamic–Adar (Σ 1/ln(deg(z)) over shared neighbors z, the inverse-
    log-frequency weighting that makes rare shared neighbors count more).
    The candidate generator for KG edge completion: score the pairs, rank,
    propose. Returns ``(u, v, common, jaccard, aa)`` with ``u < v``.

    Scale shape: wedges are generated per CENTER node (two adjacency rows
    sharing their center), so work is Σ deg(z)² — the classic hub blowup.
    ``max_neighbor_degree`` caps it by dropping super-hub centers (standard
    practice: a node linked by half the web says nothing about relatedness
    anyway, and the cap turns a quadratic tail into a constant). Degrees
    are computed once; the existing-edge filter is one anti-join on the
    ordered pair.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .dropDuplicates()
    )
    adj = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy(F.col("u").alias("n")).agg(F.count("*").cast("long").alias("d"))
    centers = adj.join(deg, adj["u"] == deg["n"]).select(
        F.col("u").alias("z"), F.col("v").alias("nb"), "d"
    )
    if max_neighbor_degree is not None:
        centers = centers.filter(F.col("d") <= max_neighbor_degree)
    a, b = centers.alias("a"), centers.alias("b")
    pairs = a.join(
        b, (F.col("a.z") == F.col("b.z")) & (F.col("a.nb") < F.col("b.nb"))
    ).select(
        F.col("a.nb").alias("u"), F.col("b.nb").alias("v"), F.col("a.d").alias("dz")
    )
    scored = pairs.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("common"),
        F.sum(F.lit(1.0) / F.log(F.col("dz"))).alias("_aa"),
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("_dv"))
    return (
        scored.join(e, ["u", "v"], "left_anti")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.round(
                F.col("common") / (F.col("_du") + F.col("_dv") - F.col("common")), 9
            ).alias("jaccard"),
            F.round(F.col("_aa"), 9).alias("aa"),
        )
    )


def quotient_graph(
    triples: DataFrame,
    groups: DataFrame,
    default_group: str = "_ungrouped",
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
) -> DataFrame:
    """Graph summarization: collapse nodes into groups (``groups``: ``(n,
    g)``, e.g. each node's class) and roll the triple stream up to one row
    per ``(source group, predicate, object group)`` — the quotient graph,
    with triple count and distinct endpoint counts. This is the
    "ontology-level schema diagram" induced from instance data: Documents
    --mentions--> Tech, 1.2M assertions, 800k distinct docs. Nodes missing
    from ``groups`` land in ``default_group`` instead of silently dropping
    their assertions.

    Scale shape: two subject/object-keyed left joins (the group map is
    |V|-sized — broadcast it upstream if the vocabulary is small) and one
    hash aggregate on the group triple; distinct endpoint counts ride the
    same aggregate via the expand-and-count-distinct path. Output is
    schema-bounded (groups² × predicates), never data-sized.
    """
    g = groups.select(F.col(groups.columns[0]).alias("n"), F.col(groups.columns[1]).alias("g"))
    t = triples.select(
        F.col(s_col).alias("s"), F.col(p_col).alias("p"), F.col(o_col).alias("o")
    )
    sg = g.select(F.col("n").alias("s"), F.col("g").alias("_sg"))
    og = g.select(F.col("n").alias("o"), F.col("g").alias("_og"))
    return (
        t.join(sg, "s", "left")
        .join(og, "o", "left")
        .select(
            F.coalesce(F.col("_sg"), F.lit(default_group)).alias("src_group"),
            "p",
            F.coalesce(F.col("_og"), F.lit(default_group)).alias("dst_group"),
            "s",
            "o",
        )
        .groupBy("src_group", "p", "dst_group")
        .agg(
            F.count("*").cast("long").alias("n_triples"),
            F.countDistinct("s").cast("long").alias("n_src"),
            F.countDistinct("o").cast("long").alias("n_dst"),
        )
    )


def bisim_signatures(
    triples: DataFrame,
    k: int = 3,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
) -> DataFrame:
    """k-bisimulation structural signatures (Kaushik et al. 2002's index
    graphs; Schätzle et al. 2013 for the distributed formulation): every
    node gets a hash that is equal iff the nodes are indistinguishable by
    any outgoing path of length ≤ k — the structure-index / graph-
    summarization refinement that characteristic sets only approximate at
    depth 1. Returns ``(n, sig)``; grouping by ``sig`` yields the quotient
    blocks.

    Round r+1 hashes the node's own round-r signature together with the
    SORTED DISTINCT multiset of ``(predicate, neighbor round-r signature)``
    tokens — sorting makes the fold order-independent, hashing keeps the
    signature fixed-width however wide the node's neighborhood grows
    (the naive string concatenation explodes exponentially in k).

    Scale shape: per round, one object-keyed join (neighbor signatures),
    one subject-keyed map-side-combinable ``collect_set`` aggregate, one
    node-sized left join — all hash-partitioned on uniform keys; signatures
    are checkpointed per round so lineage stays O(1). Signature width is a
    constant 32 bytes regardless of k.
    """
    t = triples.select(
        F.col(s_col).alias("s"), F.col(p_col).alias("p"), F.col(o_col).alias("o")
    ).dropDuplicates()
    nodes = (
        t.select(F.col("s").alias("n"))
        .unionAll(t.select(F.col("o").alias("n")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    sig = nodes.select("n", F.md5(F.lit("")).alias("sig"))
    for _ in range(k):
        nbr = t.join(
            sig.select(F.col("n").alias("o"), F.col("sig").alias("_os")), "o"
        ).select("s", F.concat_ws("|", "p", "_os").alias("tok"))
        msg = nbr.groupBy(F.col("s").alias("n")).agg(
            F.concat_ws(",", F.sort_array(F.collect_set("tok"))).alias("_msg")
        )
        sig = (
            sig.join(msg, "n", "left")
            .select(
                "n",
                F.md5(
                    F.concat_ws("#", F.col("sig"), F.coalesce(F.col("_msg"), F.lit("")))
                ).alias("sig"),
            )
            .localCheckpoint(eager=True)
        )
    return sig


def sssp_bounded(
    edges: DataFrame,
    source: str,
    k: int = 6,
    src: str = "u",
    dst: str = "v",
    w_col: str = "w",
) -> DataFrame:
    """Bounded single-source shortest paths over a weighted directed graph:
    ``k`` synchronous Bellman–Ford relaxation rounds from ``source``,
    returning ``(n, dist)`` — the minimum total weight over any path of at
    most ``k`` edges. The weighted companion to :func:`sparkrdf.query.khop`
    (hop counts): link-cost routing, taxonomy distance, influence radius.
    A fixed ``k`` keeps the job shape static and is exact whenever the
    graph's weighted shortest paths use ≤ k edges (negative edges are
    rejected — with them "bounded" and "shortest" diverge silently).

    Scale shape: per round, one frontier-sized join against the static
    edge table (repartitioned once on the source key and reused) and one
    min-aggregate, map-side combinable; distances are checkpointed per
    round so lineage stays O(1). No |V|² anything — work is Σ deg over the
    reached set per round.
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t"), F.col(w_col).cast("double").alias("w")
    )
    if e.filter(F.col("w") < 0).limit(1).count() > 0:
        raise ValueError("sssp_bounded requires non-negative edge weights")
    e = e.repartition("s").persist()
    spark = edges.sparkSession
    dist = local_rows_df(spark, [(source, 0.0)], "n string, dist double").localCheckpoint(
        eager=True
    )
    for _ in range(k):
        relaxed = e.join(dist, e["s"] == dist["n"]).select(
            F.col("t").alias("n"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("n")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return dist


def lp_rank_eval(
    triples: DataFrame,
    k: int = 10,
    seed: int = 11,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
) -> DataFrame:
    """Link-prediction ranking evaluation under the filtered protocol
    (Bordes et al. 2013): per positive triple, generate ``k`` deterministic
    corruptions (:func:`corrupt_triples`), score every candidate with the
    popularity baseline — subject-degree(head) + object-degree(tail), the
    standard sanity floor any learned KG-embedding model must beat — and
    return the positive's rank among its own candidate set. MRR / Hits@N
    are one aggregation away; emitting per-triple ranks keeps the output
    deterministic and auditable (which positives are "easy" for a
    popularity model = which facts carry no structural signal).

    Rank uses a total order — (score DESC, head ASC, tail ASC) — so ties
    cannot make the result run-dependent. Returns ``(s, p, o, score, rank,
    n_cand)``; ``n_cand`` counts the surviving (filtered) corruptions + 1.

    Scale shape: degree tables are entity-sized aggregates joined twice
    into the ×k candidate stream (the only triple-stream-sized work); the
    rank is a map-side-combinable conditional count grouped back on the
    positive key. Nothing quadratic; cost is O(k·|T|). The deduped
    positives are materialized ONCE (eager localCheckpoint) — the corrupt
    stream, both degree tables and the scored-positive side all reference
    them (seven scans of the upstream extraction subtree without the
    barrier; measured 140 exchanges on the co-mention bench query).
    """
    t = (
        triples.select(
            F.col(s_col).alias("s"), F.col(p_col).alias("p"), F.col(o_col).alias("o")
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    neg = corrupt_triples(t, k=k, seed=seed, filtered=True, assume_distinct=True)
    sdeg = t.groupBy(F.col("s").alias("e")).agg(F.count("*").cast("long").alias("_sd"))
    odeg = t.groupBy(F.col("o").alias("e")).agg(F.count("*").cast("long").alias("_od"))

    def scored(df, head, tail, out):
        return (
            df.join(sdeg.withColumnRenamed("e", head), head, "left")
            .join(odeg.withColumnRenamed("e", tail), tail, "left")
            .withColumn(
                out,
                F.coalesce(F.col("_sd"), F.lit(0)) + F.coalesce(F.col("_od"), F.lit(0)),
            )
            .drop("_sd", "_od")
        )

    pos = scored(t, "s", "o", "score")
    cand = scored(neg, "cs", "co", "_cscore").select("s", "p", "o", "cs", "co", "_cscore")
    better = (
        (F.col("_cscore") > F.col("score"))
        | (
            (F.col("_cscore") == F.col("score"))
            & (
                (F.col("cs") < F.col("s"))
                | ((F.col("cs") == F.col("s")) & (F.col("co") < F.col("o")))
            )
        )
    )
    return (
        pos.join(cand, ["s", "p", "o"], "left")
        .groupBy("s", "p", "o", "score")
        .agg(
            (F.lit(1) + F.coalesce(F.sum(F.when(better, 1).otherwise(0)), F.lit(0)))
            .cast("long")
            .alias("rank"),
            (F.lit(1) + F.count("cs")).cast("long").alias("n_cand"),
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected graph:
    ``lcc(n) = 2·tri(n) / (deg(n)·(deg(n)−1))`` — the fraction of a node's
    neighbor pairs that are themselves connected (Watts & Strogatz), the
    standard "is this entity's neighborhood a clique or a star" profile
    for a constructed KG. Returns ``(n, deg, tri, lcc)`` for EVERY node,
    ``lcc = 0.0`` where ``deg < 2``.

    Scale shape: triangle counts come from :func:`triangles` (degree-
    oriented node-iterator++, per-vertex wedge work ≤ oriented out-degree
    ≤ √m — hub-proof), exploded to their three corners and counted; one
    narrow groupBy plus a left join against the degree table. No step
    touches a neighbor-pair blowup at an unoriented hub.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .dropDuplicates()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    tri = (
        triangles(e)
        .select(F.explode(F.array("a", "b", "c")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("tri"))
    )
    return (
        deg.join(tri, "n", "left")
        .select(
            "n",
            "deg",
            F.coalesce("tri", F.lit(0)).cast("long").alias("tri"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.coalesce("tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def reciprocity(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-source reciprocity over a DIRECTED graph: of node n's distinct
    out-edges, the fraction whose reverse edge also exists — the classic
    link-spam / mutual-citation signal on a host link graph (a farm that
    links everywhere but is never linked back scores 0). Returns
    ``(n, n_out, n_recip, reciprocity)``.

    Scale shape: one dropDuplicates exchange on the edge key, one
    self-equi-join on the reversed key (left_semi, so the probe output
    carries no payload), one groupBy on the source — every shuffle is on
    narrow string keys and AQE handles the Zipf-hot hosts.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    rev = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    mutual = e.join(rev, ["u", "v"], "left_semi")
    n_out = e.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("n_out")
    )
    n_rec = mutual.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("n_recip")
    )
    return (
        n_out.join(n_rec, "n", "left")
        .select(
            "n",
            "n_out",
            F.coalesce("n_recip", F.lit(0)).cast("long").alias("n_recip"),
            F.round(
                F.coalesce("n_recip", F.lit(0)) / F.col("n_out"), 9
            ).alias("reciprocity"),
        )
    )


def ktruss(
    edges: DataFrame, k: int, src: str = "u", dst: str = "v",
    max_rounds: int = 30,
) -> DataFrame:
    """k-truss decomposition (Cohen 2008): the maximal subgraph in which
    every edge participates in at least ``k - 2`` triangles — the standard
    "cohesive core" extractor, stricter than k-core because it demands
    mutual neighbors, not just degree. Input is an arbitrary directed/
    duplicated edge list; it is undirected and deduped first. Returns the
    surviving ``(u, v)`` pairs with ``u < v``.

    Algorithm: iterative support peel. Each round enumerates triangles with
    the degree-oriented node-iterator (:func:`triangles` — per-vertex wedge
    work bounded by oriented out-degree ≤ √m, Zipf-hub-proof), counts each
    edge's triangle support with one map-side-combinable aggregation, and
    drops edges below ``k - 2``. Dropping edges can break other edges'
    triangles, so the peel repeats until a fixpoint; the peeled set shrinks
    monotonically, so the loop terminates in ≤ |E| rounds (in practice a
    handful). Lineage is truncated per round (eager localCheckpoint) and
    convergence is an explicit count — if ``max_rounds`` is exhausted while
    still shrinking it RAISES rather than returning a non-truss.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    # Per-edge triangle support is |N(u) ∩ N(v)| over the deduped simple
    # graph — pure set arithmetic, bit-identical to the distributed
    # enumerate-and-count peel.
    rows = collect_if_small(e)
    if rows is not None:
        pairs = [(r["u"], r["v"]) for r in rows]
        for _ in range(max_rounds):
            nbr: dict = {}
            for u, v in pairs:
                nbr.setdefault(u, set()).add(v)
                nbr.setdefault(v, set()).add(u)
            kept = [
                (u, v) for u, v in pairs if len(nbr[u] & nbr[v]) >= k - 2
            ]
            if len(kept) == len(pairs):
                idt = e.schema["u"].dataType
                return local_rows_df(
                    edges.sparkSession, sorted(kept), [("u", idt), ("v", idt)]
                )
            pairs = kept
        raise RuntimeError(
            f"ktruss still peeling after {max_rounds} rounds (graph adversarially "
            "deep); raise max_rounds"
        )
    n = e.count()
    for _ in range(max_rounds):
        tri = triangles(e)
        sup = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .groupBy("u", "v")
            .agg(F.count("*").alias("sup"))
        )
        kept = (
            e.join(sup, ["u", "v"])
            .filter(F.col("sup") >= k - 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        m = kept.count()
        if m == n:
            return kept
        e, n = kept, m
    raise RuntimeError(
        f"ktruss still peeling after {max_rounds} rounds (graph adversarially "
        "deep); raise max_rounds"
    )


def assortativity(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the undirected edge list, each
    edge counted in both orientations (the standard symmetrization — the
    correlation is then over the "stub" joint degree distribution).
    Positive = hubs link hubs (social graphs), negative = hubs link leaves
    (the typical web/host topology). Returns one row
    ``(n_edges, assortativity)``; NULL when degrees have zero variance.

    Scale shape: degrees are one map-side-combinable aggregation over the
    doubled edge list; attaching them is two equi-joins on single node
    keys (AQE broadcast-converts the degree table when small — it is
    |V| rows); the correlation itself is a single whole-stage-codegen
    ``corr`` aggregate, no driver collect.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = both.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    j = (
        both.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    # Pearson from explicit moment sums instead of F.corr: ANSI mode makes
    # corr() raise divide-by-zero on a regular graph (zero degree
    # variance), where the spec'd answer is NULL. Moments in double — at
    # web scale Σ(du·dv) overflows BIGINT long before it loses precision
    # that survives the final 9-digit round.
    x, y = F.col("du").cast("double"), F.col("dv").cast("double")
    stats = j.agg(
        F.count("*").cast("double").alias("m"),
        F.sum(x * y).alias("sxy"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return stats.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(F.when(den != 0, num / den), 9).alias("assortativity"),
    )


def coreness(
    edges: DataFrame, src: str = "u", dst: str = "v", max_rounds: int = 50,
) -> DataFrame:
    """Full k-core decomposition: every node's core NUMBER (the largest k
    such that the node survives k-core peeling) — the standard cohesion
    ranking, one number per node where :func:`kcore` answers a fixed-k
    membership question. Returns ``(n, coreness)``.

    Algorithm: distributed h-index iteration (Lü et al., Nature Comms
    2016): initialize c(v) = degree(v); each round set c(v) to the
    H-index of its neighbors' current values (the largest h such that ≥ h
    neighbors have c ≥ h), computed as ``max(least(row_number, c))`` over
    the neighbor values sorted descending. The sequence is monotone
    non-increasing and provably converges to the core number — no global
    peeling order, every node updates locally, which is what makes it the
    distributed formulation of choice (peeling is inherently sequential).

    Scale shape: per round ONE join of the (static, checkpointed) doubled
    edge list against the |V|-row value table and one node-keyed window +
    aggregate — the shuffles carry node-sized tables except the edge join,
    whose partitioning on the neighbor key is reused every round.
    Convergence is an explicit changed-count; exhausting ``max_rounds``
    RAISES rather than returning non-converged numbers.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    both = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    # The h-index iteration is pure integer arithmetic (degrees, sorted
    # neighbor values, min/max) — the driver loop is bit-identical to the
    # distributed rounds, same convergence raise.
    rows = collect_if_small(both)
    if rows is not None:
        adj: dict = {}
        for r in rows:
            adj.setdefault(r["u"], []).append(r["v"])
        cv = {n: len(nbrs) for n, nbrs in adj.items()}
        for _ in range(max_rounds):
            new = {}
            for n, nbrs in adj.items():
                h = 0
                for i, val in enumerate(
                    sorted((cv[v] for v in nbrs), reverse=True), 1
                ):
                    m = i if i < val else val
                    if m > h:
                        h = m
                new[n] = cv[n] if cv[n] < h else h
            changed = new != cv
            cv = new
            if not changed:
                return local_rows_df(
                    edges.sparkSession,
                    sorted(cv.items()),
                    [("n", both.schema["u"].dataType), ("coreness", IntegerType())],
                )
        raise RuntimeError(
            f"coreness h-index iteration not converged after {max_rounds} rounds"
        )
    c = (
        both.groupBy(F.col("u").alias("n"))
        .agg(F.count("*").cast("int").alias("c"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nb = both.join(c.select(F.col("n").alias("v"), F.col("c").alias("cv")), "v")
        w = Window.partitionBy("u").orderBy(F.col("cv").desc(), F.col("v"))
        h = (
            nb.select("u", F.least(F.row_number().over(w), F.col("cv")).alias("x"))
            .groupBy("u")
            .agg(F.max("x").alias("h"))
        )
        # the checkpointed frame carries BOTH the old and new value, so the
        # convergence probe is a filter over already-materialized blocks —
        # no separate old-vs-new shuffle join per round
        newc = (
            c.join(h.select(F.col("u").alias("n"), "h"), "n", "left")
            .select(
                "n",
                F.col("c").alias("_old"),
                F.least(F.col("c"), F.coalesce("h", F.lit(0))).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
        changed = newc.filter(F.col("c") != F.col("_old")).limit(1).count()
        c = newc.select("n", "c")
        if changed == 0:
            return c.select("n", F.col("c").alias("coreness"))
    raise RuntimeError(
        f"coreness h-index iteration not converged after {max_rounds} rounds"
    )


def _scc_local(edge_list) -> dict:
    """Exact SCCs of a small directed edge list on the driver — iterative
    Tarjan. Returns {node: min member id}. The fast-path companion of the
    distributed Forward-Backward-Trim loop below (same pattern as
    ``dedupe.connected_components``'s union-find path)."""
    from collections import defaultdict

    adj = defaultdict(list)
    nodes = set()
    for u, v in edge_list:
        adj[u].append(v)
        nodes.add(u)
        nodes.add(v)
    index: dict = {}
    low: dict = {}
    on: set = set()
    st: list = []
    comp: dict = {}
    cnt = 0
    for root in sorted(nodes):
        if root in index:
            continue
        index[root] = low[root] = cnt
        cnt += 1
        st.append(root)
        on.add(root)
        work = [(root, iter(adj.get(root, ())))]
        while work:
            node, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = cnt
                    cnt += 1
                    st.append(w)
                    on.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in on and index[w] < low[node]:
                    low[node] = index[w]
            if advanced:
                continue
            work.pop()
            if work and low[node] < low[work[-1][0]]:
                low[work[-1][0]] = low[node]
            if low[node] == index[node]:
                members = []
                while True:
                    x = st.pop()
                    on.discard(x)
                    members.append(x)
                    if x == node:
                        break
                m = min(members)
                for x in members:
                    comp[x] = m
    return comp


def scc(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 40,
    max_prop_iter: int = 40,
) -> DataFrame:
    """Strongly connected components of a directed graph → ``(n, scc)``
    with ``scc`` = MIN member id — the distributed Forward-Backward-Trim
    coloring algorithm (Slota-Rajamanickam-Madduri IPDPS 2014 family;
    the web graph's bow-tie decomposition runs on exactly this; the
    directed companion to the WCC gate).

    Per outer round over the still-unassigned subgraph:

    1. TRIM — a live node with no live in-edges or no live out-edges
       cannot sit in a non-trivial cycle: assign it as a singleton SCC.
       A few peeling passes remove the IN/OUT tendrils that are the
       vast majority of a real web graph.
    2. COLOR — propagate the MIN node id FORWARD to fixpoint:
       ``C(v)`` = min id among live nodes that can reach ``v``.
    3. COLLECT — each color class has exactly one root (``C(r) = r``,
       and r ∈ class r since C(r) ≤ r always and C(r) = r here); the
       members of r's SCC are precisely the class nodes that reach r
       BACKWARD over same-color edges (forward reachability from r is
       implied by the color). Assign them, remove them, repeat.

    Every class assigns at least its root per round, so the loop
    terminates; ``max_rounds``/``max_prop_iter`` exhaustion raises —
    never a silently wrong partial answer. Note ``max_rounds`` bounds the
    number of COLOR-CLASS GENERATIONS (worst case one class of the minimal
    live id collected per round — i.e. the SCC-DAG depth), not the graph
    diameter; ``max_prop_iter`` bounds the per-phase frontier iterations,
    which ARE O(diameter). Both raise loudly rather than truncate.

    Scale shape: every phase is a frontier join against an edge table
    repartitioned once per round and reused; label tables are
    localCheckpointed per iteration (O(1) lineage); nothing pairwise is
    ever materialized — per-iteration work is Σ deg over the live
    frontier, the same budget as one PageRank round. Every fixpoint probe
    reads the round's ALREADY-materialized checkpoint (count compare /
    filter over local blocks) — no candidate plan executes twice and no
    extra old-vs-new shuffle join exists anywhere in the loop (measured
    round 6: 293 → ~90 Spark jobs on the bench host graph).
    """
    e0 = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .dropDuplicates()
    )
    live_e = e0.localCheckpoint(eager=True)
    # The SCC labelling (n -> MIN member id) is algorithm-independent, so a
    # one-pass iterative Tarjan over the collected edge list is
    # byte-identical to the distributed loop at a fraction of the job count.
    rows = collect_if_small(live_e)
    if rows is not None:
        comp = _scc_local((r["s"], r["t"]) for r in rows)
        idt = live_e.schema["s"].dataType
        return local_rows_df(
            edges.sparkSession, sorted(comp.items()), [("n", idt), ("scc", idt)]
        )
    live_n = (
        e0.select(F.col("s").alias("n"))
        .unionByName(e0.select(F.col("t").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_live = live_n.count()
    done: DataFrame | None = None

    def _accum(acc, new):
        return new if acc is None else acc.unionByName(new)

    empty = live_n.select("n", F.col("n").alias("scc")).limit(0)
    for _ in range(max_rounds):
        if n_live == 0:
            return (done if done is not None else empty).localCheckpoint(
                eager=True
            )

        # 1. TRIM to (bounded) fixpoint: one flag aggregate finds the nodes
        # with BOTH a live in-edge and a live out-edge (everything else is a
        # singleton SCC); convergence reads the checkpointed keep-set count.
        for _ in range(3):
            keep = (
                live_e.select(F.col("t").alias("n"), F.lit(1).alias("_i"), F.lit(0).alias("_o"))
                .unionByName(
                    live_e.select(F.col("s").alias("n"), F.lit(0).alias("_i"), F.lit(1).alias("_o"))
                )
                .groupBy("n")
                .agg(F.max("_i").alias("_i"), F.max("_o").alias("_o"))
                .filter((F.col("_i") == 1) & (F.col("_o") == 1))
                .select("n")
                .localCheckpoint(eager=True)
            )
            n_keep = keep.count()
            if n_keep == n_live:
                break
            done = _accum(
                done,
                live_n.join(keep, "n", "left_anti").select(
                    "n", F.col("n").alias("scc")
                ),
            )
            live_n, n_live = keep, n_keep
            live_e = (
                live_e.join(keep.withColumnRenamed("n", "s"), "s", "left_semi")
                .join(keep.withColumnRenamed("n", "t"), "t", "left_semi")
                .localCheckpoint(eager=True)
            )
        if n_live == 0:
            return (done if done is not None else empty).localCheckpoint(
                eager=True
            )

        # 2. COLOR: forward min-label to fixpoint. The self rows carry the
        # previous label in `_old` (candidates carry null), so ONE aggregate
        # yields both the new minimum and the convergence signal — no
        # old-vs-new join (same idiom as dedupe.connected_components).
        lab = live_n.select("n", F.col("n").alias("c"))
        _c_type = lab.schema["c"].dataType
        for i in range(max_prop_iter + 1):
            cand = live_e.join(lab, live_e["s"] == lab["n"]).select(
                F.col("t").alias("n"), "c", F.lit(None).cast(_c_type).alias("_old")
            )
            new = (
                lab.select("n", "c", F.col("c").alias("_old"))
                .unionByName(cand)
                .groupBy("n")
                .agg(F.min("c").alias("c"), F.max("_old").alias("_old"))
                .localCheckpoint(eager=True)
            )
            changed = new.filter(F.col("c") != F.col("_old")).limit(1).count()
            lab = new.select("n", "c")
            if changed == 0:
                break
            if i == max_prop_iter:
                raise RuntimeError(
                    f"scc color propagation not converged in {max_prop_iter} iterations"
                )

        # 3. COLLECT: backward reachability from each class root over
        # same-color edges; the frontier union materializes ONCE per step
        # and convergence compares checkpointed counts.
        ce = (
            live_e.join(lab.withColumnRenamed("n", "s"), "s")
            .withColumnRenamed("c", "cs")
            .join(
                lab.withColumnRenamed("n", "t").withColumnRenamed("c", "ct"), "t"
            )
            .filter(F.col("cs") == F.col("ct"))
            .select("s", "t", F.col("cs").alias("c"))
            .localCheckpoint(eager=True)
        )
        reached = lab.filter(F.col("n") == F.col("c")).localCheckpoint(eager=True)
        n_reached = reached.count()
        for i in range(max_prop_iter + 1):
            cand = (
                ce.join(
                    reached,
                    (ce["t"] == reached["n"]) & (ce["c"] == reached["c"]),
                )
                .select(ce["s"].alias("n"), ce["c"].alias("c"))
                .join(reached, ["n", "c"], "left_anti")
                .distinct()
            )
            grown = reached.unionByName(cand).localCheckpoint(eager=True)
            n_grown = grown.count()
            if n_grown == n_reached:
                break
            reached, n_reached = grown, n_grown
            if i == max_prop_iter:
                raise RuntimeError(
                    f"scc backward reachability not converged in {max_prop_iter} iterations"
                )
        done = _accum(done, reached.select("n", F.col("c").alias("scc")))
        live_n = live_n.join(reached.select("n"), "n", "left_anti").localCheckpoint(
            eager=True
        )
        n_live = live_n.count()
        live_e = (
            live_e.join(live_n.withColumnRenamed("n", "s"), "s", "left_semi")
            .join(live_n.withColumnRenamed("n", "t"), "t", "left_semi")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(f"scc not converged after {max_rounds} rounds")


def _bfs_dists(adj: dict, source, max_t: int) -> dict:
    """Bounded BFS distances from ``source`` over an adjacency map —
    {node: dist} including dist 0 for the source itself."""
    dist = {source: 0}
    frontier = [source]
    for t in range(1, max_t + 1):
        nxt = []
        for b in frontier:
            for w in adj.get(b, ()):
                if w not in dist:
                    dist[w] = t
                    nxt.append(w)
        if not nxt:
            break
        frontier = nxt
    return dist


def neighborhood_function(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_t: int = 8,
    exact: bool = False,
    lg_k: int = 12,
) -> DataFrame:
    """Neighborhood function of a directed graph — ``(t, pairs)`` where
    ``pairs`` = number of ordered (a, b) pairs with dist(a → b) ≤ t, for
    t = 0..max_t — the basis of effective-diameter / distance-distribution
    measurement on web graphs (HyperANF/HyperBall, Boldi-Vigna WWW 2011).

    ``exact=False`` (the scale path) is HyperBall on Spark's DataSketches
    HLL builtins: each node carries one mergeable sketch of its radius-t
    ball, per round ONE edge join + one ``hll_union_agg`` — state is
    O(|V|·2^lg_k) bytes total regardless of how dense the balls get, and
    ``pairs`` is the summed sketch estimate (±~1.6%/√2^lg_k standard
    HLL error at the default lg_k=12 ⇒ ~2.5%). ``exact=True`` is the
    verification config: frontier BFS materializing every (a, b, dist)
    pair — exact but Σ|ball| memory, the config the DuckDB oracle and
    pytest pin the sketch path against (same two-mode discipline as
    sim_knn_join).

    The iteration stops early once a round adds nothing (every ball
    saturated), so max_t bounds but does not force work.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("n"))
        .unionByName(e.select(F.col("t").alias("n")))
        .distinct()
    )
    spark = edges.sparkSession
    if exact:
        # Pair counts per distance are pure-integer BFS — the driver loop is
        # bit-identical to the frontier join loop, including which t rows
        # appear (BFS exhaustion = empty round).
        rows = collect_if_small(e)
        if rows is not None:
            adj: dict = {}
            node_set: set = set()
            for r in rows:
                adj.setdefault(r["s"], []).append(r["t"])
                node_set.add(r["s"])
                node_set.add(r["t"])
            per_d: dict = {}
            for a in node_set:
                for _b, d in _bfs_dists(adj, a, max_t).items():
                    per_d[d] = per_d.get(d, 0) + 1
            cum, out = 0, []
            for t in sorted(per_d):
                cum += per_d[t]
                out.append((t, cum))
            return local_rows_df(spark, out, "t int, pairs long")
        dist = nodes.select(
            F.col("n").alias("a"), F.col("n").alias("b"), F.lit(0).alias("d")
        ).localCheckpoint(eager=True)
        frontier = dist
        for t in range(1, max_t + 1):
            nxt = (
                frontier.join(e, frontier["b"] == e["s"])
                .select("a", F.col("t").alias("b"))
                .distinct()
                .join(dist.select("a", "b"), ["a", "b"], "left_anti")
                .withColumn("d", F.lit(t))
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                break
            # every leaf of the union is an already-materialized checkpoint,
            # so the accumulated set needs no checkpoint of its own
            dist = dist.unionByName(nxt)
            frontier = nxt
        per_d = dist.groupBy("d").agg(F.count("*").alias("c"))
        w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
        return (
            per_d.select(
                F.col("d").alias("t"),
                F.sum("c").over(w).cast("long").alias("pairs"),
            )
            .orderBy("t")
        )
    # HyperBall: one sketch per node, grown by neighbor-union per round
    sk = nodes.groupBy("n").agg(F.hll_sketch_agg("n", F.lit(lg_k)).alias("sk"))
    sk = sk.localCheckpoint(eager=True)
    est = [
        sk.agg(F.sum(F.hll_sketch_estimate("sk")).cast("long").alias("p"))
        .collect()[0]["p"]
    ]
    for t in range(1, max_t + 1):
        nbr = e.join(sk, e["t"] == sk["n"]).select(F.col("s").alias("n"), "sk")
        new = (
            sk.unionByName(nbr)
            .groupBy("n")
            .agg(F.hll_union_agg("sk", F.lit(True)).alias("sk"))
            .localCheckpoint(eager=True)
        )
        p = new.agg(
            F.sum(F.hll_sketch_estimate("sk")).cast("long").alias("p")
        ).collect()[0]["p"]
        sk = new
        if p == est[-1]:
            break
        est.append(p)
    return local_rows_df(spark, enumerate(est), "t int, pairs long")


def harmonic_centrality(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_t: int = 8,
    exact: bool = False,
    lg_k: int = 12,
) -> DataFrame:
    """Harmonic centrality ``H(v) = Σ_{u≠v, d(u→v)<∞} 1/d(u → v)`` over
    incoming distances, depth-bounded at ``max_t`` — Boldi-Vigna's
    "Axioms for centrality" (2014) pick for web graphs (well-defined on
    disconnected graphs, unlike closeness).

    ``exact=False`` runs HyperBall on the REVERSED graph: per node one
    mergeable HLL sketch of the radius-t in-ball; the round-t increment
    ``(|B(v,t)| − |B(v,t−1)|)/t`` accumulates H(v) — O(|V|·2^lg_k)
    state, one edge join + ``hll_union_agg`` per round.  ``exact=True``
    materializes the in-distance pairs by frontier BFS (Σ|ball| memory)
    — the verification config the oracle and pytest pin the sketch
    path against. Returns ``(n, centrality)`` rounded to 6 places (the
    increment arithmetic is order-independent at that precision).
    """
    rev = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    if exact:
        # in-distances of v = out-distances on the reversed graph
        e = (
            rev.filter(F.col("u") != F.col("v"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        # Distances are exact integers; the driver's Σ 1/d accumulation
        # order differs from the distributed aggregation's — which the
        # 6-d.p. rounding absorbs by design (it already absorbs Spark's own
        # nondeterministic partial-agg order). Rounding stays Spark-side.
        rows = collect_if_small(e)
        if rows is not None:
            adj: dict = {}
            node_set: set = set()
            for r in rows:
                adj.setdefault(r["u"], []).append(r["v"])
                node_set.add(r["u"])
                node_set.add(r["v"])
            h = {}
            for a in node_set:
                acc = 0.0
                for _b, d in _bfs_dists(adj, a, max_t).items():
                    if d > 0:
                        acc += 1.0 / d
                h[a] = acc
            out_df = _ranks_df(
                edges.sparkSession, h, e.schema["u"].dataType, col="h"
            )
            return out_df.select("n", F.round("h", 6).alias("centrality"))
        nodes = (
            e.select(F.col("u").alias("n"))
            .unionByName(e.select(F.col("v").alias("n")))
            .distinct()
        )
        dist = nodes.select(
            F.col("n").alias("a"), F.col("n").alias("b"), F.lit(0).alias("d")
        ).localCheckpoint(eager=True)
        frontier = dist
        for t in range(1, max_t + 1):
            nxt = (
                frontier.join(e, frontier["b"] == e["u"])
                .select("a", F.col("v").alias("b"))
                .distinct()
                .join(dist.select("a", "b"), ["a", "b"], "left_anti")
                .withColumn("d", F.lit(t))
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                break
            # union of checkpointed leaves — no checkpoint of the set needed
            dist = dist.unionByName(nxt)
            frontier = nxt
        h = (
            dist.filter(F.col("d") > 0)
            .groupBy(F.col("a").alias("n"))
            .agg(F.sum(1.0 / F.col("d")).alias("h"))
        )
        # nodes nothing reaches score 0.0 (same contract as the sketch mode)
        return nodes.join(h, "n", "left").select(
            "n", F.round(F.coalesce(F.col("h"), F.lit(0.0)), 6).alias("centrality")
        )
    sk = (
        rev.select(F.col("u").alias("n"))
        .unionByName(rev.select(F.col("v").alias("n")))
        .distinct()
        .groupBy("n")
        .agg(F.hll_sketch_agg("n", F.lit(lg_k)).alias("sk"))
        .localCheckpoint(eager=True)
    )
    e = rev.filter(F.col("u") != F.col("v")).dropDuplicates().localCheckpoint(eager=True)
    acc = sk.select("n", F.hll_sketch_estimate("sk").alias("prev"),
                    F.lit(0.0).alias("h"))
    for t in range(1, max_t + 1):
        nbr = e.join(sk, e["v"] == sk["n"]).select(F.col("u").alias("n"), "sk")
        sk = (
            sk.unionByName(nbr)
            .groupBy("n")
            .agg(F.hll_union_agg("sk", F.lit(True)).alias("sk"))
            .localCheckpoint(eager=True)
        )
        cur = sk.select("n", F.hll_sketch_estimate("sk").alias("cur"))
        joined = acc.join(cur, "n").localCheckpoint(eager=True)
        grew = joined.filter(F.col("cur") > F.col("prev")).limit(1).count()
        acc = joined.select(
            "n",
            F.col("cur").alias("prev"),
            (F.col("h")
             + F.greatest(F.col("cur") - F.col("prev"), F.lit(0.0))
             / F.lit(float(t))).alias("h"),
        ).localCheckpoint(eager=True)
        if grew == 0:
            break
    return acc.select("n", F.round("h", 6).alias("centrality"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str | None = "n_links",
) -> DataFrame:
    """Personalized PageRank: random walks with restart into a SEED set
    instead of the uniform distribution — relevance of every node to a
    query/topic/entity set (the standard KG-recommendation and
    related-entity primitive; Haveliwala's topic-sensitive PageRank).

        pr'(v) = (1-d)·tele(v) + d·( Σ_{u→v} pr(u)·w/outw(u) + D·tele(v) )

    with tele uniform over the seeds and D the dangling mass — dangling
    walks restart AT THE SEEDS, so all rank stays inside the seed-reachable
    region and nodes the seeds cannot reach score exactly 0.

    Scale shape identical to :func:`pagerank_directed` (one persisted
    normalized edge table, |V|-row rank shuffle per round, broadcast
    1-row dangling aggregate, localCheckpoint per round); the seed table
    is dimension-sized and broadcast into the teleport join.
    """
    cols = [F.col(src).alias("s"), F.col(dst).alias("t")]
    cols.append((F.col(weight) if weight else F.lit(1)).cast("double").alias("w"))
    e = edges.select(*cols)
    e = e.persist()
    # driver loop — see pagerank() for the exactness argument (same
    # per-edge arithmetic, 6-d.p. rounding stays Spark-side)
    rows = collect_if_small(e)
    if rows is not None:
        e.unpersist()
        ow, nodes, frac = _weighted_out_edges(rows)
        sd_set = {
            r[0]
            for r in seeds.select(seeds.columns[0]).dropDuplicates().collect()
        } & nodes
        sd_set.discard(None)  # the seed semi-join never matches NULL
        n_s = len(sd_set)
        if n_s == 0:
            raise ValueError("personalized_pagerank: no seed is a graph node")
        tl = {n: (1.0 / n_s if n in sd_set else 0.0) for n in nodes}
        pr = dict(tl)
        for _ in range(n_iter):
            dm = sum(pr[n] for n in nodes if n not in ow)
            acc: dict = {}
            for s, t2, f2 in frac:
                acc[t2] = acc.get(t2, 0.0) + pr[s] * f2
            pr = {
                n: (1.0 - damping) * tl[n]
                + damping * (acc.get(n, 0.0) + dm * tl[n])
                for n in nodes
            }
        out_df = _ranks_df(edges.sparkSession, pr, e.schema["s"].dataType)
        return out_df.select("n", F.round("pr", 6).alias("pr"))
    outw = e.groupBy("s").agg(F.sum("w").alias("ow"))
    norm = (
        e.join(outw, "s")
        .select("s", "t", (F.col("w") / F.col("ow")).alias("frac"))
        .repartition("s")
        .persist()
    )
    nodes = (
        e.select(F.col("s").alias("n"))
        .unionAll(e.select(F.col("t").alias("n")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    sd = seeds.select(F.col(seeds.columns[0]).alias("n")).dropDuplicates()
    sd = sd.join(nodes, "n", "left_semi")
    n_s = sd.count()
    if n_s == 0:
        raise ValueError("personalized_pagerank: no seed is a graph node")
    # teleport weight AND the (static) dangling flag resolve ONCE into the
    # rank table, which carries them through every checkpoint — the loop
    # then needs neither the per-round teleport join nor the distinct +
    # anti-join dangling probe of the edge table (both were pure overhead:
    # tele and dang are node properties, not per-iteration data)
    srcs = norm.select(F.col("s").alias("n")).dropDuplicates()
    state = (
        nodes.join(F.broadcast(sd.withColumn("_tl", F.lit(1.0 / n_s))), "n", "left")
        .join(srcs.withColumn("_ho", F.lit(1)), "n", "left")
        .select(
            "n",
            F.coalesce("_tl", F.lit(0.0)).alias("tl"),
            F.col("_ho").isNull().alias("dang"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = state.select("n", "tl", "dang", F.col("tl").alias("pr"))
    for _ in range(n_iter):
        dang = ranks.filter(F.col("dang")).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm")
        )
        inflow = (
            norm.join(ranks.select(F.col("n").alias("s"), "pr"), "s")
            .groupBy(F.col("t").alias("n"))
            .agg(F.sum(F.col("pr") * F.col("frac")).alias("c"))
        )
        ranks = (
            ranks.select("n", "tl", "dang")
            .join(inflow, "n", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "n",
                "tl",
                "dang",
                (
                    (1.0 - damping) * F.col("tl")
                    + damping
                    * (F.coalesce(F.col("c"), F.lit(0.0))
                       + F.col("dm") * F.col("tl"))
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    norm.unpersist()
    e.unpersist()
    return ranks.select("n", F.round("pr", 6).alias("pr"))


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 2,
    w_return: int = 1,
    w_common: int = 2,
    w_far: int = 1,
    seed: int = 7,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic node2vec walks (Grover-Leskovec KDD 2016): the
    second-order biased companion to :func:`random_walks`. At ``cur``
    having arrived from ``prev``, out-neighbor ``x`` is drawn with
    unnormalized INTEGER class weight

        w_return  if x = prev               (node2vec's 1/p)
        w_common  if edge prev→x exists     (distance 1 from prev)
        w_far     otherwise                 (node2vec's 1/q)

    i.e. p = w_common/w_return, q = w_common/w_far, expressed as exact
    integers so the cumulative-weight draw is integer arithmetic — no
    float summation order to diverge between engines; the DuckDB oracle
    reproduces every hop (same discipline as :func:`random_walks`). The
    first hop (no ``prev`` yet) is the uniform md5 draw. Walks stop at
    sinks. Returns ``(start, walk_no, step, node)``.

    Scale shape: per step the frontier joins the once-persisted neighbor
    index (Σ out-degree work per step — inherent to node2vec, which must
    weigh EVERY candidate), one broadcast-class left join against the
    edge set for the distance-1 test, then ONE cumulative-sum window
    partitioned per walk state. The window partition size equals the
    current node's out-degree — bounded by the graph's max out-degree
    (fine for host graphs; for 10^7-degree hubs pre-cap the neighbor
    lists, which is also what keeps Σ deg per step bounded).
    """
    for name, w in (("w_return", w_return), ("w_common", w_common),
                    ("w_far", w_far)):
        if not isinstance(w, int) or w < 0:
            raise ValueError(f"{name} must be a non-negative integer")
    if w_return + w_common + w_far == 0:
        raise ValueError("at least one class weight must be positive")
    from sparkrdf.er import global_rank

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).dropDuplicates()
    e = e.localCheckpoint(eager=True)
    # Every driver hop is integer md5 arithmetic over the t-sorted neighbor
    # index — bit-identical to the distributed cumulative-weight draw (the
    # walk is deterministic by construction).
    rows = collect_if_small(e)
    if rows is not None:
        adj: dict = {}
        edge_set: set = set()
        for r0 in rows:
            s0, t0 = r0["s"], r0["t"]
            # NULL never matches the neighbor-index or prev-edge joins: it
            # starts no walk and a walk that reaches it stops there
            if s0 is None:
                continue
            adj.setdefault(s0, []).append(t0)
            if t0 is not None:
                edge_set.add((s0, t0))
        for s0 in adj:
            adj[s0].sort(key=lambda x: (x is not None, x))  # NULLS FIRST
        out_rows = []
        cur = []
        for start in adj:
            for wn in range(walks_per_node):
                out_rows.append((start, wn, 0, start))
                if walk_len >= 1:
                    h0 = _md5_long_py(f"{seed}|{start}|{wn}|0|{start}")
                    nxt = adj[start][h0 % len(adj[start])]
                    out_rows.append((start, wn, 1, nxt))
                    cur.append((start, wn, start, nxt))
        for t in range(1, walk_len):
            nxt_cur = []
            for start, wn, prev, node in cur:
                nbrs = adj.get(node)
                if not nbrs:
                    continue  # sink: walk stops
                tot = 0
                ws = []
                for cx in nbrs:
                    if cx == prev:
                        w = w_return
                    elif (prev, cx) in edge_set:
                        w = w_common
                    else:
                        w = w_far
                    ws.append(w)
                    tot += w
                if tot == 0:
                    continue  # md5 % 0 is null in the distributed plan
                rr = _md5_long_py(
                    f"{seed}|{start}|{wn}|{t}|{prev}|{node}"
                ) % tot
                cum = 0
                for cx, w in zip(nbrs, ws):
                    cum += w
                    if rr < cum:
                        out_rows.append((start, wn, t + 1, cx))
                        nxt_cur.append((start, wn, node, cx))
                        break
            cur = nxt_cur
        idt = e.schema["s"].dataType
        return local_rows_df(
            edges.sparkSession,
            sorted(out_rows, key=nulls_first),
            [("start", idt), ("walk_no", IntegerType()),
             ("step", IntegerType()), ("node", idt)],
        )
    # neighbor index (window-free, same construction as random_walks)
    ranked = global_rank(e, ["s", "t"])
    idx = (
        ranked.join(ranked.groupBy("s").agg(F.min("_gr").alias("_g0")), "s")
        .select("s", "t", (F.col("_gr") - F.col("_g0")).cast("int").alias("idx"))
        .repartition("s")
        .persist()
    )
    deg = idx.groupBy("s").agg(F.count("*").alias("dg"))
    starts = deg.select(F.col("s").alias("start")).crossJoin(
        F.broadcast(
            e.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("walk_no")
            )
        )
    )
    out = starts.select(
        "start", "walk_no", F.lit(0).alias("step"), F.col("start").alias("node")
    ).localCheckpoint(eager=True)
    if walk_len < 1:
        return out
    # first hop: uniform (no prev), identical idiom to random_walks t=0
    h0 = _md5_long(
        F.concat_ws("|", F.lit(str(seed)), F.col("start"),
                    F.col("walk_no").cast("string"), F.lit("0"), F.col("node"))
    )
    cur = (
        out.join(deg.withColumnRenamed("s", "node"), "node")
        .select("start", "walk_no", (h0 % F.col("dg")).alias("idx"), "node")
        .join(idx.select(F.col("s").alias("node"), "idx",
                         F.col("t").alias("nxt")), ["node", "idx"])
        .select("start", "walk_no", F.lit(1).alias("step"),
                F.col("node").alias("prev"), F.col("nxt").alias("node"))
        .localCheckpoint(eager=True)
    )
    out = out.unionByName(cur.select("start", "walk_no", "step", "node"))
    prev_edge = e.select(F.col("s").alias("prev"), F.col("t").alias("cx"),
                         F.lit(1).alias("_pe"))
    win = Window.partitionBy("start", "walk_no").orderBy("idx")
    for t in range(1, walk_len):
        cand = (
            cur.join(idx.select(F.col("s").alias("node"), "idx",
                                F.col("t").alias("cx")), "node")
            .join(prev_edge, ["prev", "cx"], "left")
            .withColumn(
                "w",
                F.when(F.col("cx") == F.col("prev"), F.lit(w_return))
                .when(F.col("_pe").isNotNull(), F.lit(w_common))
                .otherwise(F.lit(w_far)),
            )
        )
        cand = cand.withColumn("cum", F.sum("w").over(win)).withColumn(
            "tot",
            F.sum("w").over(
                Window.partitionBy("start", "walk_no").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        r = _md5_long(
            F.concat_ws("|", F.lit(str(seed)), F.col("start"),
                        F.col("walk_no").cast("string"), F.lit(str(t)),
                        F.col("prev"), F.col("node"))
        ) % F.col("tot")
        cur = (
            cand.filter((r < F.col("cum")) & (r >= F.col("cum") - F.col("w")))
            .select("start", "walk_no", F.lit(t + 1).alias("step"),
                    F.col("node").alias("prev"), F.col("cx").alias("node"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(cur.select("start", "walk_no", "step", "node"))
    idx.unpersist()
    return out


def _md5_long_py(s: str) -> int:
    """Driver twin of :func:`_md5_long` — first 8 hex chars of md5 as int."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def betweenness(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_t: int = 4,
    source_mod: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Betweenness centrality by level-synchronous Brandes (Brandes 2001),
    depth-bounded at ``max_t`` and over a DETERMINISTIC source sample —
    ``(n, betweenness)`` where betweenness(v) = Σ over sampled sources a
    of the dependency δ_a(v) (directed; raw sums, scale by
    ``source_mod`` for the Brandes-Pich estimator).

    Forward phase: all sampled sources advance together, level by level —
    ``σ(a, b)`` (shortest-path counts) accumulate as a per-level
    aggregate; a (source, node) pair is claimed by the FIRST level that
    reaches it. Backward phase: dependencies flow one level up per join,
    ``δ(a,b) = Σ_{b→w, d(a,w)=d(a,b)+1} σ(a,b)/σ(a,w)·(1+δ(a,w))``.

    Scale shape: work is Σ over sampled sources of ball sizes × degree —
    inherently heavier than any single-score walk, which is exactly why
    ``source_mod`` exists: sources are chosen by ``md5(seed|n) %
    source_mod == 0`` so the sample is reproducible across engines and
    runs (the oracle restricts to the same sample), and cost scales as
    1/source_mod. Each level is one frontier join + one map-side-
    combinable aggregate + an anti-join against the claimed set; every
    level table localCheckpoints (O(1) lineage).
    """
    e = (
        edges.select(F.col(src).alias("es"), F.col(dst).alias("et"))
        .filter(F.col("es") != F.col("et"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    # The driver loop is level-synchronous Brandes with the identical source
    # sample (same md5 arithmetic), exact integer-valued σ, and the same
    # depth bound; the δ accumulation order differs, which the 6-d.p.
    # output rounding absorbs (rounding stays Spark-side).
    rows = collect_if_small(e)
    if rows is not None:
        adj: dict = {}
        node_set: set = set()
        for r0 in rows:
            adj.setdefault(r0["es"], []).append(r0["et"])
            node_set.add(r0["es"])
            node_set.add(r0["et"])
        sample = [
            n for n in node_set
            if source_mod <= 1
            or _md5_long_py(f"{seed}|{n}") % source_mod == 0
        ]
        out: dict = {}
        for a in sample:
            level = {a: 0}
            sigma = {a: 1.0}
            level_nodes = [[a]]
            for t in range(1, max_t + 1):
                cand: dict = {}
                for b in level_nodes[-1]:
                    sb = sigma[b]
                    for w in adj.get(b, ()):
                        cand[w] = cand.get(w, 0.0) + sb
                new = {w: s for w, s in cand.items() if w not in level}
                if not new:
                    break
                for w, s in new.items():
                    level[w] = t
                    sigma[w] = s
                level_nodes.append(list(new))
            depth = len(level_nodes) - 1
            delta = {b: 0.0 for b in level_nodes[-1]}
            for b in level_nodes[-1]:
                if b != a:
                    out[b] = out.get(b, 0.0)  # deepest level: δ = 0 rows
            for t in range(depth - 1, -1, -1):
                new_delta = {}
                for b in level_nodes[t]:
                    c = 0.0
                    for w in adj.get(b, ()):
                        if level.get(w) == t + 1:
                            c += sigma[b] / sigma[w] * (1.0 + delta[w])
                    new_delta[b] = c
                if t > 0:
                    for b, dv in new_delta.items():
                        if b != a:
                            out[b] = out.get(b, 0.0) + dv
                delta = new_delta
        out_df = _ranks_df(edges.sparkSession, out, e.schema["es"].dataType, col="bt")
        return out_df.select("n", F.round("bt", 6).alias("betweenness"))
    nodes = (
        e.select(F.col("es").alias("n"))
        .unionByName(e.select(F.col("et").alias("n")))
        .distinct()
    )
    srcs = nodes
    if source_mod > 1:
        srcs = nodes.filter(
            _md5_long(F.concat_ws("|", F.lit(str(seed)), F.col("n")))
            % source_mod == 0
        )
    level0 = srcs.select(
        F.col("n").alias("a"), F.col("n").alias("b"), F.lit(1.0).alias("sig")
    ).localCheckpoint(eager=True)
    levels = [level0]
    seen = level0.select("a", "b").localCheckpoint(eager=True)
    for _ in range(max_t):
        cand = (
            levels[-1].join(e, levels[-1]["b"] == e["es"])
            .groupBy("a", F.col("et").alias("b2"))
            .agg(F.sum("sig").alias("sig"))
            .withColumnRenamed("b2", "b")
        )
        new = cand.join(seen, ["a", "b"], "left_anti").localCheckpoint(eager=True)
        if new.limit(1).count() == 0:
            break
        levels.append(new)
        # union of checkpointed level frames — no checkpoint of its own
        seen = seen.unionByName(new.select("a", "b"))
    delta = levels[-1].select("a", "b", F.lit(0.0).alias("delta"))
    acc = delta.filter(F.col("a") != F.col("b"))
    for t in range(len(levels) - 2, -1, -1):
        lt = levels[t]
        nxt = levels[t + 1].join(delta, ["a", "b"]).select(
            "a", F.col("b").alias("w"), F.col("sig").alias("sigw"), "delta"
        )
        contrib = (
            lt.join(e, lt["b"] == e["es"])
            .join(nxt, (lt["a"] == nxt["a"]) & (e["et"] == nxt["w"]))
            .select(
                lt["a"].alias("a"), lt["b"].alias("b"),
                (lt["sig"] / F.col("sigw") * (F.lit(1.0) + F.col("delta")))
                .alias("c"),
            )
            .groupBy("a", "b")
            .agg(F.sum("c").alias("c"))
        )
        delta = (
            lt.join(contrib, ["a", "b"], "left")
            .select("a", "b", F.coalesce("c", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=True)
        )
        if t > 0:
            acc = acc.unionByName(delta.filter(F.col("a") != F.col("b")))
    return (
        acc.groupBy(F.col("b").alias("n"))
        .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Newman modularity Q of a node partition over the UNDIRECTED simple
    graph: ``Q = Σ_c ( e_c/m − (deg_c / 2m)² )`` with ``e_c`` the
    intra-community edge count, ``deg_c`` the community degree sum, ``m``
    the undirected edge count — the standard quality score for a
    community assignment (pairs with :func:`label_propagation`: run LPA,
    score the partition, compare across crawls). ``communities`` is
    ``(n, label)``; nodes missing a label are their own singleton
    community. Returns one row ``(m_edges, q)`` rounded 6 d.p.

    Scale shape: two broadcast-label joins on the deduped edge list, two
    map-side-combinable aggregates, one 1-row result — the cheapest query
    in the graph family; no iteration, no windows.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    lab = communities.select(
        F.col(communities.columns[0]).alias("n"),
        F.col(communities.columns[1]).alias("lbl"),
    )
    la = lab.select(F.col("n").alias("a"), F.col("lbl").alias("la"))
    lb = lab.select(F.col("n").alias("b"), F.col("lbl").alias("lb"))
    j = (
        e.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce("la", F.col("a")).alias("la"),
            F.coalesce("lb", F.col("b")).alias("lb"),
        )
        # consumed by the count + both aggregates below — without this the
        # two label joins (and the communities lineage, e.g. a raw LPA
        # plan) would re-execute up to four times
        .localCheckpoint(eager=True)
    )
    m = j.count()
    if m == 0:
        raise ValueError("modularity: empty edge set")
    intra = (
        j.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("c"))
        .agg(F.count("*").alias("ec"))
    )
    degs = (
        j.select(F.col("la").alias("c"))
        .unionAll(j.select(F.col("lb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("dc"))
    )
    per_c = degs.join(intra, "c", "left").select(
        (
            F.coalesce("ec", F.lit(0)) / F.lit(float(m))
            - (F.col("dc") / F.lit(2.0 * m)) * (F.col("dc") / F.lit(2.0 * m))
        ).alias("qc")
    )
    return per_c.agg(
        F.lit(m).cast("long").alias("m_edges"),
        F.round(F.sum("qc"), 6).alias("q"),
    )


def closeness_centrality(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_t: int = 8,
) -> DataFrame:
    """Bounded closeness centrality over OUTGOING distances —
    Wasserman-Faust normalized: ``C(v) = (r−1)/(n−1) · (r−1)/Σd`` with
    ``r`` the nodes v reaches within ``max_t`` and Σd their distance sum
    (the disconnected-graph correction; plain 1/Σd is not comparable
    across components). Rounded 6 d.p.; nodes reaching nothing score 0.

    The exact frontier BFS here is the verification-grade config (Σ|ball|
    memory — same budget as :func:`neighborhood_function` exact mode);
    for estimates at web scale use :func:`harmonic_centrality`'s
    HyperBall mode, which Boldi-Vigna also recommend over closeness for
    ranking quality.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    # r and Σd are exact integers, and the Wasserman-Faust formula is two
    # divisions and a product of them — the driver loop's floats are fully
    # deterministic (no summation-order sensitivity at all); rounding stays
    # Spark-side.
    rows = collect_if_small(e)
    if rows is not None:
        adj: dict = {}
        node_set: set = set()
        for r0 in rows:
            adj.setdefault(r0["u"], []).append(r0["v"])
            node_set.add(r0["u"])
            node_set.add(r0["v"])
        n_total = len(node_set)
        sc = {}
        for a in node_set:
            reach = [d for d in _bfs_dists(adj, a, max_t).values() if d > 0]
            if reach:
                r1, sd = len(reach), sum(reach)
                sc[a] = (r1 / float(n_total - 1)) * (r1 / sd)
            else:
                sc[a] = 0.0
        out_df = _ranks_df(
            edges.sparkSession, sc, e.schema["u"].dataType, col="c"
        )
        return out_df.select("n", F.round("c", 6).alias("closeness"))
    nodes = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_total = nodes.count()
    dist = nodes.select(
        F.col("n").alias("a"), F.col("n").alias("b"), F.lit(0).alias("d")
    ).localCheckpoint(eager=True)
    frontier = dist
    for t in range(1, max_t + 1):
        nxt = (
            frontier.join(e, frontier["b"] == e["u"])
            .select("a", F.col("v").alias("b"))
            .distinct()
            .join(dist.select("a", "b"), ["a", "b"], "left_anti")
            .withColumn("d", F.lit(t))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    agg = (
        dist.filter(F.col("d") > 0)
        .groupBy(F.col("a").alias("n"))
        .agg(F.count("*").alias("r"), F.sum("d").alias("sd"))
    )
    return nodes.join(agg, "n", "left").select(
        "n",
        F.round(
            F.coalesce(
                (F.col("r") / F.lit(float(n_total - 1)))
                * (F.col("r") / F.col("sd")),
                F.lit(0.0),
            ),
            6,
        ).alias("closeness"),
    )


def effective_diameter(nf: DataFrame, alpha: float = 0.9) -> float:
    """Interpolated α-effective diameter from a
    :func:`neighborhood_function` table — the smallest (linearly
    interpolated) t at which ≥ α of all reachable ordered pairs are
    within distance t (HyperANF's headline statistic; α = 0.9 is the
    literature convention). Driver-side over the ≤ max_t-row table."""
    rows = sorted((r["t"], r["pairs"]) for r in nf.collect())
    if not rows:
        raise ValueError("effective_diameter: empty neighborhood function")
    target = alpha * rows[-1][1]
    if rows[0][1] >= target:
        return float(rows[0][0])
    for (t0, p0), (t1, p1) in zip(rows, rows[1:]):
        if p1 >= target:
            return t0 + (target - p0) / (p1 - p0) * (t1 - t0)
    return float(rows[-1][0])
