"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Every operator is specified to be reproducible in ANSI SQL (DuckDB oracle):
the shared hash primitive is ``bigint(first 7 hex chars of md5(x))`` which
both engines compute identically (verified: Spark ``conv(substr(md5(x),1,7),
16,10)`` == DuckDB ``('0x'||substr(md5(x),1,7))::BIGINT``).

Scale notes (the 100 TB story):
- exact dedup: one hash-aggregate on the fingerprint — the minimal shuffle;
  map-side partial aggregation collapses most duplicates before the exchange.
- MinHash: signatures are computed per row (narrow); only the (band_idx,
  band_hash) pairs shuffle — k·n/r small rows instead of full text. Candidate
  pairs come from within-bucket joins; Zipf-sized buckets are bounded by the
  band hash width, and AQE skew-join splits any hot bucket.
- SimHash: per-row 16-bit signature (narrow), self-join on signature for
  hamming-0 buckets; hamming ≤ d via banding over bit-halves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkrdf.localdf import collect_if_small, local_rows_df, nulls_first
from sparkrdf.textops import fingerprint

# MinHash parameters — shared with the oracle SQL generators
MINHASH_K = 12
MINHASH_BANDS = 4  # rows per band = K / BANDS = 3
MINHASH_P = 1_000_000_007
MINHASH_A = [3, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
MINHASH_B = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233]
SHINGLE_W = 3  # word shingles


def h64(col: Column) -> Column:
    """Shared 28-bit hash: bigint of the first 7 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def word_shingles(text: Column, w: int = SHINGLE_W) -> Column:
    """Distinct word w-shingles of lowercase text (array<string>)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    shingles = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(w)),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, w)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    return F.array_distinct(shingles)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: (fp, n_dups, keep_id) for fingerprints seen >1×."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def minhash_signature(text: Column, k: int = MINHASH_K) -> Column:
    """array<bigint> of k min-hashes over word shingles.

    Built as ONE expression tree: the (md5-derived) shingle-hash array appears
    a single time and the k permutations map over it, so each shingle is
    hashed once per row — an F.array of k independent array_min(transform(..))
    expressions would re-evaluate the md5 work k times (Catalyst does not CSE
    across array elements)."""
    sh = word_shingles(text)
    # md5 exactly once per shingle: the permutation lambda receives the hash
    # as a *lambda variable* (a bound value, free to reference k times). Any
    # structure where the hash expression itself sits inside another lambda
    # body re-evaluates the md5 work per outer element (measured 10x
    # slowdown at sf0.1).
    hashes = F.transform(sh, lambda s: h64(s))
    per_shingle = F.transform(
        hashes,
        lambda h: F.array(
            *[
                (F.lit(MINHASH_A[j]).cast("bigint") * h + F.lit(MINHASH_B[j])) % MINHASH_P
                for j in range(k)
            ]
        ),
    )
    init = F.array(*[F.lit(MINHASH_P).cast("bigint") for _ in range(k)])
    return F.aggregate(
        per_shingle, init, lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b))
    )


def minhash_bands(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, band_idx, band_hash) — LSH banding of the MinHash signature.

    One projection computes the signature once and posexplodes the band
    hashes (a per-band union would recompute the shingle+hash work B times).
    """
    r = MINHASH_K // MINHASH_BANDS
    sig = minhash_signature(F.col(text_col))
    with_sig = docs.select(F.col(id_col).alias("id"), sig.alias("sig"))
    band_arr = F.array(
        *[
            F.md5(F.concat_ws("-", *[F.col("sig")[b * r + i].cast("string") for i in range(r)]))
            for b in range(MINHASH_BANDS)
        ]
    )
    return with_sig.select("id", F.posexplode(band_arr).alias("band_idx", "band_hash"))


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing ≥1 LSH band.

    The band table is MATERIALIZED before the self-join: both join sides
    otherwise re-evaluate the whole shingle→md5→permute signature tree
    (Catalyst reuses neither subplans nor exchanges across differently
    aliased projections — measured 2.3× at sf0.1). localCheckpoint is the
    local-mode stand-in for the production shape, which writes the band
    table between stages (checkpoint/resume unit) and self-joins the
    written table; the join itself stays a key-partitioned equi-join so AQE
    skew-split still handles hot buckets."""
    bands = minhash_bands(docs, id_col, text_col).localCheckpoint(eager=False)
    a = bands.select(F.col("id").alias("id_a"), "band_idx", "band_hash")
    b = bands.select(F.col("id").alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-shingle Jaccard over LSH candidate pairs:
    (id_a, id_b, jaccard) with jaccard ≥ threshold, rounded to 6 d.p.

    The verify stage computes shingles ONLY for documents that appear in a
    candidate pair: the candidate table (LSH-survivor-sized, tiny next to
    the corpus) is materialized once, its distinct ids semi-join the corpus,
    and the shingle projection runs over that pruned set — the Bloom/semi
    pre-filter shape of guide §3.2. Results are identical (non-candidate
    shingles were never consumed); the corpus-sized shingle pass and its
    double re-derivation for the two join sides are gone."""
    cand = minhash_lsh_pairs(docs, id_col, text_col).localCheckpoint(eager=True)
    ids = (
        cand.select(F.col("id_a").alias("_cid"))
        .unionByName(cand.select(F.col("id_b").alias("_cid")))
        .dropDuplicates()
    )
    sh = (
        docs.join(ids, docs[id_col] == ids["_cid"], "left_semi")
        .select(F.col(id_col).alias("id"), word_shingles(F.col(text_col)).alias("sh"))
        .localCheckpoint(eager=True)
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.round(inter / union, 6)
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 16


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """bits-wide SimHash over word tokens (hash = shared h64).

    bit_i of the signature = 1 iff sum over tokens of ±1 (sign of bit i of
    h64(token)) is positive. Expressed entirely with higher-order array
    functions — one pass over tokens per document, no UDF.
    """
    words = F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))
    hashes = F.transform(words, lambda t: h64(t))
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        contrib = F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        out = out + F.when(contrib > 0, F.lit(2**i).cast("bigint")).otherwise(0)
    return out


def simhash_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Documents sharing an identical SimHash signature (hamming-0 buckets)."""
    sigs = docs.select(F.col(id_col), simhash(F.col(text_col)).alias("sig"))
    return (
        sigs.groupBy("sig")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n") > 1)
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-duplicate pairs within SimHash hamming distance ≤ max_hamming,
    via bit-band blocking.

    Pigeonhole: split the signature into ``max_hamming + 1`` bit bands — any
    pair differing in ≤ max_hamming bits agrees EXACTLY on at least one band,
    so candidates = pairs sharing a (band_idx, band_value) bucket; the exact
    hamming distance is then verified with ``bit_count(sig_a ^ sig_b)``.
    The blocking is LOSSLESS (recall 1.0 at the distance bound), unlike
    probabilistic LSH.

    100 TB story: only (band_idx, band_value) shuffles — no all-pairs join;
    a hot band bucket (e.g. many near-empty documents hashing alike) is
    bounded by splitting via AQE skew-join; the verify step is a projection.
    """
    n_bands = max_hamming + 1
    sigs = docs.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sig")
    )
    band_structs = []
    offset = 0
    for b in range(n_bands):
        width = bits // n_bands + (1 if b < bits % n_bands else 0)
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), offset)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
        )
        offset += width
    exploded = sigs.select(
        "id", "sig", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", "sig", F.col("b.band").alias("band"), F.col("b.val").alias("val"))

    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _union_find_components(edge_rows) -> dict:
    """Driver-side union-find (path compression, union toward the smaller
    root) over a SMALL, already-counted, symmetric edge list — the fast
    path of :func:`connected_components`. Component label = min node id,
    matching the distributed path exactly. A NULL id is a node but never
    links components (the distributed label join never matches it); it
    takes the smallest label among its neighbours."""
    parent: dict = {}
    null_nbrs: list | None = None

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        if u is None:
            if null_nbrs is None:
                null_nbrs = []
            if v is not None:
                null_nbrs.append(v)
            continue
        ru = find(u)
        if v is None:
            continue
        rv = find(v)
        if ru != rv:
            # union toward the smaller label so the root IS the min id
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    comp = {x: find(x) for x in parent}
    if null_nbrs is not None:
        comp[None] = min((comp[v] for v in null_nbrs), default=None)
    return comp


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 16,
) -> DataFrame:
    """Connected components over an undirected pair list →
    (id, component) where component = MIN node id reachable from ``id``.

    Label-propagation to the neighborhood minimum with doubling reach
    ("hash-to-min"): each round every node adopts the smallest label among
    itself and its neighbors, then labels are propagated transitively via a
    label→label self-join — converging in O(log d) rounds for diameter d
    (near-dup clusters are shallow: d rarely exceeds a handful, and
    ``max_iter`` = 16 covers d up to 2^16). Each round is one shuffle keyed
    by node id; lineage is truncated per round (``localCheckpoint``) so the
    plan stays flat.

    **Driver fast path** (the :mod:`sparkrdf.localdf` gate): the pair
    graph is already tiny relative to the corpus after LSH + exact
    verification, so a driver-side union-find usually resolves components
    in one pass and one upload — byte-identical labels, ~10x less wall at
    benchmark scales than O(log d) rounds of executor jobs.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    rows = collect_if_small(edges)
    if rows is not None:
        comp = _union_find_components((r["u"], r["v"]) for r in rows)
        idt = edges.schema["u"].dataType
        return local_rows_df(
            pairs.sparkSession,
            sorted(comp.items(), key=nulls_first),
            [("node", idt), ("component", idt)],
        )
    # start: every node labels itself
    labels = (
        edges.select(F.col("u").alias("node"))
        .dropDuplicates()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    for _ in range(max_iter):
        # neighborhood minimum: min(own label, labels of all neighbors).
        # The self rows carry the PREVIOUS label in `old` (neighbors carry
        # null), so one aggregate yields both the new minimum and the value
        # needed for the convergence check — no separate old-vs-new join.
        neigh = (
            edges.join(labels.withColumnRenamed("node", "v"), "v")
            .select(
                F.col("u").alias("node"),
                "lbl",
                F.lit(None).cast(labels.schema["lbl"].dataType).alias("old"),
            )
        )
        combined = (
            labels.select("node", "lbl", F.col("lbl").alias("old"))
            .unionByName(neigh)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"), F.max("old").alias("old"))
        )
        # pointer-jump: node -> lbl -> lbl(lbl) (label table joined on a
        # projection of itself; aliases disambiguate, and the whole round —
        # agg + self-join — materializes in ONE checkpoint job)
        a = combined.alias("a")
        m = combined.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
        ).alias("m")
        jumped = (
            a.join(m, F.col("a.lbl") == F.col("m.lbl"), "left")
            .select(
                F.col("a.node").alias("node"),
                F.coalesce(F.col("m.lbl2"), F.col("a.lbl")).alias("lbl"),
                F.col("a.old").alias("old"),
            )
            .localCheckpoint(eager=True)
        )
        # converged when no label changed this round (cheap second job: a
        # filter-count over the already-materialized checkpoint blocks)
        changed = jumped.filter(F.col("lbl") != F.col("old")).count()
        labels = jumped.select("node", "lbl")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — component labels would be "
            "split; raise max_iter (doubling reach: max_iter=k covers "
            "diameter 2^k)"
        )
    return labels.select("node", F.col("lbl").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate clusters: connected components over the verified
    n-gram-Jaccard pair graph → (doc_id, canonical_id, cluster_size), one
    row per clustered document, canonical = min doc id of the component.

    The two-stage shape at 100 TB: LSH candidates → exact Jaccard verify →
    component clustering over the (tiny) surviving pair set; only pairs ever
    shuffle in the clustering loop, never documents."""
    pairs = ngram_jaccard_pairs(docs, id_col, text_col, threshold)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("canonical_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )
