"""Entity-matching (record-linkage) candidate generation + verification.

The classic two-stage shape every scale-out ER system uses (Papadakis et
al., "Blocking and Filtering Techniques for Entity Resolution", 2020):

1. **Blocking** — each record is assigned to exactly ONE block, keyed by its
   *rarest* name token (global token frequency, ties to the lexicographic
   smallest). Rarest-token blocking is the cheapest member of the standard
   family: hot tokens ("the", a ubiquitous color word) never become block
   keys for records that also carry a rarer token, so block sizes stay near
   the inverse of the vocabulary's tail — the quadratic candidate explosion
   of naive token blocking never happens, at the price of missing pairs
   whose ONLY shared token is a non-rarest one (documented recall trade).
2. **Verification** — candidates within a block are scored with character-
   bigram Jaccard similarity; pairs at or above ``threshold`` survive.

Contrast with :mod:`sparkrdf.dedupe` (MinHash/SimHash over document text):
this operates on short entity NAMES where exact set similarity per pair is
affordable once blocking has culled the candidates, so no sketching is
needed and the score is exact.

Scale shape: one token explode + one hash aggregate for frequencies, one
min-struct aggregate to pick the block key, one block-keyed self-join
(AQE's skew split handles a pathological block), and the bigram scoring is
pure whole-stage codegen array math — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkrdf.localdf import local_rows_df

__all__ = ["bigram_set", "fuzzy_pairs"]


def bigram_set(col):
    """Distinct character bigrams of a (normalized) string column.

    1-char strings yield the string itself as a single gram (substring past
    the end truncates), so every non-empty name has a non-empty gram set.
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(col) - 1, F.lit(1))),
            lambda i: F.substring(col, i, 2),
        )
    )


def fuzzy_pairs(
    records: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate record pairs by rarest-token blocking + bigram Jaccard.

    Returns ``(id_a, id_b, sim)`` with ``id_a < id_b`` and ``sim`` (distinct
    character-bigram Jaccard of the normalized names) rounded to 6 d.p.,
    for every candidate pair whose records share their rarest name token
    and whose similarity is ≥ ``threshold``.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(name_col)), r"\s+", " "))
    r = records.select(F.col(id_col).alias("id"), norm.alias("nm")).filter(
        F.length("nm") > 0
    )
    toks = r.select("id", F.explode(F.split("nm", " ")).alias("tok")).distinct()
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    # block key = the record's (min-frequency, then lexicographic-min) token
    block = (
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(F.min(F.struct("tf", "tok")).alias("m"))
        .select("id", F.col("m.tok").alias("bk"))
    )
    # both candidate-join sides reference the keyed table: one barrier so
    # the token/blocking subtree (two aggregates + joins) runs once, and the
    # bigram arrays are computed once per record instead of once per side
    keyed = (
        r.join(block, "id")
        .select("id", "nm", "bk", bigram_set(F.col("nm")).alias("g"))
        .localCheckpoint(eager=True)
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = a.join(
        b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id"))
    )
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("b.g")))
    union = F.size(F.array_union(F.col("a.g"), F.col("b.g")))
    sim = F.round(inter.cast("double") / union, 6)
    return (
        cand.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def global_rank(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic 0-based global rank of ``df``'s rows in ``keys``
    order WITHOUT a single-partition sort: range-partition on the keys,
    per-partition ``row_number`` keyed on the PHYSICAL partition id (so
    no second exchange and no hot-key window), then add each partition's
    driver-side-cumulated row-count offset (a #partitions-sized
    broadcast). Returns the input columns plus ``_gr``.

    This is the shared idiom behind :func:`sorted_neighborhood`, the
    walk neighbor indexes (graphops random_walks / node2vec_walks) and
    frontier scheduling (weburl.frontier_waves) — a hot key is never one
    task's sort. Pass the full dedup/tie-break key tuple: determinism of
    the rank (and everything built on it) requires ``keys`` to be unique
    per row."""
    d = (
        df.repartitionByRange(*keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    w = Window.partitionBy("_pid").orderBy(*keys)
    d = d.withColumn("_r", F.row_number().over(w)).localCheckpoint(eager=True)
    counts = d.groupBy("_pid").agg(F.count("*").alias("_c")).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["_c"]
    omap = local_rows_df(df.sparkSession, offsets or [(0, 0)], "_pid int, _off long")
    return (
        d.join(F.broadcast(omap), "_pid")
        .withColumn("_gr", F.col("_off") + F.col("_r") - 1)
        .drop("_pid", "_r", "_off")
    )


def sorted_neighborhood(
    records: DataFrame,
    sort_cols: list[str],
    window: int = 3,
    id_col: str = "id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995 merge/purge):
    order all records by a similarity-preserving key and emit every pair
    within ``window`` positions — the third classic blocking family next to
    token blocking (:func:`fuzzy_pairs`) and LSH (:mod:`sparkrdf.dedupe`),
    and the right one when similarity is ORDERED (names, normalized
    prefixes) rather than set-shaped: candidates per record are a constant
    ``window``, never block-size-squared. Returns ``(id_a, id_b,
    rank_gap)`` with ``id_a`` preceding ``id_b`` in sort order.

    Distributed global rank without a single-partition sort: range-
    partition on the (sort key, id) tuple, per-partition ``row_number``
    (the window partitions on the physical partition id, so no second
    exchange), then add each partition's driver-side-cumulated row-count
    offset (a #partitions-sized broadcast). ``id_col`` is the final sort
    tiebreak, making the ranking — and therefore the pair set — fully
    deterministic under duplicate keys. Pairing is the band-bucket
    equi-join of :func:`sparkrdf.joins.range_join` on rank distance, so
    the neighborhood match is one shuffle, never |R|² .
    """
    keys = [*sort_cols, id_col]
    ranked = global_rank(records.select(*keys), keys).select(
        F.col(id_col), F.col("_gr").alias("_rank")
    )
    from sparkrdf.joins import range_join

    a = ranked.select(F.col(id_col).alias("id_a"), F.col("_rank").alias("_ra"))
    b = ranked.select(F.col(id_col).alias("id_b"), F.col("_rank").alias("_rb"))
    return (
        range_join(a, b, "_ra", "_rb", window)
        .filter(F.col("_rb") > F.col("_ra"))
        .select("id_a", "id_b", (F.col("_rb") - F.col("_ra")).cast("long").alias("rank_gap"))
    )
