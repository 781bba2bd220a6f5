"""A/B of every driver fast path against its distributed loop.

Each operator gated by ``sparkrdf.localdf.collect_if_small`` runs on the
same input with the gate left alone (driver loop) and with
``localdf.SMALL_MAX = 0`` (distributed loop), interleaved: each repetition
runs both legs of one operator back to back and swaps which leg goes first.
A leg is one call plus ``.count()`` of its result. The table gives the
median wall time of each leg, dist ÷ driver, and the decision rule of the
gate: a fast path stays only when the distributed loop is at least 1.2×
slower on some input of its operator.

Input is the ``kg_query`` benchmark's: pages ``[0, n)``
(``sparkrdf.pages.page_row``) through ``extract_triples``; the graph
operators run on its page→entity ``mentions`` edges. The closures also run
on synthetic chains, since the crawl's one transitive property derives
nothing new.

Usage: python tools/gate_ab.py [--pages 1000] [--reps 4] [--cpus 4]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def chains(spark, n_edges: int, depth: int, p: str | None):
    """``n_edges // depth`` disjoint chains of ``depth`` edges, as (s, o)
    pairs or, with ``p``, as (s, p, o) triples; materialized once, so a leg
    times the operator and not the upload of its input."""
    rows = [
        (f"c{c}_{i}", f"c{c}_{i + 1}")
        for c in range(n_edges // depth)
        for i in range(depth)
    ]
    if p is None:
        df = spark.createDataFrame(rows, "s string, o string")
    else:
        df = spark.createDataFrame([(s, p, o) for s, o in rows], "s string, p string, o string")
    return df.localCheckpoint(eager=True)


def operators(spark, stmts, edges):
    """name -> zero-argument call returning the operator's DataFrame."""
    from pyspark.sql import functions as F

    from sparkrdf import graphops as G
    from sparkrdf import terms as T
    from sparkrdf.dedupe import connected_components
    from sparkrdf.extract.gazetteer import PREDICATES
    from sparkrdf.query import path_closure
    from sparkrdf.reason import owl_materialize

    mentions = PREDICATES["mentions"]
    onto = "s string, p string, o string"
    kg_onto = spark.createDataFrame(
        [(mentions, T.OWL_INVERSE_OF, mentions + "In"), (mentions, T.RDF_TYPE, T.OWL_TRANSITIVE)],
        onto,
    )
    p_onto = spark.createDataFrame([("p", T.RDF_TYPE, T.OWL_TRANSITIVE)], onto)
    weighted = edges().select(
        F.col("u").alias("src_host"), F.col("v").alias("dst_host"), F.lit(1).alias("n_links")
    )
    seeds = edges().select(F.col("u").alias("n")).distinct().orderBy("n").limit(10)
    chains8, chains16 = chains(spark, 14_400, 8, "p"), chains(spark, 14_400, 16, "p")
    chains4 = chains(spark, 60_000, 4, None)
    return {
        "pagerank": lambda: G.pagerank(edges()),
        "pagerank_directed": lambda: G.pagerank_directed(weighted),
        "personalized_pagerank": lambda: G.personalized_pagerank(weighted, seeds),
        "connected_components": lambda: connected_components(
            edges().select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        ),
        "kcore": lambda: G.kcore(edges(), 2),
        "coreness": lambda: G.coreness(edges()),
        "ktruss": lambda: G.ktruss(edges(), 3),
        "scc": lambda: G.scc(edges()),
        "label_propagation": lambda: G.label_propagation(edges()),
        "neighborhood_function": lambda: G.neighborhood_function(edges(), max_t=4, exact=True),
        "harmonic_centrality": lambda: G.harmonic_centrality(edges(), max_t=4, exact=True),
        "closeness_centrality": lambda: G.closeness_centrality(edges(), max_t=4),
        "betweenness": lambda: G.betweenness(edges(), max_t=4),
        "node2vec_walks": lambda: G.node2vec_walks(edges()),
        "owl_materialize (kg_query)": lambda: owl_materialize(stmts(), kg_onto),
        "owl_materialize (depth-8 chains)": lambda: owl_materialize(chains8, p_onto),
        "owl_materialize (depth-16 chains)": lambda: owl_materialize(chains16, p_onto),
        "path_closure (60k edges, depth-4 chains)": lambda: path_closure(chains4),
    }


def timed(spark, call) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = call().count()
    wall = time.perf_counter() - t0
    spark.catalog.clearCache()
    return wall, n


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, default=1000)
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--only", default="", help="comma-separated operator names")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sparkrdf import localdf
    from sparkrdf.extract.gazetteer import PREDICATES
    from sparkrdf.extract.pipeline import extract_triples
    from sparkrdf.pages import synthesize_pages
    from sparkrdf.session import get_spark

    work = tempfile.mkdtemp(prefix="gate_ab-")
    spark = get_spark(
        "gate_ab", master=f"local[{args.cpus}]", **{"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        path = os.path.join(work, "statements")
        extract_triples(spark, synthesize_pages(spark, args.pages)).write.parquet(path)

        def stmts():
            return spark.read.parquet(path)

        def edges():
            return stmts().filter(F.col("p") == PREDICATES["mentions"]).select(
                F.col("s").alias("u"), F.col("o").alias("v")
            )

        n_stmts, n_edges = stmts().count(), edges().count()
        ops = operators(spark, stmts, edges)
        if args.only:
            ops = {k: v for k, v in ops.items() if k.split(" ")[0] in args.only.split(",")}
        small_max = localdf.SMALL_MAX
        results = []
        for name, call in ops.items():
            legs: dict = {small_max: [], 0: []}
            counts: dict = {small_max: set(), 0: set()}
            # one untimed round first: codegen, JIT and first-read costs
            for rep in range(-1, args.reps):
                order = (small_max, 0) if rep % 2 == 0 else (0, small_max)
                for bound in order:
                    localdf.SMALL_MAX = bound
                    try:
                        wall, n = timed(spark, call)
                    finally:
                        localdf.SMALL_MAX = small_max
                    if rep >= 0:
                        legs[bound].append(wall)
                    counts[bound].add(n)
            drv = statistics.median(legs[small_max])
            dist = statistics.median(legs[0])
            same = counts[small_max] == counts[0] and len(counts[0]) == 1
            results.append((name, drv, dist, same))
            print(f"{name}: {drv:.3f} s / {dist:.3f} s", file=sys.stderr, flush=True)
        best: dict = {}
        for name, drv, dist, _ in results:
            op = name.split(" ")[0]
            best[op] = max(best.get(op, 0.0), dist / drv)
        print(
            f"# {args.pages} pages, {n_stmts} statements, {n_edges} mentions edges; "
            f"local[{args.cpus}], median of {args.reps} interleaved repetitions"
        )
        print("| operator | driver | distributed | dist ÷ driver | rows equal | decision |")
        print("|---|---|---|---|---|---|")
        for name, drv, dist, same in results:
            keep = best[name.split(" ")[0]] >= 1.2
            print(
                f"| {name} | {drv:.3f} s | {dist:.3f} s | {dist / drv:.2f}× | "
                f"{'yes' if same else 'NO'} | {'keep' if keep else 'delete the fast path'} |"
            )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
