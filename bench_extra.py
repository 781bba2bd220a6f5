"""Side benchmarks for optimization work (guide §1): per-query isolation with
the same count() methodology as the frozen bench.py, plus job counts and
.explain("formatted") capture. NOT used by the driver — bench.py stays the
measured artifact; this file exists so optimization evidence (plan shapes,
job counts, per-query before/after) can be produced without touching it.

Usage:
  python bench_extra.py [--reps N] [--explain DIR] [--noop] [query ...]

With no queries listed, runs the same OP_QUERIES list as bench.py plus the
flagship stages. --explain DIR writes DIR/<query>.txt with the formatted
plan of each query (before execution). First prints which JVM UDFs the
session runs (a missing one means its operators took the fallback):
  {"jvm_udfs": [sql names]}
then one JSON line per query:
  {"query": name, "secs": [..], "jobs": [..], "rows": N}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _n_jobs(spark) -> int:
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    return len(tracker.getJobIdsForGroup(None))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--noop", action="store_true",
                    help="use the noop sink instead of count()")
    ap.add_argument("--plan-only", action="store_true",
                    help="with --explain: write plans, skip execution")
    ap.add_argument("--flagship", action="store_true",
                    help="also time pages->extract->rpt like bench.py")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from sparkrdf.session import get_spark, jvm_udfs

    spark = get_spark("sparkrdf-bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps({"jvm_udfs": sorted(jvm_udfs(spark))}), flush=True)

    import bench
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = args.queries or list(bench.OP_QUERIES)

    results = []

    if args.flagship:
        from sparkrdf.extract.pipeline import extract_triples
        from sparkrdf.pages import synthesize_pages
        from sparkrdf.rpt import rpt_transform

        try:
            sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
        except ValueError:
            sf = 0.1
        n_pages = max(1000, int(1_000_000 * sf))
        for rep in range(args.reps):
            timings = {}

            def timed(name, fn):
                spark.sparkContext.setJobDescription(name)
                j0, t0 = _n_jobs(spark), time.perf_counter()
                out = fn()
                timings[name] = (
                    round(time.perf_counter() - t0, 3), _n_jobs(spark) - j0)
                spark.sparkContext.setJobDescription(None)
                return out

            pages = synthesize_pages(spark, n_pages).persist()
            timed("pages_synthesize", lambda: pages.count())
            stmts = extract_triples(spark, pages).persist()
            timed("kg_extract_triples", lambda: stmts.count())
            rpt = rpt_transform(stmts, "Bench")
            timed("kg_rpt_edges", lambda: rpt["edges"].count())
            timed("kg_rpt_vertices", lambda: rpt["vertices"].count())
            stmts.unpersist()
            pages.unpersist()
            spark.catalog.clearCache()
            print(json.dumps({"flagship_rep": rep, "timings": timings}),
                  flush=True)

    for name in names:
        secs, jobs, rows = [], [], None
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(name)
            j0 = _n_jobs(spark)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            if args.explain:
                os.makedirs(args.explain, exist_ok=True)
                with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            if args.plan_only:
                pass
            elif args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.count()
            secs.append(round(time.perf_counter() - t0, 3))
            jobs.append(_n_jobs(spark) - j0)
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        rec = {"query": name, "secs": secs, "jobs": jobs, "rows": rows}
        results.append(rec)
        print(json.dumps(rec), flush=True)

    total = sum(min(r["secs"]) for r in results)
    print(json.dumps({"total_min_secs": round(total, 3),
                      "n_queries": len(results)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
