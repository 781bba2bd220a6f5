"""Dump normalized optimized logical plans of the SPARQL front end's queries.

Usage: python tools/plan_dump.py OUT_DIR SF_DIR [query ...]

Writes one ``<name>.txt`` per query: the optimized logical plan with
expression ids (``#123``, ``#123L``) and ``plan_id=`` numbers stripped, so
two checkouts' dumps compare with ``diff -r``. Default query set: every
``kg_sparql_*``, ``kg_bgp_*``, ``kg_construct`` and ``kg_path_*`` entry of
``__spark_entry__.queries()`` at ``SF_DIR``, plus ``perfbench_select`` and
``perfbench_aggregate``: the two ``sparql_query`` calls of perfbench's
kg_query workload (``KgQuery.q_select`` / ``q_aggregate``) over a 100-page
statements table it extracts into ``OUT_DIR/_work`` (removed afterwards).
Named queries may be any ``queries()`` entry, inside the default set or not.
``perfbench/`` is imported, never modified.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PREFIXES = ("kg_sparql_", "kg_bgp_", "kg_path_")
EXTRA = ("kg_construct",)
PERFBENCH = ("perfbench_select", "perfbench_aggregate")


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def optimized(df) -> str:
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


def perfbench_plans(spark, work: str) -> dict[str, str]:
    """The two kg_query SPARQL queries, captured by wrapping sparql_query
    while the workload's own methods run."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import workloads

    import sparkrdf.sparql as S

    wl = workloads.KgQuery(spark, None, work, 1, n_pages=100)
    wl.setup()
    captured = []
    real = S.sparql_query

    def capture(*args, **kwargs):
        df = real(*args, **kwargs)
        captured.append(df)
        return df

    S.sparql_query = capture
    try:
        wl.q_select()
        wl.q_aggregate()
    finally:
        S.sparql_query = real
    return dict(zip(PERFBENCH, (optimized(df) for df in captured)))


def main(argv=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if len(argv) < 2:
        sys.exit(__doc__)
    out, sf_dir, *picked = argv
    only = set(picked)

    import __spark_entry__ as entrymod
    from sparkrdf.session import get_spark

    spark = get_spark("plan-dump", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    names = [
        n for n in entrymod.queries()
        if n in only or not only and (n.startswith(PREFIXES) or n in EXTRA)
    ]
    for name in names:
        df = entrymod.queries()[name](spark, sf_dir)
        with open(os.path.join(out, name + ".txt"), "w") as f:
            f.write(optimized(df) + "\n")
        print(name, flush=True)
    if not only or only & set(PERFBENCH):
        work = os.path.join(out, "_work")
        try:
            for name, plan in perfbench_plans(spark, work).items():
                with open(os.path.join(out, name + ".txt"), "w") as f:
                    f.write(plan + "\n")
                print(name, flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
