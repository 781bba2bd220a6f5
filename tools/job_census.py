"""Spark job census of a perfbench workload, span by span.

Runs the workload's set-up, one untraced warm-up op, then ``--ops`` ops with
perfbench's span tracer on, and prints for every traced span every Spark
job it started: job id, wall time and call site. A layer claim ("this
change removed the lineage append's jobs") can then name the jobs it
removed instead of only a per-span count.

    python3 tools/job_census.py --workload crawl_build --ops 2

Session, pinning and sizes are perfbench's own (``perfbench/run.py``); the
scratch output goes to ``.perfbench_work/census`` so a census never touches
a benchmark run's files. ``perfbench/`` is imported, never modified.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def python_call_sites():
    """Name Parquet reads and writes by their Python caller. PySpark tags
    ``collect`` and friends with the calling file:line but leaves
    DataFrameReader/Writer jobs as ``parquet at NativeMethodAccessorImpl``;
    this wraps those methods, in this process only, to set the call site
    the same way (the jobs adaptive execution splits off a write inherit
    it)."""
    from pyspark import SparkContext
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    def tagged(fn):
        def call(*args, **kwargs):
            f = sys._getframe(1)
            while f is not None and ("/pyspark/" in f.f_code.co_filename or f.f_code.co_filename == __file__):
                f = f.f_back
            jsc = SparkContext._active_spark_context._jsc
            if f is not None:
                jsc.setCallSite(f"{fn.__name__} at {os.path.relpath(f.f_code.co_filename, ROOT)}:{f.f_lineno}")
            try:
                return fn(*args, **kwargs)
            finally:
                jsc.setCallSite(None)

        return call

    for cls in (DataFrameReader, DataFrameWriter):
        cls.parquet = tagged(cls.parquet)
    DataFrameWriter.save = tagged(DataFrameWriter.save)


def job_rows(spark, job_ids):
    """(job id, wall ms, tasks, call site) of each job, from Spark's status
    store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for jid in job_ids:
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        wall = end.get().getTime() - start.get().getTime() if start.isDefined() and end.isDefined() else -1
        out.append((jid, wall, job.numTasks(), job.name()))
    return out


def print_op(spark, tracer, op_spans, k):
    total_jobs = total_ms = 0
    print(f"== op {k}")
    for sp in sorted(op_spans, key=lambda s: s.start):
        rows = job_rows(spark, sp.jobs)
        ms = sum(w for _j, w, _t, _c in rows if w > 0)
        total_jobs += len(rows)
        total_ms += ms
        print(f"{sp.name:<48} self {sp.self_s * 1000:8.0f} ms  jobs {len(rows):3d}  job time {ms:6d} ms")
        for jid, wall, tasks, site in rows:
            print(f"    job {jid:5d} {wall:6d} ms {tasks:4d} tasks  {site}")
    print(f"== op {k}: {total_jobs} jobs, {total_ms} ms summed job time\n")


def main(argv=None) -> int:
    import run  # perfbench/run.py

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="crawl_build", choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=1, help="traced ops after the warm-up op")
    args = ap.parse_args(argv)

    run.WORK = os.path.join(ROOT, ".perfbench_work", "census")
    cpus = sorted(os.sched_getaffinity(0))
    conf = run.prepare_env(cpus)
    import spans
    import workloads

    python_call_sites()
    spark, _ = run.start_session(len(cpus), conf)
    try:
        tracer = spans.Tracer(spark, enabled=False)
        cls_name, sizes = run.WORKLOADS[args.workload]
        wl = getattr(workloads, cls_name)(spark, tracer, os.path.join(run.WORK, "run"), args.seed, **sizes)
        wl.setup()
        for k in range(args.ops + 1):
            if wl.max_ops is not None and k >= wl.max_ops:
                break
            tracer.enabled = k > 0
            n0 = len(tracer.spans)
            rec = wl.op(k)
            for msg in wl.check_op(rec):
                print(f"job_census: FAILED op {k}: {msg}", file=sys.stderr)
            if k > 0:
                print_op(spark, tracer, tracer.spans[n0:], k)
    finally:
        run.stop_session(spark, final=True)
        shutil.rmtree(os.path.join(run.WORK, "run"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
