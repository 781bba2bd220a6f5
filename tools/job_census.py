"""Spark job census of a perfbench workload, span by span.

Runs the workload's set-up, one untraced warm-up op, then ``--ops`` ops with
perfbench's span tracer on, and prints for every traced span every Spark
job it started: job id, wall time and call site. A layer claim ("this
change removed the lineage append's jobs") can then name the jobs it
removed instead of only a per-span count. Next to each span's summed job
time it prints the span's job wall: the time covered by at least one of
its jobs. Jobs started from concurrent driver threads overlap, so the sum
can exceed the span's own time without any extra work being done.

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
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def _call_site(frame, name: str) -> str:
    """``<name> at <file>:<line>`` of the innermost frame of ``frame``'s
    stack that is not PySpark's, this tool's or the threading module's;
    ``name`` becomes the PySpark function that frame called, if any."""
    internal = (__file__, threading.__file__)
    while frame is not None and ("/pyspark/" in frame.f_code.co_filename or frame.f_code.co_filename in internal):
        if "/pyspark/" in frame.f_code.co_filename:
            name = frame.f_code.co_name
        frame = frame.f_back
    if frame is None:
        return name
    return f"{name} at {os.path.relpath(frame.f_code.co_filename, ROOT)}:{frame.f_lineno}"


def python_call_sites():
    """Name every job by its Python caller, in this process only.

    PySpark tags ``collect`` and friends with the caller's file:line, but
    leaves DataFrameReader/Writer jobs as ``parquet at
    NativeMethodAccessorImpl``, and in a job started from a driver thread it
    finds the thread's entry instead (``copy_local_properties at
    threading.py``); its nesting counter is also shared by all threads, so
    a thread's call site may not be set at all. This wraps the Parquet
    reader/writer methods and replaces the call-site hook with one that
    walks the calling thread's own stack (with a per-thread nesting
    counter), so every job is named by the sparkrdf line that started it.
    The jobs adaptive execution splits off an action inherit its name."""
    from pyspark import SparkContext
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
    from pyspark.traceback_utils import SCCallSiteSync

    depth = threading.local()

    def enter(site):
        if getattr(depth, "n", 0) == 0:
            SparkContext._active_spark_context._jsc.setCallSite(site)
        depth.n = getattr(depth, "n", 0) + 1

    def leave():
        depth.n -= 1
        if depth.n == 0:
            SparkContext._active_spark_context._jsc.setCallSite(None)

    def tagged(fn):
        def call(*args, **kwargs):
            enter(_call_site(sys._getframe(1), fn.__name__))
            try:
                return fn(*args, **kwargs)
            finally:
                leave()

        return call

    for cls in (DataFrameReader, DataFrameWriter):
        cls.parquet = tagged(cls.parquet)
    DataFrameWriter.save = tagged(DataFrameWriter.save)

    def sync_init(self, sc):
        self._context = sc
        self._call_site = _call_site(sys._getframe(1), "?")

    SCCallSiteSync.__init__ = sync_init
    SCCallSiteSync.__enter__ = lambda self: enter(self._call_site)
    SCCallSiteSync.__exit__ = lambda self, *exc: leave()


def job_rows(spark, job_ids):
    """(job id, start ms, end ms, tasks, call site) of each job, from
    Spark's status store; start and end are -1 when unknown."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for jid in job_ids:
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        known = start.isDefined() and end.isDefined()
        t0, t1 = (start.get().getTime(), end.get().getTime()) if known else (-1, -1)
        out.append((jid, t0, t1, job.numTasks(), job.name()))
    return out


def union_ms(rows) -> int:
    """Wall time covered by at least one of ``rows``' jobs. Jobs started
    from concurrent driver threads overlap, so this is at most the summed
    job time; the gap between the two is the overlap."""
    total, reach = 0, -1
    for t0, t1 in sorted((r[1], r[2]) for r in rows if r[1] >= 0):
        total += max(0, t1 - max(t0, reach))
        reach = max(reach, t1)
    return total


def summed_ms(rows) -> int:
    return sum(t1 - t0 for _j, t0, t1, _t, _c in rows if t0 >= 0)


def print_op(spark, tracer, op_spans, k):
    all_rows = []
    print(f"== op {k}")
    for sp in sorted(op_spans, key=lambda s: s.start):
        rows = job_rows(spark, sp.jobs)
        all_rows += rows
        print(
            f"{sp.name:<48} self {sp.self_s * 1000:8.0f} ms  jobs {len(rows):3d}  "
            f"job time {summed_ms(rows):6d} ms  job wall {union_ms(rows):6d} ms"
        )
        for jid, t0, t1, tasks, site in rows:
            print(f"    job {jid:5d} {t1 - t0 if t0 >= 0 else -1:6d} ms {tasks:4d} tasks  {site}")
    print(
        f"== op {k}: {len(all_rows)} jobs, {summed_ms(all_rows)} ms summed job time, "
        f"{union_ms(all_rows)} ms job wall\n"
    )


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
