"""KG-construction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout (the directory holding ``sparkrdf/``).
All scratch output goes to ``.perfbench_work/`` there. See
``perfbench/README.md`` for the workloads, the metrics and how to read the
per-layer record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# name -> (class in workloads.py, sizes). Sized for a 4-core box so that a
# run, set-up included, stays under about a minute. BENCHMARK.json lists
# crawl_build and kg_query; incremental_merge runs the same way on request
# (README.md: why it is outside the listed set).
WORKLOADS = {
    "crawl_build": ("CrawlBuild", {"n_pages": 1500}),
    "kg_query": ("KgQuery", {"n_pages": 1000}),
    "incremental_merge": ("IncrementalMerge", {"base_pages": 1000, "batch_pages": 250, "max_batches": 8}),
}
SETUP_REPS = 3  # the first one includes the JVM launch
DRIVER_MEM = "2g"
WARMUP_PAGES = 100
MAX_OP_FAILURES = 3

COUNTER_UNITS = {
    "self_s": "s",
    "task_busy_s": "s",
    "jobs": "count",
    "exchanges": "count",
    "shuffle_write_bytes": "B",
    "python_nodes": "count",
}
SKEW_SPANS = ("resume.multi_stage.rpt", "sparql.sparql_query.aggregate")


def per_layer_units(with_merge: bool = False) -> dict:
    """Per-layer metric name -> unit, in a fixed order: the BENCHMARK.json
    list, plus incremental_merge's own spans ``with_merge``."""
    import workloads as W

    out = {}
    for span in W.BUILD_SPANS + W.QUERY_SPANS + W.ISOLATED_SPANS + (W.MERGE_SPANS if with_merge else []):
        for counter, unit in COUNTER_UNITS.items():
            out[f"{span}.{counter}"] = unit
    for span in SKEW_SPANS:
        out[f"{span}.skew_ratio"] = "ratio"
    if with_merge:
        for span in W.MERGE_SPANS[1:]:
            out[f"{span}.rewrite_ratio"] = "ratio"
            out[f"{span}.touched_buckets"] = "count"
    out["hashing.jvm"] = "flag"
    out["extract.ner.jvm"] = "flag"
    for span, (label, _test) in spans.PATH_RULES.items():
        out[f"{span}.{label}"] = "flag"
    out["failed_tasks"] = "count"
    out["trace_overhead_s"] = "s"
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(cpus: list[int]) -> dict:
    """Pin to the CPUs this process may use and size the JVM's GC threads to
    match; keep every file the run writes (Spark scratch, the UDF jar cache,
    Python temp files) inside WORK. Returns the Spark conf."""
    os.sched_setaffinity(0, cpus)
    tmp = os.path.join(WORK, "tmp")  # persists across runs: holds the jar cache
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in (tmp, run):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run, "local")
    os.environ["SPARKRDF_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    n = len(cpus)
    return {
        "spark.local.dir": os.path.join(run, "local"),
        "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # a pre-touched fixed-size heap keeps peak RSS from tracking
            # when G1 happens to grow the heap; no perf-data file, which the
            # JVM would write to /tmp whatever java.io.tmpdir says
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-XX:ActiveProcessorCount={n} "
            f"-XX:ParallelGCThreads={n} -XX:ConcGCThreads={max(1, n // 4)}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # status-store retention: no traced job, stage, task or SQL
        # execution may be evicted before its span reads it back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "10000000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(cpus: int, conf: dict):
    """``get_spark`` plus JVM hash UDF registration; returns (spark, jvm_hash)."""
    from sparkrdf.hashing import ensure_jvm_hash
    from sparkrdf.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, ensure_jvm_hash(spark)


def warm_up(spark, pages_path: str):
    """The flagship transform once over a small page set: UDF shipping,
    codegen and JIT warm-up before anything is timed."""
    from sparkrdf.extract.pipeline import extract_triples
    from sparkrdf.rpt import rpt_transform

    with rpt_transform(extract_triples(spark, spark.read.parquet(pages_path)), "warmup") as g:
        g["edges"].write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


def stop_session(spark, final: bool = False):
    """Stop Spark; on the final stop also end the JVM and wait until it and
    every process it started (the Python daemon and workers) have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if not final or gw is None:
        return
    started = spans.descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while spans.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if spans.alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def layer_metrics(tracer, op_spans, setup_spans, units: dict) -> dict:
    """Per-layer record of a traced run: for each span name, the median of
    each counter over its traced instances in the measured ops; a span the
    ops never run is taken from the traced set-up (incremental_merge's
    base-graph build). Spans run nowhere read 0, path flags of spans run
    nowhere read -1."""
    by_name: dict[str, list] = {}
    for sp in setup_spans:
        by_name.setdefault(sp.name, []).append(sp)
    op_names = {sp.name for sp in op_spans}
    for name in op_names:
        by_name[name] = [sp for sp in op_spans if sp.name == name]

    out = {k: (-1 if u == "flag" else 0) for k, u in units.items()}
    plan_text = []
    for name, group in by_name.items():
        group = [sp for sp in group if sp.group is not None]
        if not group:
            continue
        per = [tracer.counters(sp) for sp in group]
        for key in COUNTER_UNITS:
            out[f"{name}.{key}"] = statistics.median(c[key] for c in per)
        out["failed_tasks"] += sum(c["failed_tasks"] for c in per)
        for key in group[0].extra:
            out[f"{name}.{key}"] = statistics.median(sp.extra[key] for sp in group)
        if name in SKEW_SPANS:
            out[f"{name}.skew_ratio"] = statistics.median(tracer.skew_ratio(sp) for sp in group)
        labels = [spans.path_label(sp) for sp in group]
        if labels[0] is not None:
            out[f"{name}.{labels[0][0]}"] = min(v for _k, v in labels)
        plan_text += [p for sp in group for p in sp.plans]
    out.update(spans.impl_labels("\n".join(plan_text)))
    unknown = set(out) - set(units)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the list: {sorted(unknown)}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkrdf", "__init__.py")):
        print(f"perfbench: no sparkrdf package under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = sorted(os.sched_getaffinity(0))
    conf = prepare_env(cpus)
    run = os.path.join(WORK, "run")

    import workloads
    from sparkrdf.session import ensure_farmhash_jar

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": len(cpus)}
    # setup_s is measured with a warm jar cache: a cold compile happens here,
    # once per checkout, and is reported apart as jar_build_s
    t0 = time.perf_counter()
    javac = shutil.which("javac") is not None
    ensure_farmhash_jar()
    record["jar_build_s"] = time.perf_counter() - t0

    spark = None
    try:
        with spans.MemSampler() as mem:
            steal0, wall0 = spans.steal_jiffies(), time.perf_counter()
            setups = []
            t0 = time.perf_counter()
            spark, jvm_hash = start_session(len(cpus), conf)
            t_start = time.perf_counter() - t0
            warm_pages = os.path.join(run, "warmup_pages")
            workloads.gen_pages(spark, 10**12, WARMUP_PAGES, warm_pages)
            t0 = time.perf_counter()
            warm_up(spark, warm_pages)
            setups.append(t_start + time.perf_counter() - t0)
            for _ in range(SETUP_REPS - 1):
                stop_session(spark)
                t0 = time.perf_counter()
                spark, jvm_hash = start_session(len(cpus), conf)
                warm_up(spark, warm_pages)
                setups.append(time.perf_counter() - t0)
            record["setup_samples_s"] = setups
            record["hashing_jvm_registered"] = jvm_hash
            if javac and not jvm_hash:
                print("perfbench: WARNING: javac is present but the JVM FarmHashKey UDF is not "
                      "active; hashing fell back to the pandas UDFs", file=sys.stderr, flush=True)

            tracer = spans.Tracer(spark, enabled=bool(args.trace))
            cls_name, sizes = WORKLOADS[args.workload]
            wl = getattr(workloads, cls_name)(spark, tracer, run, args.seed, **sizes)
            record["sizes"] = sizes
            t0 = time.perf_counter()
            wl.setup()
            record["workload_setup_s"] = time.perf_counter() - t0
            setup_spans = list(tracer.spans)

            ops, traced_ops, failures, op_steals = [], [], [], []
            attempted = failed = 0
            measured = 0.0
            k = 0

            def more() -> bool:
                if wl.max_ops is not None and k >= wl.max_ops:
                    return False
                if args.trace:
                    spent = measured + sum(o["wall"] for o in traced_ops)
                    return not ops or not traced_ops or spent < args.seconds
                return measured < args.seconds or len(ops) < wl.min_ops

            # closed loop, one caller. The first op also pays the JIT and
            # first-run costs of the op's own code paths (15-30% slower than
            # the rest); the median of three leaves it out. A traced run
            # only warms up with it, then alternates untraced and traced
            # ops, so it measures its own overhead without that bias.
            while more():
                warm = bool(args.trace) and k == 0
                traced = bool(args.trace) and k % 2 == 0 and not warm
                tracer.enabled = traced
                n_spans = len(tracer.spans)
                attempted += 1
                steal_op = spans.steal_jiffies()
                try:
                    rec = wl.op(k)
                    errs = wl.check_op(rec)
                except Exception as exc:  # a failed op is counted; the loop goes on
                    rec, errs = None, [f"op {k}: {type(exc).__name__}: {exc}"]
                k += 1
                op_steals.append(spans.steal_jiffies() - steal_op)
                if errs:
                    failed += 1
                    failures += errs
                    if failed >= MAX_OP_FAILURES:
                        break
                if rec is None:
                    continue
                rec["spans"] = tracer.spans[n_spans:]
                if warm:
                    continue
                if traced:
                    traced_ops.append(rec)
                else:
                    ops.append(rec)
                    measured += rec["wall"]

            iso_spans = []
            if args.trace:
                tracer.enabled = True
                n_spans = len(tracer.spans)
                wl.isolated(wl.pages())
                iso_spans = tracer.spans[n_spans:]
            tracer.enabled = False

            attempted += 1
            try:
                errs = wl.check_final()
            except Exception as exc:
                errs = [f"final check: {type(exc).__name__}: {exc}"]
            if errs:
                failed += 1
                failures += errs
            wall = time.perf_counter() - wall0
            steal = spans.steal_jiffies() - steal0

        # steal ticks are machine-wide steal-seconds x100 (USER_HZ): as a
        # share of this run's pinned capacity
        record["steal_pct"] = 100.0 * (steal / 100.0) / (wall * len(cpus))
        record.update(failures=failures, attempted=attempted, failed=failed)
        walls = [o["wall"] for o in ops]
        record["op_walls_s"] = walls
        record["op_steal_ticks"] = op_steals  # every op, in run order
        named = wl.summary(ops) if ops else {}
        named["setup_s"] = (statistics.median(setups), "s")
        named["peak_rss_mb"] = (mem.peak / 2**20, "MB")
        named["failed_frac"] = (failed / attempted, "ratio")
        record["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}

        if args.trace:
            units = per_layer_units(with_merge=args.workload == "incremental_merge")
            layers = layer_metrics(
                tracer, [sp for o in traced_ops for sp in o["spans"]] + iso_spans, setup_spans, units
            )
            if walls and traced_ops:
                layers["trace_overhead_s"] = statistics.median(o["wall"] for o in traced_ops) - statistics.median(walls)
            record["layers"] = layers
            metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        else:
            metrics = {
                "setup_s": {"value": named["setup_s"][0], "unit": "s"},
                "op_p50_s": {"value": statistics.median(walls) if walls else 0.0, "unit": "s"},
                "peak_rss_mb": {"value": named["peak_rss_mb"][0], "unit": "MB"},
            }
    finally:
        if spark is not None:
            stop_session(spark, final=True)
        shutil.rmtree(run, ignore_errors=True)

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=2, sort_keys=True, default=str)

    for msg in failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print("KG_BENCH " + json.dumps({k: [v, u] for k, (v, u) in named.items()}), flush=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
