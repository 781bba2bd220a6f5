"""The three workloads. Each drives only public sparkrdf functions and times
every call from outside; each timed span is closed by an action the
workload performs anyway (a checkpoint write, a graph write, a merge, or a
result count/collect).

A workload object has:

- ``setup()``: builds inputs and any base graph (never timed as an op);
- ``op(k)``: one closed-loop operation, returning ``{"wall": s, ...}``;
- ``check_op(rec)``: failure messages for one operation;
- ``check_final()``: failure messages for the output as a whole;
- ``summary(ops)``: the workload's own end-to-end figures, by name.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import oracle

NAME = "kg"  # graph name: vertex/edge collection prefix
SAMPLE = 24  # pages per sample whose output is rebuilt independently


def gen_pages(spark, lo: int, n: int, path: str, batch_size: int | None = None):
    """Write pages ``[lo, lo + n)`` to Parquet; every row is
    ``sparkrdf.pages.page_row(i)`` (seed-free, a pure function of ``i``).
    With ``batch_size`` the table is partitioned by ``batch = (i - lo) //
    batch_size``."""
    import pandas as pd

    from sparkrdf.pages import PAGES_SCHEMA, page_row
    from sparkrdf.session import ensure_pyfiles

    ensure_pyfiles(spark)
    cols = ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            out = pd.DataFrame([page_row(i) for i in ids], columns=cols)
            if batch_size:
                out["batch"] = [(i - lo) // batch_size for i in ids]
            yield out

    schema = PAGES_SCHEMA + (", batch long" if batch_size else "")
    parts = max(spark.sparkContext.defaultParallelism, 4)
    w = spark.range(lo, lo + n, 1, parts).mapInPandas(gen, schema).write.mode("overwrite")
    if batch_size:
        w = w.partitionBy("batch")
    w.parquet(path)


def sample_indexes(lo: int, n: int, seed: int, k: int = SAMPLE) -> list[int]:
    """``k`` page indexes of ``[lo, lo + n)``, including a hot-skew row
    (``i % 100 == 0``) and a malformed-markup row (``i % 101 == 100``)."""
    import random

    rng = random.Random(seed)
    picks = set(rng.sample(range(lo, lo + n), min(k, n)))
    picks |= {i for i in range(lo, lo + min(n, 202)) if i % 100 == 0 or i % 101 == 100}
    return sorted(picks)


@contextmanager
def build_spans(tracer):
    """Spans around the layer calls inside ``run_extract_job``: each
    ``ResumableJob`` stage and the ``rpt_transform`` call (whose probe job is
    the only action it runs itself). The public functions are wrapped from
    outside for the duration of one build, in traced and untraced runs
    alike, so both execute the same code."""
    from sparkrdf import resume, rpt

    stage, multi_stage, rpt_transform = (
        resume.ResumableJob.stage,
        resume.ResumableJob.multi_stage,
        rpt.rpt_transform,
    )

    def traced_stage(job, name, fn):
        with tracer.span(f"resume.stage.{name}"):
            return stage(job, name, fn)

    def traced_multi_stage(job, name, fn):
        with tracer.span(f"resume.multi_stage.{name}"):
            return multi_stage(job, name, fn)

    def traced_rpt_transform(*args, **kwargs):
        with tracer.span("rpt.rpt_transform"):
            return rpt_transform(*args, **kwargs)

    resume.ResumableJob.stage = traced_stage
    resume.ResumableJob.multi_stage = traced_multi_stage
    rpt.rpt_transform = traced_rpt_transform
    try:
        yield
    finally:
        resume.ResumableJob.stage = stage
        resume.ResumableJob.multi_stage = multi_stage
        rpt.rpt_transform = rpt_transform


BUILD_SPANS = ["resume.stage.statements", "rpt.rpt_transform", "resume.multi_stage.rpt", "io.write_graph"]
MERGE_SPANS = ["extract.extract_triples", "io.merge_into_bucketed.vertices", "io.merge_into_bucketed.edges"]
ISOLATED_SPANS = ["extract.ner.detect_mention_surfaces_jvm", "extract.link.link_mentions", "rpt.with_term_keys"]


class Workload:
    min_ops = 3  # fewest measured ops per run
    max_ops = None  # inputs for at most this many ops exist

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.lo = seed * 10_000_000  # first page index

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check_op(self, rec) -> list[str]:
        return []

    def build_graph(self, pages, ckpt: str, out: str) -> dict:
        """pages → ``run_extract_job`` → ``write_graph``, as ``sparkrdf.job``
        does. Returns the graph tables, stage metrics and manifest."""
        from sparkrdf.io import write_graph
        from sparkrdf.resume import run_extract_job

        with build_spans(self.tracer):
            tables, metrics = run_extract_job(self.spark, pages, ckpt, name=NAME)
        with self.tracer.span("io.write_graph"):
            manifest = write_graph(
                {k: tables[k] for k in ("vertices", "edges", "edge_definitions")},
                out,
                name=NAME,
            )
        return {"tables": tables, "metrics": metrics, "manifest": manifest}

    def check_graph(self, out: str, manifest: dict) -> list[str]:
        """Manifest row counts equal the written tables; edge keys distinct."""
        from pyspark.sql import functions as F

        fails = []
        v = self.spark.read.parquet(os.path.join(out, "vertices"))
        e = self.spark.read.parquet(os.path.join(out, "edges"))
        n_v = v.count()
        row = e.agg(F.count("*").alias("n"), F.countDistinct("_key").alias("k")).first()
        if manifest["vertices_rows"] != n_v:
            fails.append(f"manifest vertices_rows {manifest['vertices_rows']} != table {n_v}")
        if manifest["edges_rows"] != row["n"]:
            fails.append(f"manifest edges_rows {manifest['edges_rows']} != table {row['n']}")
        if row["n"] != row["k"]:
            fails.append(f"edges _key not distinct: {row['n']} rows, {row['k']} keys")
        return fails

    def check_sample(self, statements, edges, indexes) -> list[str]:
        want = oracle.expected_statements(indexes)
        return oracle.check_statements(statements, want) + oracle.check_edges(edges, want, NAME)

    def isolated(self, pages):
        """Traced run only: NER, linking and term keying each timed alone to
        a noop sink on the workload's own pages. These layers are fused into
        their parent's Spark job, so these costs do not sum into any span."""
        from sparkrdf.extract.link import link_mentions
        from sparkrdf.extract.ner import detect_mention_surfaces_jvm
        from sparkrdf.extract.pipeline import extract_triples
        from sparkrdf.rpt import with_term_keys

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        pages = pages.localCheckpoint(eager=True)
        with self.tracer.span("extract.ner.detect_mention_surfaces_jvm"):
            noop(detect_mention_surfaces_jvm(pages))
        mentions = detect_mention_surfaces_jvm(pages).localCheckpoint(eager=True)
        with self.tracer.span("extract.link.link_mentions"):
            noop(link_mentions(self.spark, mentions))
        stmts = extract_triples(self.spark, pages).localCheckpoint(eager=True)
        with self.tracer.span("rpt.with_term_keys"):
            noop(with_term_keys(stmts))
        self.spark.catalog.clearCache()


class CrawlBuild(Workload):
    """The production batch job: pages table → ``run_extract_job`` →
    ``write_graph``, repeated from scratch each op."""

    def __init__(self, *args, n_pages: int):
        super().__init__(*args)
        self.n = n_pages
        self.first = None

    def setup(self):
        gen_pages(self.spark, self.lo, self.n, self.path("pages"))

    def pages(self):
        return self.spark.read.parquet(self.path("pages"))

    def op(self, k: int) -> dict:
        ckpt, out = self.path("ckpt"), self.path("out")
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        pages = self.pages()
        t0 = time.perf_counter()
        g = self.build_graph(pages, ckpt, out)
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        m = g["manifest"]
        by_stage = {s["stage"]: s["rows"] for s in g["metrics"]}
        return {
            "wall": wall,
            "triples": by_stage["statements"],
            "counts": (by_stage["statements"], m["vertices_rows"], m["edges_rows"]),
            "manifest": m,
        }

    def check_op(self, rec) -> list[str]:
        fails = self.check_graph(self.path("out"), rec["manifest"])
        if self.first is None:
            self.first = rec["counts"]
        elif rec["counts"] != self.first:
            fails.append(f"row counts {rec['counts']} != first build {self.first}")
        return fails

    def check_final(self) -> list[str]:
        statements = self.spark.read.parquet(self.path("ckpt", "stages", "statements"))
        edges = self.spark.read.parquet(self.path("out", "edges"))
        return self.check_sample(statements, edges, sample_indexes(self.lo, self.n, self.seed))

    def summary(self, ops) -> dict:
        job_s = statistics.median(o["wall"] for o in ops)
        return {
            "job_s": (job_s, "s"),
            "triples_per_s": (statistics.median(o["triples"] / o["wall"] for o in ops), "triples/s"),
        }


class IncrementalMerge(Workload):
    """A base graph in key-bucketed tables, then small fresh-page batches
    merged in with the parquet-bucketed streaming sink's composition:
    ``extract_triples(...).localCheckpoint`` → ``rpt_transform`` →
    ``merge_into_bucketed`` for vertices and edges."""

    def __init__(self, *args, base_pages: int, batch_pages: int, max_batches: int):
        super().__init__(*args)
        self.base = base_pages
        self.b = batch_pages
        self.max_ops = max_batches
        self.batch_lo = self.lo + base_pages

    def setup(self):
        from sparkrdf.io import merge_into_bucketed

        gen_pages(self.spark, self.lo, self.base, self.path("base_pages"))
        gen_pages(self.spark, self.batch_lo, self.b * self.max_ops, self.path("batches"), self.b)
        g = self.build_graph(self.spark.read.parquet(self.path("base_pages")), self.path("ckpt"), self.path("out"))
        for key in ("vertices", "edges"):
            merge_into_bucketed(self.spark, self.path("bucketed", key), g["tables"][key])
        self.spark.catalog.clearCache()

    def pages(self, k: int = 0):
        return self.spark.read.parquet(self.path("batches", f"batch={k}"))

    def op(self, k: int) -> dict:
        from sparkrdf.extract.pipeline import extract_triples
        from sparkrdf.io import merge_into_bucketed
        from sparkrdf.rpt import rpt_transform

        tr = self.tracer
        pages = self.pages(k)
        t0 = time.perf_counter()
        with tr.span("extract.extract_triples"):
            stmts = extract_triples(self.spark, pages).localCheckpoint(eager=True)
        with tr.span("rpt.rpt_transform"):
            graph = rpt_transform(stmts, NAME)
        with graph:
            for key in ("vertices", "edges"):
                with tr.span(f"io.merge_into_bucketed.{key}") as sp:
                    new = graph[key].localCheckpoint(eager=True)
                    touched = merge_into_bucketed(self.spark, self.path("bucketed", key), new)
                if tr.enabled:
                    sp.extra["touched_buckets"] = len(touched)
                    sp.extra["rewrite_ratio"] = self._rewritten(key, touched) / max(new.count(), 1)
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return {"wall": wall, "pages": self.b}

    def _rewritten(self, key: str, buckets: list[int]) -> int:
        from pyspark.sql import functions as F

        from sparkrdf.io import KEY_BUCKET_COL

        t = self.spark.read.parquet(self.path("bucketed", key))
        return t.filter(F.col(KEY_BUCKET_COL).isin(buckets)).count()

    def check_final(self) -> list[str]:
        """Both tables keep (collection, _key) distinct, every edge endpoint
        is a vertex, and sampled pages of the first batch match the oracle."""
        from pyspark.sql import functions as F

        fails = []
        v = self.spark.read.parquet(self.path("bucketed", "vertices"))
        e = self.spark.read.parquet(self.path("bucketed", "edges"))
        for key, t in (("vertices", v), ("edges", e)):
            row = t.agg(
                F.count("*").alias("n"), F.countDistinct("collection", "_key").alias("k")
            ).first()
            if row["n"] != row["k"]:
                fails.append(f"bucketed {key}: {row['n']} rows, {row['k']} distinct keys")
        ids = v.select(F.concat_ws("/", "collection", "_key").alias("id"))
        ends = e.select(F.col("_from").alias("id")).union(e.select(F.col("_to").alias("id")))
        dangling = ends.join(ids, "id", "left_anti").count()
        if dangling:
            fails.append(f"bucketed edges: {dangling} endpoints without a vertex")
        from sparkrdf.extract.pipeline import extract_triples

        statements = extract_triples(self.spark, self.pages(0))
        fails += self.check_sample(statements, e, sample_indexes(self.batch_lo, self.b, self.seed))
        return fails

    def summary(self, ops) -> dict:
        return {
            "batch_p50_s": (statistics.median(o["wall"] for o in ops), "s"),
            "ingest_pages_per_s": (sum(o["pages"] for o in ops) / sum(o["wall"] for o in ops), "pages/s"),
        }


QUERY_SPANS = [
    "sparql.sparql_query.select",
    "sparql.sparql_query.aggregate",
    "query.describe_cbd",
    "reason.rdfs_materialize",
    "reason.owl_materialize",
    "graphops.pagerank",
    "graphops.scc",
]


class KgQuery(Workload):
    """A fixed query mix over a statements table extracted at set-up. One op
    is one pass over the mix, one query after the other."""

    def __init__(self, *args, n_pages: int):
        super().__init__(*args)
        self.n = n_pages
        self.counts: dict[str, int] = {}
        fns = [self.q_select, self.q_aggregate, self.q_describe, self.q_rdfs, self.q_owl, self.q_pagerank, self.q_scc]
        self.queries = list(zip(QUERY_SPANS, fns))

    def setup(self):
        from sparkrdf import terms as T
        from sparkrdf.extract.gazetteer import CLS, PROP
        from sparkrdf.extract.pipeline import extract_triples
        from sparkrdf.reason import RDFS_RANGE, RDFS_SUBCLASS, RDFS_SUBPROP

        gen_pages(self.spark, self.lo, self.n, self.path("pages"))
        extract_triples(self.spark, self.pages()).write.mode("overwrite").parquet(self.path("statements"))
        self.spark.catalog.clearCache()
        onto = "s string, p string, o string"
        self.rdfs_onto = self.spark.createDataFrame(
            [
                (CLS + "Person", RDFS_SUBCLASS, CLS + "Agent"),
                (CLS + "Organization", RDFS_SUBCLASS, CLS + "Agent"),
                (CLS + "Agent", RDFS_SUBCLASS, CLS + "Thing"),
                (PROP + "mentions", RDFS_SUBPROP, PROP + "relatedTo"),
                (PROP + "relatedTo", RDFS_RANGE, CLS + "Thing"),
            ],
            onto,
        )
        # web pages never mention pages, so the transitive closure derives
        # nothing new; it still runs the closure gate and its chosen path
        self.owl_onto = self.spark.createDataFrame(
            [
                (PROP + "mentions", T.OWL_INVERSE_OF, PROP + "mentionedIn"),
                (PROP + "mentions", T.RDF_TYPE, T.OWL_TRANSITIVE),
            ],
            onto,
        )
        self.sample_iris = [oracle.page_iri(i) for i in sample_indexes(self.lo, self.n, self.seed)]

    def pages(self):
        return self.spark.read.parquet(self.path("pages"))

    def statements(self):
        return self.spark.read.parquet(self.path("statements"))

    def mention_edges(self):
        from pyspark.sql import functions as F

        from sparkrdf.extract.gazetteer import PREDICATES

        return self.statements().filter(F.col("p") == PREDICATES["mentions"]).select(
            F.col("s").alias("u"), F.col("o").alias("v")
        )

    def q_select(self) -> int:
        from sparkrdf.sparql import sparql_query

        return len(sparql_query(self.statements(), """
            PREFIX kgp: <http://kg.example.org/prop/>
            SELECT ?page ?n WHERE {
              ?page kgp:tokenCount ?n ; kgp:lang ?l .
              FILTER(?n > 60 && ?l = "en")
            } ORDER BY DESC(?n) ?page LIMIT 25
        """, numeric=("n",)).collect())

    def q_aggregate(self) -> int:
        from sparkrdf.sparql import sparql_query

        return len(sparql_query(self.statements(), """
            PREFIX kgp: <http://kg.example.org/prop/>
            SELECT ?e (COUNT(?page) AS ?pages) WHERE { ?page kgp:mentions ?e . }
            GROUP BY ?e
        """).collect())

    def q_describe(self) -> int:
        from sparkrdf.query import describe_cbd

        seeds = self.spark.createDataFrame([(s,) for s in self.sample_iris], "n string")
        return describe_cbd(self.statements(), seeds).count()

    def q_rdfs(self) -> int:
        from sparkrdf.reason import rdfs_materialize

        return rdfs_materialize(self.statements(), self.rdfs_onto).count()

    def q_owl(self) -> int:
        from sparkrdf.reason import owl_materialize

        return owl_materialize(self.statements(), self.owl_onto).count()

    def q_pagerank(self) -> int:
        from sparkrdf.graphops import pagerank

        return pagerank(self.mention_edges()).count()

    def q_scc(self) -> int:
        from sparkrdf.graphops import scc

        return scc(self.mention_edges()).count()

    def op(self, k: int) -> dict:
        queries = []
        for name, fn in self.queries:
            t0 = time.perf_counter()
            with self.tracer.span(name):
                n = fn()
            queries.append((name, time.perf_counter() - t0, n))
            self.spark.catalog.clearCache()
        return {"wall": sum(q[1] for q in queries), "queries": queries}

    def check_op(self, rec) -> list[str]:
        fails = []
        for name, _wall, n in rec["queries"]:
            first = self.counts.setdefault(name, n)
            if n != first or first == 0:
                fails.append(f"{name}: {n} rows, first run gave {first}")
        return fails

    def check_final(self) -> list[str]:
        want = oracle.expected_statements(sample_indexes(self.lo, self.n, self.seed))
        return oracle.check_statements(self.statements(), want)

    def summary(self, ops) -> dict:
        walls = [q[1] for o in ops for q in o["queries"]]
        return {
            "query_p50_s": (statistics.median(walls), "s"),
            "queries_per_s": (len(walls) / sum(walls), "q/s"),
        }
