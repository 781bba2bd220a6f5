"""Checkpoint-resumable job orchestration with per-stage lineage.

The north rule requires the extraction job to be "checkpoint-resumable with
per-partition lineage and triple-count metrics". The building blocks already
exist (idempotent merge in :mod:`sparkrdf.io`, deterministic keys
everywhere); this module is the explicit orchestrator on top of them:

- each stage writes its output as a Parquet checkpoint under
  ``{ckpt_dir}/stages/{name}``; Spark's ``_SUCCESS`` marker is the commit
  record, so a crash mid-write leaves an uncommitted directory that the next
  run detects and recomputes (the write itself is the atomicity boundary —
  no external coordinator);
- a completed stage is **never recomputed**: resume loads the checkpoint and
  downstream stages read from it, so re-running a half-finished job costs
  only the unfinished suffix;
- per-partition lineage rows (run_id, stage, partition_id, output_rows,
  status computed|resumed) append to ``{ckpt_dir}/lineage`` via
  :func:`sparkrdf.io.write_lineage`, and a ``.metrics.json`` sidecar per
  stage records row counts at compute time so resumed runs report metrics
  without rescanning data.

The bookkeeping runs once per unit of work and starts no Spark job. A
freshly written checkpoint is read back ONCE, with the schema of the frame
just written (no footer inference job), and that DataFrame is returned. Its
per-partition counts come from what was written: the Parquet footers of its
files, read on the driver (:func:`sparkrdf.io.written_counts`), so a
lineage row's ``partition_id`` is the partition of the task that wrote the
rows (the ``part-NNNNN`` of the file name), not a split of a later read. A
zero-row table has no partitions and gets no lineage row. Each committed
stage makes ONE lineage append: a multi-table stage writes its tables' rows
together, so they share a ``written_at``. The append is one Parquet file
the driver builds and writes through the Hadoop FS
(:func:`sparkrdf.io.write_lineage`). A resumed stage reads its checkpoint
with the schema inferred from the files, and its counts from the sidecar.

Concurrency contract (shared by :func:`sparkrdf.io.write_graph`):

- the tables of one stage share no data dependency, so they are written
  concurrently, one driver thread per table
  (:func:`sparkrdf.session.run_concurrently`); each thread runs its table's
  whole chain: write, read-back, footer counts, ``.metrics.json``;
- the commit marker comes last: ``.outputs.json`` is written only after
  every table committed, and if any table fails the error is raised after
  the sibling threads finish, with no marker, so the stage reruns whole;
- the one lineage append follows the commit marker and covers all tables;
- the threads inherit the caller's job group, job description and local
  properties, so every job is attributed to the caller as before. Their
  jobs overlap, so their summed job time exceeds the caller's wall time.

Scale note: the checkpoint write is a full materialization per stage — at
100 TB that is exactly what you want between the expensive phases (NER,
linking, RPT) anyway, because it is simultaneously the shuffle barrier that
stops upstream re-execution and the resume point. Stage outputs inherit the
upstream partitioning; no extra shuffle is introduced by checkpointing.

Reference: ArangoRDF has no resume story (a crashed ``insert_many`` import
restarts from scratch; main.py:3916-3970 relies on overwrite_mode="update"
for idempotence only). This is a from-scratch design for the Spark model.
"""

from __future__ import annotations

import json
import posixpath
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from sparkrdf.fsutil import fs_delete, fs_exists, fs_mkdirs, fs_read_text, fs_write_text
from sparkrdf.io import rows_by_part, write_lineage, written_counts
from sparkrdf.session import run_concurrently


class ResumableJob:
    """Stage-by-stage checkpointed run rooted at ``ckpt_dir``.

    Usage::

        job = ResumableJob(spark, "/data/run-ckpt", run_id="crawl-2026-08")
        stmts = job.stage("statements", lambda: extract_triples(spark, pages))
        graph = job.multi_stage("rpt", lambda: rpt_transform(stmts, "kg"))
        job.metrics()   # [{stage, rows, status, partitions}, ...]
    """

    def __init__(self, spark: SparkSession, ckpt_dir: str, run_id: str = "run0"):
        self.spark = spark
        self.ckpt_dir = ckpt_dir
        self.run_id = run_id
        self._metrics: list[dict] = []
        # Hadoop FS, not os.makedirs: the checkpoint root may be HDFS/S3A
        fs_mkdirs(spark, posixpath.join(ckpt_dir, "stages"))

    def _success(self, path: str) -> bool:
        return fs_exists(self.spark, posixpath.join(path, "_SUCCESS"))

    # -- core ------------------------------------------------------------
    def stage(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """Run (or resume) one stage; return its checkpointed DataFrame.

        ``fn`` is only invoked when the checkpoint is absent or uncommitted.
        The returned DataFrame always reads from the checkpoint, so
        downstream stages never re-execute this stage's plan.
        """
        out = posixpath.join(self.ckpt_dir, "stages", name)
        if self._success(out):
            df = self.spark.read.parquet(out)
            self._commit([self._counts(name, out, "resumed")])
            return df
        # crash artifact: directory exists but the write never committed
        fs_delete(self.spark, out)
        df = self._checkpoint(fn(), out)
        self._commit([self._counts(name, out, "computed")])
        return df

    def multi_stage(
        self, name: str, fn: Callable[[], dict]
    ) -> dict[str, DataFrame]:
        """A stage whose transform yields several tables (e.g. rpt_transform's
        vertices/edges/edge_definitions). The transform runs ONCE; each output
        is checkpointed under ``stages/{name}/{key}``; the stage resumes only
        if every output committed."""
        base = posixpath.join(self.ckpt_dir, "stages", name)
        keys_path = posixpath.join(base, ".outputs.json")
        if fs_exists(self.spark, keys_path):
            keys = json.loads(fs_read_text(self.spark, keys_path))
            if all(self._success(posixpath.join(base, k)) for k in keys):
                out, done = {}, []
                for k in keys:
                    p = posixpath.join(base, k)
                    out[k] = self.spark.read.parquet(p)
                    done.append(self._counts(f"{name}/{k}", p, "resumed"))
                self._commit(done)
                return out
        fs_delete(self.spark, base)
        tables = fn()
        fs_mkdirs(self.spark, base)

        def write(k: str, df: DataFrame):
            p = posixpath.join(base, k)
            back = self._checkpoint(df, p)
            return back, self._counts(f"{name}/{k}", p, "computed")

        release = getattr(tables, "release", None)
        try:
            written = run_concurrently(*(partial(write, k, df) for k, df in tables.items()))
            # commit marker for the stage as a whole: written LAST, so a failed
            # or crashed table write leaves no .outputs.json and the stage reruns
            fs_write_text(self.spark, keys_path, json.dumps(sorted(tables.keys())))
            self._commit([counts for _, counts in written])
        finally:
            if callable(release):
                release()
        return {k: back for k, (back, _) in zip(tables, written)}

    def _checkpoint(self, df: DataFrame, path: str) -> DataFrame:
        """Write ``df`` to ``path``; read it back ONCE with the schema just
        written, so no job re-infers it from the Parquet footers."""
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    # -- metrics ----------------------------------------------------------
    def _counts(self, stage: str, path: str, status: str) -> tuple:
        """(stage, status, [(partition_id, rows)]) of a checkpoint. A
        computed checkpoint is counted from its files' footers and gets a
        ``.metrics.json`` sidecar; a resumed one reads the sidecar, or
        counts its footers if it has none."""
        sidecar = posixpath.join(path, ".metrics.json")
        if status == "computed" or not fs_exists(self.spark, sidecar):
            counts = rows_by_part(written_counts(self.spark, path))
            fs_write_text(self.spark, sidecar, json.dumps({"partition_rows": counts}))
        else:
            counts = [
                tuple(t)
                for t in json.loads(fs_read_text(self.spark, sidecar))["partition_rows"]
            ]
        return stage, status, counts

    def _commit(self, done: list[tuple]):
        """One lineage append for a committed stage's tables, then metrics."""
        write_lineage(
            self.spark,
            self.ckpt_dir,
            self.run_id,
            None,
            [(stage, p, c, c, status) for stage, status, counts in done for p, c in counts],
        )
        for stage, status, counts in done:
            self._metrics.append(
                {
                    "stage": stage,
                    "status": status,
                    "rows": sum(c for _, c in counts),
                    "partitions": len(counts),
                }
            )

    def metrics(self) -> list[dict]:
        """Per-stage summary of THIS run (triple-count metrics: the
        ``statements`` stage's ``rows`` is the triple count)."""
        return list(self._metrics)


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    ckpt_dir: str,
    run_id: str = "run0",
    name: str = "kg",
) -> tuple[dict[str, DataFrame], list[dict]]:
    """The flagship pipeline (pages → statements → RPT tables), resumable.

    Returns ({statements, vertices, edges, edge_definitions}, metrics).
    Killing the job after any stage and re-running with the same
    ``ckpt_dir`` resumes from the first unfinished stage.
    """
    from sparkrdf.extract.pipeline import extract_triples
    from sparkrdf.rpt import rpt_transform

    job = ResumableJob(spark, ckpt_dir, run_id=run_id)
    stmts = job.stage("statements", lambda: extract_triples(spark, pages))
    graph = job.multi_stage("rpt", lambda: rpt_transform(stmts, name))
    return (
        {
            "statements": stmts,
            "vertices": graph["vertices"],
            "edges": graph["edges"],
            "edge_definitions": graph["edge_definitions"],
        },
        job.metrics(),
    )
