"""Checkpoint-resume orchestration (sparkrdf/resume.py) — the north rule's
"checkpoint-resumable with per-partition lineage and triple-count metrics".

Covers: fresh run, exact resume (transforms NOT re-invoked), crash-artifact
recovery (uncommitted checkpoint recomputed), a table failing while its
siblings are written concurrently, and lineage/metrics contents.
"""

import json
import os
import shutil

import pytest

from sparkrdf.pages import synthesize_pages
from sparkrdf.resume import ResumableJob, run_extract_job


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, 300).cache()


def _table_fingerprint(df):
    """Order-insensitive content fingerprint."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(df.columns)]
    row_hash = F.xxhash64(*cols).cast("decimal(38,0)")  # decimal: no ANSI overflow
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_hash).alias("h"),
    ).collect()[0]
    return (r["n"], r["h"])


def test_fresh_run_writes_commits_and_metrics(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    tables, metrics = run_extract_job(spark, pages, ckpt, run_id="r1")

    assert tables["statements"].count() > 0
    assert tables["vertices"].count() > 0
    assert tables["edges"].count() > 0

    # every stage committed (Spark _SUCCESS marker)
    for stage in ["statements", "rpt/vertices", "rpt/edges", "rpt/edge_definitions"]:
        assert os.path.exists(os.path.join(ckpt, "stages", stage, "_SUCCESS"))

    # metrics: all computed, triple count == statements rows
    by_stage = {m["stage"]: m for m in metrics}
    assert all(m["status"] == "computed" for m in metrics)
    assert by_stage["statements"]["rows"] == tables["statements"].count()
    assert by_stage["statements"]["partitions"] >= 1

    # per-partition lineage persisted and queryable
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    assert set(lineage.columns) >= {
        "run_id", "stage", "partition_id", "output_rows", "status",
    }
    stmt_rows = (
        lineage.filter("stage = 'statements' and run_id = 'r1'")
        .groupBy()
        .sum("output_rows")
        .collect()[0][0]
    )
    assert stmt_rows == by_stage["statements"]["rows"]


TABLES = {
    "statements": "statements",
    "rpt/vertices": "vertices",
    "rpt/edges": "edges",
    "rpt/edge_definitions": "edge_definitions",
}


def _lineage_rows(spark, ckpt, run_id, status):
    """stage -> summed output_rows of one run's lineage rows of ``status``."""
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    return {
        r["stage"]: r["n"]
        for r in lineage.filter(f"run_id = '{run_id}' and status = '{status}'")
        .groupBy("stage")
        .agg({"output_rows": "sum"})
        .withColumnRenamed("sum(output_rows)", "n")
        .collect()
    }


def _lineage_files(ckpt):
    d = os.path.join(ckpt, "lineage")
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_lineage_contract_every_table(spark, pages, tmp_path):
    """Every stage table's summed lineage output_rows equals its row count
    and its metrics rows, computed and resumed; each committed stage is one
    lineage append (one file), its tables' rows together."""
    ckpt = str(tmp_path / "ckpt")
    tables, metrics = run_extract_job(spark, pages, ckpt, run_id="r1")
    rows = {m["stage"]: m["rows"] for m in metrics}
    counts = {stage: tables[t].count() for stage, t in TABLES.items()}
    assert counts["rpt/edge_definitions"] == 1
    assert rows == counts
    assert _lineage_rows(spark, ckpt, "r1", "computed") == counts
    assert len(_lineage_files(ckpt)) == 2  # statements, rpt

    _, metrics2 = run_extract_job(spark, pages, ckpt, run_id="r2")
    assert {m["stage"]: m["rows"] for m in metrics2} == counts
    assert all(m["status"] == "resumed" for m in metrics2)
    assert _lineage_rows(spark, ckpt, "r2", "resumed") == counts
    assert len(_lineage_files(ckpt)) == 4
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    for run_id in ("r1", "r2"):
        n_stamps = (
            lineage.filter(f"run_id = '{run_id}' and stage like 'rpt/%'")
            .select("written_at").distinct().count()
        )
        assert n_stamps == 1


def test_resume_skips_completed_stages(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    tables1, _ = run_extract_job(spark, pages, ckpt, run_id="r1")
    fp1 = {k: _table_fingerprint(v) for k, v in tables1.items()}

    calls = []
    job = ResumableJob(spark, ckpt, run_id="r2")
    stmts = job.stage("statements", lambda: calls.append("statements") or None)
    from sparkrdf.rpt import rpt_transform

    graph = job.multi_stage("rpt", lambda: calls.append("rpt") or None)

    # the transforms were never invoked — resume loaded the checkpoints
    assert calls == []
    assert all(m["status"] == "resumed" for m in job.metrics())

    fp2 = {
        "statements": _table_fingerprint(stmts),
        "vertices": _table_fingerprint(graph["vertices"]),
        "edges": _table_fingerprint(graph["edges"]),
        "edge_definitions": _table_fingerprint(graph["edge_definitions"]),
    }
    for k, v in fp2.items():
        assert v == fp1[k], f"resumed {k} differs from computed run"

    # lineage has both runs, statuses distinguish them
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    statuses = {
        (r["run_id"], r["status"])
        for r in lineage.select("run_id", "status").distinct().collect()
    }
    assert ("r1", "computed") in statuses
    assert ("r2", "resumed") in statuses


def test_crash_artifact_is_recomputed(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    tables1, _ = run_extract_job(spark, pages, ckpt, run_id="r1")
    fp_stmts = _table_fingerprint(tables1["statements"])
    fp_edges = _table_fingerprint(tables1["edges"])

    # simulate a crash mid-write: the statements checkpoint lost its commit
    # marker (partial files remain), and the rpt stage never started
    os.remove(os.path.join(ckpt, "stages", "statements", "_SUCCESS"))
    shutil.rmtree(os.path.join(ckpt, "stages", "rpt"))

    tables2, metrics = run_extract_job(spark, pages, ckpt, run_id="r2")
    by_stage = {m["stage"]: m["status"] for m in metrics}
    assert by_stage["statements"] == "computed"  # recomputed, not trusted
    assert by_stage["rpt/edges"] == "computed"

    assert _table_fingerprint(tables2["statements"]) == fp_stmts
    assert _table_fingerprint(tables2["edges"]) == fp_edges


def test_crash_between_multi_stage_tables_reruns_stage(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    tables1, _ = run_extract_job(spark, pages, ckpt, run_id="r1")
    fp_v = _table_fingerprint(tables1["vertices"])

    # crash AFTER vertices committed but BEFORE the stage commit marker:
    # .outputs.json is written last, so removing it models that window
    os.remove(os.path.join(ckpt, "stages", "rpt", ".outputs.json"))

    tables2, metrics = run_extract_job(spark, pages, ckpt, run_id="r2")
    by_stage = {m["stage"]: m["status"] for m in metrics}
    assert by_stage["statements"] == "resumed"
    assert by_stage["rpt/vertices"] == "computed"
    assert _table_fingerprint(tables2["vertices"]) == fp_v


def test_checkpoint_root_as_file_uri(spark, pages, tmp_path):
    """The checkpoint root resolves through the Hadoop FileSystem API, so a
    scheme-qualified URI (file://, and on a cluster hdfs:// / s3a://) works
    the same as a bare POSIX path — os.path/open() would not."""
    ckpt = f"file://{tmp_path}/ckpt-uri"
    tables1, metrics1 = run_extract_job(spark, pages, ckpt, run_id="r1")
    assert all(m["status"] == "computed" for m in metrics1)
    fp1 = _table_fingerprint(tables1["statements"])

    # sidecars + commit markers landed where the URI points
    local = str(tmp_path / "ckpt-uri")
    assert os.path.exists(os.path.join(local, "stages", "statements", "_SUCCESS"))
    assert os.path.exists(os.path.join(local, "stages", "rpt", ".outputs.json"))
    assert os.path.exists(
        os.path.join(local, "stages", "statements", ".metrics.json")
    )

    tables2, metrics2 = run_extract_job(spark, pages, ckpt, run_id="r2")
    assert all(m["status"] == "resumed" for m in metrics2)
    assert _table_fingerprint(tables2["statements"]) == fp1


def test_failed_table_leaves_stage_uncommitted(spark, tmp_path):
    """One table of a multi-table stage fails at execution: the error is
    raised after the sibling tables finished, the stage gets no commit
    marker and no lineage row, and a rerun recomputes every table."""
    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ckpt")
    base = os.path.join(ckpt, "stages", "multi")

    def tables(fail):
        bad = F.raise_error(F.lit("injected table failure")).cast("long") if fail else F.col("id")
        return {
            "a": spark.range(0, 2000, numPartitions=4),
            "b": spark.range(0, 10).select(bad.alias("id")),
            "c": spark.range(0, 300, numPartitions=2),
        }

    job = ResumableJob(spark, ckpt, run_id="r1")
    with pytest.raises(Exception, match="injected table failure"):
        job.multi_stage("multi", lambda: tables(True))
    # the siblings ran to the end: committed and counted
    for k in ("a", "c"):
        assert os.path.exists(os.path.join(base, k, "_SUCCESS"))
        assert os.path.exists(os.path.join(base, k, ".metrics.json"))
    assert not os.path.exists(os.path.join(base, ".outputs.json"))
    assert not os.path.exists(os.path.join(ckpt, "lineage"))
    assert job.metrics() == []

    job2 = ResumableJob(spark, ckpt, run_id="r2")
    out = job2.multi_stage("multi", lambda: tables(False))
    assert {m["stage"]: (m["status"], m["rows"]) for m in job2.metrics()} == {
        "multi/a": ("computed", 2000),
        "multi/b": ("computed", 10),
        "multi/c": ("computed", 300),
    }
    assert out["b"].count() == 10
    assert _lineage_rows(spark, ckpt, "r2", "computed") == {"multi/a": 2000, "multi/b": 10, "multi/c": 300}
    assert json.loads(open(os.path.join(base, ".outputs.json")).read()) == ["a", "b", "c"]


def _job_ids(spark, group, fn):
    """Ids of the Spark jobs ``fn()`` starts, under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_bookkeeping_starts_no_spark_job(spark, tmp_path):
    """Counting a written checkpoint reads its footers and a lineage append
    writes one file from the driver: neither starts a Spark job. The
    counts are per writing task: 10 rows written by 3 tasks are (3, 3, 4)."""
    from sparkrdf.io import write_lineage

    ckpt = str(tmp_path / "ckpt")
    path = os.path.join(ckpt, "stages", "ten")
    spark.range(0, 10, numPartitions=3).write.parquet(path)
    job = ResumableJob(spark, ckpt, run_id="r1")
    done = []
    assert _job_ids(spark, "counts", lambda: done.append(job._counts("ten", path, "computed"))) == []
    assert done == [("ten", "computed", [(0, 3), (1, 3), (2, 4)])]
    rows = [("ten", p, c, c, "computed") for p, c in done[0][2]]
    assert _job_ids(spark, "lineage", lambda: write_lineage(spark, ckpt, "r1", None, rows)) == []
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    assert sorted((r["partition_id"], r["output_rows"]) for r in lineage.collect()) == [
        (0, 3), (1, 3), (2, 4),
    ]


def test_empty_stage_has_no_partitions_and_no_lineage_row(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    for run_id, status in (("r1", "computed"), ("r2", "resumed")):
        job = ResumableJob(spark, ckpt, run_id=run_id)
        assert job.stage("empty", lambda: spark.range(0)).count() == 0
        assert job.metrics() == [
            {"stage": "empty", "status": status, "rows": 0, "partitions": 0}
        ]
    assert spark.read.parquet(os.path.join(ckpt, "lineage")).count() == 0
