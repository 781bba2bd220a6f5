"""Writer / manifest / merge-by-key / lineage tests, and the job group of
the build's concurrent jobs."""

import json
import os

from sparkrdf.io import merge_by_key, merge_edge_definitions, merge_properties_json, write_graph


def test_merge_properties_json():
    assert merge_properties_json(None, '{"a":1}') == '{"a":1}'
    assert merge_properties_json('{"a":1}', None) == '{"a":1}'
    out = json.loads(merge_properties_json('{"a":1,"b":2}', '{"b":3,"c":4}'))
    assert out == {"a": 1, "b": 3, "c": 4}


def test_merge_edge_definitions_union():
    existing = {"knows": {"from": ["Person"], "to": ["Person"]}}
    rows = [
        {"edge_collection": "knows", "from_cols": ["Robot"], "to_cols": ["Person"]},
        {"edge_collection": "owns", "from_cols": ["Person"], "to_cols": ["Thing"]},
    ]
    out = merge_edge_definitions(existing, rows)
    assert out["knows"]["from"] == ["Person", "Robot"]
    assert out["owns"] == {"from": ["Person"], "to": ["Thing"]}


def test_write_graph_and_resume(spark, tmp_path):
    base = str(tmp_path / "g")
    v = spark.createDataFrame(
        [("Person", "1", None), ("Person", "2", '{"x":1}')],
        "collection string, _key string, properties string",
    )
    e = spark.createDataFrame(
        [("knows", "9", "Person/1", "Person/2")],
        "collection string, _key string, _from string, _to string",
    )
    d = spark.createDataFrame(
        [("knows", ["Person"], ["Person"])],
        "edge_collection string, from_cols array<string>, to_cols array<string>",
    )
    m1 = write_graph({"vertices": v, "edges": e, "edge_definitions": d}, base, "r1")
    assert m1["vertices_rows"] == 2 and m1["edges_rows"] == 1
    # resume: second import with a new from-collection unions the manifest
    d2 = spark.createDataFrame(
        [("knows", ["Robot"], ["Person"])],
        "edge_collection string, from_cols array<string>, to_cols array<string>",
    )
    m2 = write_graph({"vertices": v, "edges": e, "edge_definitions": d2}, base, "r2")
    assert m2["edge_definitions"]["knows"]["from"] == ["Person", "Robot"]
    # lineage rows exist
    lineage = spark.read.parquet(os.path.join(base, "lineage"))
    assert lineage.filter("run_id = 'r1'").count() > 0
    assert lineage.filter("run_id = 'r2'").count() > 0
    # tables readable back, partitioned by collection
    vv = spark.read.parquet(os.path.join(base, "vertices"))
    assert vv.count() == 2 and "collection" in vv.columns


def test_merge_by_key_upsert(spark):
    old = spark.createDataFrame(
        [("P", "1", '{"a":1}', "u1"), ("P", "2", None, "u2")],
        "collection string, _key string, properties string, _uri string",
    )
    new = spark.createDataFrame(
        [("P", "2", '{"b":2}', "u2b"), ("P", "3", None, "u3")],
        "collection string, _key string, properties string, _uri string",
    )
    out = {r["_key"]: r for r in merge_by_key(old, new).collect()}
    assert set(out) == {"1", "2", "3"}
    assert out["1"]["properties"] == '{"a":1}' and out["1"]["_uri"] == "u1"
    assert json.loads(out["2"]["properties"]) == {"b": 2}
    assert out["2"]["_uri"] == "u2b"
    # idempotence: merging the same new batch again converges
    again = {r["_key"]: r for r in merge_by_key(merge_by_key(old, new), new).collect()}
    assert {k: (v["properties"], v["_uri"]) for k, v in out.items()} == {
        k: (v["properties"], v["_uri"]) for k, v in again.items()
    }


def test_merge_by_key_schema_violation_raises(spark):
    """Mirror of reference test_pgt_import_exception_from_schema_violation
    (test_main.py:5331-5379): a batch whose schema drifted from the stored
    table raises loudly instead of silently corrupting the merge."""
    import pytest

    from sparkrdf.io import merge_by_key

    old = spark.createDataFrame(
        [("C", "1", "u")], "collection string, _key string, _uri string"
    )
    drifted = spark.createDataFrame(
        [("C", "1", 5)], "collection string, _key string, rank int"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_by_key(old, drifted)


def test_merge_into_bucketed(spark, tmp_path):
    """Bucketed incremental sink: only the key-buckets a batch touches are
    rewritten (untouched partition files survive byte-identical), merged
    properties follow merge_by_key semantics, and replaying the same batch
    is idempotent (the crash-recovery contract)."""
    import glob
    import json as _json
    import os

    from sparkrdf.io import merge_into_bucketed

    path = str(tmp_path / "tbl")
    # engine-canonical compact rendering (merge_properties_json re-renders
    # with sort_keys + compact separators; byte-level replay idempotence is
    # only promised for canonical inputs)
    dumps = lambda d: _json.dumps(d, sort_keys=True, separators=(",", ":"))
    base = spark.createDataFrame(
        [("C", f"k{i}", dumps({"a": i})) for i in range(50)],
        "collection string, _key string, properties string",
    )
    merge_into_bucketed(spark, path, base, n_buckets=8)

    before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/_kb=*/*.parquet")
    }
    batch = spark.createDataFrame(
        [("C", "k2", dumps({"b": 3})), ("C", "k999", dumps({"a": -1}))],
        "collection string, _key string, properties string",
    )
    touched = merge_into_bucketed(spark, path, batch, n_buckets=8)
    assert 1 <= len(touched) <= 2 < 8

    rows = {r["_key"]: r["properties"] for r in spark.read.parquet(path).collect()}
    assert len(rows) == 51
    assert _json.loads(rows["k2"]) == {"a": 2, "b": 3}  # merged, new wins
    assert _json.loads(rows["k999"]) == {"a": -1}  # inserted
    assert _json.loads(rows["k7"]) == {"a": 7}  # untouched

    # untouched buckets were not rewritten
    touched_dirs = {f"{path}/_kb={t}" for t in touched}
    untouched = [
        f for f in before
        if not any(f.startswith(d + "/") for d in touched_dirs)
    ]
    assert untouched  # 8 buckets, <=2 touched: some must remain
    for f in untouched:
        assert os.path.exists(f) and os.path.getmtime(f) == before[f]

    # replay idempotence
    merge_into_bucketed(spark, path, batch, n_buckets=8)
    rows2 = {r["_key"]: r["properties"] for r in spark.read.parquet(path).collect()}
    assert rows2 == rows


def test_write_graph_file_uri_roundtrip(spark, tmp_path):
    """write_graph / read_graph resolve the base through the Hadoop FS API:
    a scheme-qualified file:// URI behaves like a POSIX path (and on a real
    cluster hdfs:// / s3a:// resolve the same way)."""
    from sparkrdf.io import read_graph

    base = f"file://{tmp_path}/g-uri"
    v = spark.createDataFrame(
        [("Person", "1", None)], "collection string, _key string, properties string"
    )
    e = spark.createDataFrame(
        [("knows", "9", "Person/1", "Person/1")],
        "collection string, _key string, _from string, _to string",
    )
    d = spark.createDataFrame(
        [("knows", ["Person"], ["Person"])],
        "edge_collection string, from_cols array<string>, to_cols array<string>",
    )
    m1 = write_graph({"vertices": v, "edges": e, "edge_definitions": d}, base, "r1")
    assert m1["vertices_rows"] == 1
    # manifest landed at the URI target and reads back through the same API
    assert os.path.exists(os.path.join(str(tmp_path / "g-uri"), "graph.manifest.json"))
    g = read_graph(spark, base)
    assert g["vertices"].count() == 1 and g["edges"].count() == 1
    assert g["manifest"]["edge_definitions"]["knows"]["from"] == ["Person"]


def test_build_jobs_stay_in_callers_job_group(spark, tmp_path):
    """run_extract_job and write_graph start jobs from driver threads; every
    one of them is in the caller's job group, none is left without one."""
    from sparkrdf.pages import synthesize_pages
    from sparkrdf.resume import run_extract_job

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    pages = synthesize_pages(spark, 40)
    drain(60_000)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("build-in-threads", "run_extract_job + write_graph")
    try:
        tables, _ = run_extract_job(spark, pages, str(tmp_path / "ckpt"))
        write_graph(
            {k: tables[k] for k in ("vertices", "edges", "edge_definitions")},
            str(tmp_path / "out"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    drain(60_000)
    # statements + 3 rpt table writes (several jobs each under AQE) +
    # write_graph's 2 table writes and edge_definitions collect
    assert len(tracker.getJobIdsForGroup("build-in-threads")) >= 13
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_lineage_dir_reads_spark_and_driver_written_files(spark, tmp_path):
    """A lineage directory holding an append Spark wrote and one the driver
    wrote reads back as one table with the lineage schema."""
    from pyspark.sql import functions as F

    from sparkrdf.io import write_lineage
    from sparkrdf.localdf import local_rows_df

    base = str(tmp_path)
    schema = (
        "run_id string, stage string, partition_id int, input_rows long, "
        "output_rows long, status string"
    )
    local_rows_df(spark, [("r1", "s", 0, 4, 4, "computed")], schema).withColumn(
        "written_at", F.lit("2026-01-01T00:00:00Z")
    ).coalesce(1).write.mode("append").parquet(os.path.join(base, "lineage"))
    write_lineage(spark, base, "r2", "s", [(1, 5, 5, "resumed")])
    want = (
        "struct<run_id:string,stage:string,partition_id:int,input_rows:bigint,"
        "output_rows:bigint,status:string,written_at:string>"
    )
    for merge in ("false", "true"):
        lineage = spark.read.option("mergeSchema", merge).parquet(os.path.join(base, "lineage"))
        assert lineage.schema.simpleString() == want
        got = sorted(tuple(r)[:6] for r in lineage.collect())
        assert got == [("r1", "s", 0, 4, 4, "computed"), ("r2", "s", 1, 5, 5, "resumed")]


def test_write_graph_manifest_equals_written_tables(spark, tmp_path):
    """Counts and vertex collections come from the written files; they equal
    direct counts of the tables, a vertex-only collection included (its
    name needs escaping in a partition directory)."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "g")
    v = spark.createDataFrame(
        [("Person", str(i), None) for i in range(7)] + [("Odd class: 50%/x", "c", None)],
        "collection string, _key string, properties string",
    ).repartition(3)
    e = spark.createDataFrame(
        [("knows", str(i), f"Person/{i}", f"Person/{i + 1}") for i in range(6)],
        "collection string, _key string, _from string, _to string",
    ).repartition(2)
    d = spark.createDataFrame(
        [("knows", ["Person"], ["Person"])],
        "edge_collection string, from_cols array<string>, to_cols array<string>",
    )
    m = write_graph({"vertices": v, "edges": e, "edge_definitions": d}, base, "r1")
    vv = spark.read.parquet(os.path.join(base, "vertices"))
    ee = spark.read.parquet(os.path.join(base, "edges"))
    assert m["vertices_rows"] == vv.count() == 8
    assert m["edges_rows"] == ee.count() == 6
    assert m["vertex_collections"] == sorted(
        r[0] for r in vv.select("collection").distinct().collect()
    ) == ["Odd class: 50%/x", "Person"]
    lineage = spark.read.parquet(os.path.join(base, "lineage"))
    assert lineage.agg(F.sum("output_rows")).first()[0] == 14
