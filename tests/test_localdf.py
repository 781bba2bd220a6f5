"""sparkrdf.localdf.local_rows_df — the one upload path for driver-built
tables: same values as ``createDataFrame(list, schema)``, but kept in the
JVM as a ``LocalTableScan`` leaf (no Python-fed ``Scan ExistingRDD``)."""

import pytest

from sparkrdf.localdf import local_rows_df

CASES = {
    "flat": (
        "s string, i long, n int, d double",
        [("a", 1, 7, 1.5), ("b", 2**40, -3, -0.25)],
    ),
    "array": (
        "k string, xs array<string>, ns array<int>",
        [("a", ["x", "y"], [1, 2]), ("b", [], []), ("c", None, [None, 3]), ("d", ["z", "w"], None)],
    ),
    "null_string": ("s string, t string", [("a", None), (None, "b"), (None, None)]),
    "null_int": (
        "n int, m long, f boolean",
        [(1, None, True), (None, 2**62 + 1, None), (3, -1, False), (None, None, None)],
    ),
    "empty": ("s string, n long, xs array<string>", []),
}


def _leaf(df) -> str:
    """Name of the executed plan's leaf node."""
    return df._jdf.queryExecution().executedPlan().collectLeaves().head().nodeName()


def _jobs_of(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_rows_df_matches_list_upload(spark, case):
    ddl, rows = CASES[case]
    want = spark.createDataFrame(rows, ddl)
    got = local_rows_df(spark, rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # a consumer of the upload runs over the JVM relation, not a Python RDD
    agg = got.groupBy().count()
    assert agg.first()[0] == len(rows)
    if rows:
        assert _leaf(got) == "LocalTableScan"
        assert "ExistingRDD" not in agg._jdf.queryExecution().executedPlan().toString()


def test_local_rows_df_empty_runs_no_task(spark):
    ddl, rows = CASES["empty"]
    df = local_rows_df(spark, rows, ddl)
    assert _jobs_of(spark, "localdf-empty", df.collect) == []
    assert _leaf(df) == "LocalTableScan"


def test_local_rows_df_schema_forms_and_arrow_off(spark):
    """StructType, (name, type) pairs and DDL give one schema; the plan
    guarantee does not depend on the pandas-Arrow session flag."""
    from pyspark.sql.types import LongType, StringType

    rows = [("a", 1), ("b", None)]
    pairs = [("s", StringType()), ("n", LongType())]
    by_ddl = local_rows_df(spark, rows, "s string, n long")
    assert local_rows_df(spark, rows, pairs).schema == by_ddl.schema
    assert local_rows_df(spark, rows, by_ddl.schema).collect() == by_ddl.collect()
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        off = local_rows_df(spark, rows, pairs)
        assert off.collect() == by_ddl.collect()
        assert _leaf(off) == "LocalTableScan"
    finally:
        spark.conf.set(key, prior)
