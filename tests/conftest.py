import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# RDF fixture files, vendored into the repo (tests/data/rdf/, public
# Apache-2.0 corpus — see tests/data/rdf/ATTRIBUTION.md) so the suite runs
# standalone with zero skips. Env vars allow pointing at another checkout.
_HERE = os.path.dirname(os.path.abspath(__file__))
REF_RDF_DIR = os.environ.get(
    "SPARKRDF_REF_RDF_DIR", os.path.join(_HERE, "data", "rdf")
)
REF_META_DIR = os.environ.get(
    "SPARKRDF_REF_META_DIR",
    os.path.join(os.path.dirname(_HERE), "sparkrdf", "meta"),
)


def ref_case(name: str) -> str:
    path = os.path.join(REF_RDF_DIR, name)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"vendored fixture {name} missing from {REF_RDF_DIR}"
        )
    return path


def _driver_memory() -> str:
    """24g, capped at half the box's RAM: a fixed 24g heap gets the JVM
    OOM-killed on a 16 GB box."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb // 2)}m"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from sparkrdf.session import ensure_farmhash_jar

    builder = (
        SparkSession.builder.master("local[8]")
        # one long-lived JVM serves the whole suite; transforms cache
        # intermediates, so size the heap for accumulation and clear the SQL
        # cache in the memoized fixtures (see pgt_case/rpt_case)
        .config("spark.driver.memory", _driver_memory())
        # as sparkrdf.session.get_spark: pandas uploads and toPandas take
        # the Arrow path production runs, not the row-pickling fallback
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("sparkrdf-tests")
    )
    # JVM farmhash UDF: the suite runs the production (JVM) hash path;
    # the Python path keeps direct coverage via _make_pandas_udfs tests
    fh_jar = ensure_farmhash_jar()
    if fh_jar:
        builder = builder.config("spark.jars", fh_jar).config(
            "spark.driver.extraClassPath", fh_jar
        )
    spark = (
        builder.getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _clear_sql_cache(spark):
    """Drop cached plans after every test so the session-long JVM doesn't
    accumulate each transform's keyed.cache(). Cheap no-op when nothing is
    cached; the memoized fixture outputs are localCheckpointed RDD blocks
    and survive."""
    yield
    spark.catalog.clearCache()


@pytest.fixture(scope="session")
def pgt_case(spark):
    """Memoized, materialized PGT transform per fixture case. Graph name is
    derived from the case file ('G<case>'). Saves minutes of repeated
    transform work across test files."""
    from sparkrdf.pgt import pgt_transform
    from sparkrdf.ttl import parse_ttl_file, statements_df

    cache: dict = {}

    def get(case: str):
        if case not in cache:
            import re

            name = "G" + re.sub(r"\W+", "_", case.rsplit(".", 1)[0])
            stmts = statements_df(spark, parse_ttl_file(ref_case(case)))
            out = pgt_transform(stmts, name)
            out = {k: v.localCheckpoint(eager=True) for k, v in out.items()}
            cache[case] = (name, stmts, out)
        return cache[case]

    return get


@pytest.fixture(scope="session")
def rpt_case(spark):
    """Memoized, materialized RPT transform per fixture case (name 'R<case>')."""
    from sparkrdf.rpt import rpt_transform
    from sparkrdf.ttl import parse_ttl_file, statements_df

    cache: dict = {}

    def get(case: str):
        if case not in cache:
            import re

            name = "R" + re.sub(r"\W+", "_", case.rsplit(".", 1)[0])
            stmts = statements_df(spark, parse_ttl_file(ref_case(case)))
            out = rpt_transform(stmts, name)
            out = {k: v.localCheckpoint(eager=True) for k, v in out.items()}
            cache[case] = (name, stmts, out)
        return cache[case]

    return get
