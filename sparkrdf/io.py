"""Table writer: partitioned Parquet with manifest, lineage, and
merge-by-key resume semantics.

The reference writes to ArangoDB with ``insert_many(overwrite_mode="update",
merge=True)`` (main.py:3916-3970) and patches graph edge definitions by
unioning from/to collection sets (main.py:3278-3364). Here:

- vertices/edges → Parquet partitioned by ``collection`` (an Iceberg catalog
  slots in transparently when ``spark.sql.catalog.*`` is configured — the
  logical layout is identical; this sandbox has no Iceberg runtime jar);
- ``edge_definitions`` → JSON manifest, read-modify-write unioning with any
  existing definitions (multi-import behavior, tests/test_main.py:4928-4997);
- D2 upsert-merge: :func:`merge_by_key` merges property JSON objects per
  (collection, _key), new values winning per property key — the
  checkpoint/resume primitive (idempotent: re-running a completed stage
  converges to the same table);
- lineage: per-run (run_id, stage, partition_id, input_rows, output_rows,
  status) appended to ``{base}/lineage`` — the north rule's per-partition
  lineage + metrics.

Bookkeeping starts no Spark job. Row counts come from what was written:
:func:`written_counts` reads the Parquet footers of the committed files on
the driver (O(files) metadata reads, like the commit's own renames), so
``partition_id`` names the partition of the task that wrote the rows (the
``part-NNNNN`` of its file name), not a split of a later read. A lineage
append is one Parquet file the driver builds with pyarrow and writes
through the Hadoop FS (:func:`write_lineage`).
"""

from __future__ import annotations

import json
import posixpath
import time
import uuid
from functools import partial
from urllib.parse import unquote

import pandas as pd  # module-level so pandas_udf type hints resolve
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkrdf.fsutil import (
    fs_exists,
    fs_mkdirs,
    fs_read_text,
    fs_rename,
    fs_write_bytes,
    fs_write_text,
    hadoop_fs,
)
from sparkrdf.session import run_concurrently


def write_table(df: DataFrame, path: str, partition_by: str | None = "collection"):
    w = df.write.mode("overwrite")
    if partition_by and partition_by in df.columns:
        w = w.partitionBy(partition_by)
    w.parquet(path)


#: Lineage columns; in Spark terms ``run_id string, stage string,
#: partition_id int, input_rows long, output_rows long, status string,
#: written_at string``, the types of Spark-written appends, so a directory
#: holding both reads as one table.
LINEAGE_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("input_rows", pa.int64()),
        ("output_rows", pa.int64()),
        ("status", pa.string()),
        ("written_at", pa.string()),
    ]
)


def write_lineage(spark, base: str, run_id: str, stage: str | None, rows: list[tuple]):
    """Append one batch of lineage rows to ``{base}/lineage``; the batch
    shares one ``written_at``. ``rows`` are ``(partition_id, input_rows,
    output_rows, status)`` of ``stage``, or, with ``stage=None``, ``(stage,
    partition_id, input_rows, output_rows, status)`` — several stages in
    one append.

    The append is one Parquet file built in driver memory, written under a
    hidden name (which readers skip) and renamed into place, so a reader
    sees the whole file or none of it. No Spark job runs."""
    if stage is not None:
        rows = [(stage, *r) for r in rows]
    written_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    values = [(run_id, st, int(p), int(i), int(o), s, written_at) for st, p, i, o, s in rows]
    table = pa.Table.from_pylist(
        [dict(zip(LINEAGE_SCHEMA.names, v)) for v in values], schema=LINEAGE_SCHEMA
    )
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy")
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    lineage = posixpath.join(base, "lineage")
    hidden = posixpath.join(lineage, f".{name}.inprogress")
    fs_write_bytes(spark, hidden, buf.getvalue().to_pybytes())
    fs_rename(spark, hidden, posixpath.join(lineage, name))


_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def written_counts(spark, path: str) -> dict[tuple[int, tuple], int]:
    """Rows of the Parquet data files under ``path``, read from their
    footers on the driver: ``{(part, partition_values): rows}``.

    ``part`` is the writing task's partition (the ``part-NNNNN`` of the file
    name); ``partition_values`` holds the values of the ``k=v`` directories
    between ``path`` and the file (``()`` without ``partitionBy``, None for
    a null value). Files of one key are summed; zero-row files (an empty
    table's schema file) are skipped, so an empty table gives ``{}``.

    parquet-hadoop lists the files (skipping ``_``/``.`` names: markers,
    checksums, sidecars) and reads their footers in parallel; every file is
    read directly, never through a ``_metadata`` summary. A handful of py4j
    calls per file; no Spark job."""
    fs, hpath, jvm = hadoop_fs(spark, path)
    root = fs.makeQualified(hpath).toUri().getPath().rstrip("/") + "/"
    footers = jvm.org.apache.parquet.hadoop.ParquetFileReader.readAllFootersInParallel(
        spark._jsc.hadoopConfiguration(), fs.getFileStatus(hpath), False
    )
    counts: dict[tuple[int, tuple], int] = {}
    for i in range(footers.size()):
        footer = footers.get(i)
        blocks = footer.getParquetMetadata().getBlocks()
        rows = sum(blocks.get(j).getRowCount() for j in range(blocks.size()))
        if not rows:
            continue
        *dirs, name = footer.getFile().toUri().getPath()[len(root):].split("/")
        values = tuple(
            None if v == _NULL_PARTITION else unquote(v)
            for v in (d.split("=", 1)[1] for d in dirs)
        )
        key = (int(name.split("-")[1]), values)
        counts[key] = counts.get(key, 0) + rows
    return counts


def rows_by_part(counts: dict[tuple[int, tuple], int]) -> list[tuple[int, int]]:
    """:func:`written_counts` summed per writing partition: sorted
    ``[(part, rows)]``."""
    out: dict[int, int] = {}
    for (part, _), n in counts.items():
        out[part] = out.get(part, 0) + n
    return sorted(out.items())


def merge_edge_definitions(existing: dict, new_rows: list) -> dict:
    """Union from/to collection sets per edge collection (main.py:3278-3364)."""
    out = {k: {"from": sorted(set(v["from"])), "to": sorted(set(v["to"]))} for k, v in existing.items()}
    for r in new_rows:
        e = out.setdefault(r["edge_collection"], {"from": [], "to": []})
        e["from"] = sorted(set(e["from"]) | set(r["from_cols"]))
        e["to"] = sorted(set(e["to"]) | set(r["to_cols"]))
    return out


def write_graph(
    graph: dict[str, DataFrame],
    base: str,
    run_id: str = "run0",
    name: str = "graph",
) -> dict:
    """Materialize {vertices, edges, edge_definitions} under ``base``.

    Returns the written manifest. Idempotent per run_id: writes are
    overwrite-mode per table, the manifest unions with prior imports. The
    two table writes and the ``edge_definitions`` collect are the only
    Spark jobs; they run concurrently, under the contract in
    :mod:`sparkrdf.resume`'s docstring. Row counts and the vertex
    collections come from the written files' footers
    (:func:`written_counts`); the manifest and lineage follow.
    """
    spark = graph["vertices"].sparkSession
    # Hadoop FS, not os.makedirs: ``base`` may be HDFS/S3A on a cluster
    fs_mkdirs(spark, base)

    def write(key: str) -> dict:
        path = posixpath.join(base, key)
        write_table(graph[key], path)
        return written_counts(spark, path)

    v_files, e_files, edef_rows = run_concurrently(
        partial(write, "vertices"),
        partial(write, "edges"),
        lambda: graph["edge_definitions"].collect(),
    )
    v_counts, e_counts = rows_by_part(v_files), rows_by_part(e_files)

    manifest_path = posixpath.join(base, f"{name}.manifest.json")
    prior = {}
    if fs_exists(spark, manifest_path):
        prior = json.loads(fs_read_text(spark, manifest_path))
    existing = prior.get("edge_definitions", {})
    edefs = merge_edge_definitions(existing, [r.asDict() for r in edef_rows])
    # vertex-ONLY collections (Property, Class, orphan resources) never
    # appear as edge endpoints, and the manifest must record them or a
    # manifest-driven export loses their documents: each non-empty
    # ``collection=`` directory of the vertex table is one
    v_cols = sorted(
        set(prior.get("vertex_collections", [])) | {values[0] for _, values in v_files}
    )
    manifest = {
        "graph": name,
        "run_id": run_id,
        "edge_definitions": edefs,
        "vertex_collections": v_cols,
        "vertices_rows": sum(c for _, c in v_counts),
        "edges_rows": sum(c for _, c in e_counts),
    }
    fs_write_text(spark, manifest_path, json.dumps(manifest, indent=2, sort_keys=True))

    write_lineage(
        spark,
        base,
        run_id,
        "write_graph",
        [(p, c, c, "ok") for p, c in v_counts] + [(p, c, c, "ok") for p, c in e_counts],
    )
    return manifest


def read_graph(spark, base: str, name: str = "graph") -> dict:
    """Load a materialized graph back: {vertices, edges, manifest}.

    The manifest drives WHICH collections belong to the graph — the analog
    of the reference's ``arangodb_graph_to_rdf`` reading the ArangoDB graph
    definition (main.py:563-657): vertex/edge tables are filtered to the
    collections named by the edge definitions, so sibling graphs sharing the
    same base directory don't leak in.
    """
    manifest_path = posixpath.join(base, f"{name}.manifest.json")
    manifest = json.loads(fs_read_text(spark, manifest_path))
    edefs = manifest.get("edge_definitions", {})
    e_cols = sorted(edefs)
    # manifest-recorded vertex collections (includes vertex-only ones like
    # Property/Class); fall back to the edge-def endpoint union for
    # manifests written before vertex_collections existed
    v_cols = sorted(manifest.get("vertex_collections", [])) or sorted(
        {c for d in edefs.values() for c in d.get("from", []) + d.get("to", [])}
    )
    vertices = spark.read.parquet(posixpath.join(base, "vertices"))
    edges = spark.read.parquet(posixpath.join(base, "edges"))
    if v_cols:
        vertices = vertices.filter(F.col("collection").isin(v_cols))
    if e_cols:
        edges = edges.filter(F.col("collection").isin(e_cols))
    return {"vertices": vertices, "edges": edges, "manifest": manifest}


def graph_to_statements(spark, base: str, name: str = "graph", **modes):
    """Manifest-driven export: read a materialized graph and return its RDF
    statements (reference ``arangodb_graph_to_rdf``, main.py:563-657 — the
    collections come from the graph definition, not a user metagraph)."""
    from sparkrdf.export import pgt_to_statements

    g = read_graph(spark, base, name)
    return pgt_to_statements(g["vertices"], g["edges"], **modes)


def merge_properties_json(a: str | None, b: str | None) -> str | None:
    """Merge two property JSON objects, b's keys winning (ArangoDB
    merge=True upsert semantics, main.py:3935-3940)."""
    if a is None:
        return b
    if b is None:
        return a
    da, db = json.loads(a), json.loads(b)
    da.update(db)
    # compact separators: identical rendering to the engine's JVM-built
    # property JSON, so repeated merges are byte-stable (idempotent resume)
    return json.dumps(da, sort_keys=True, separators=(",", ":"))


KEY_BUCKET_COL = "_kb"


def key_bucket(n_buckets: int):
    """Deterministic key-hash bucket of (collection, _key) — the partition
    key of the bucketed incremental table."""
    return F.pmod(
        F.xxhash64(F.col("collection"), F.col("_key")), F.lit(n_buckets)
    ).cast("int")


def merge_into_bucketed(
    spark, path: str, new: DataFrame, n_buckets: int = 64
) -> list[int]:
    """Incremental upsert into a key-bucketed parquet table: rewrite ONLY
    the buckets the batch touches. Returns the touched bucket ids.

    The scale fix for the O(table)-per-batch staging-swap fallback: the
    batch's keys hash to a bounded set of ``_kb`` partition directories;
    partition pruning limits the read to those directories, merge_by_key
    merges within them, and dynamic partition overwrite replaces only the
    written partitions. Per-batch cost is O(touched buckets · bucket size),
    so with n_buckets sized to batch/table ratio a small batch rewrites a
    small fraction of the table instead of all of it.

    Crash model: dynamic partition overwrite commits per partition, so a
    crash mid-commit can leave a mix of old and new buckets — safe here
    because keys are deterministic and merge_by_key is idempotent: replaying
    the same micro-batch (Structured Streaming's recovery contract)
    re-merges every touched bucket to the identical final state. The
    staging-swap sink remains the strictly-atomic (but O(table)) choice;
    ``MERGE INTO`` on a real catalog supersedes both.
    """
    newb = new.withColumn(KEY_BUCKET_COL, key_bucket(n_buckets)).localCheckpoint(
        eager=True
    )
    writer = (
        newb.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(KEY_BUCKET_COL)
    )
    # first batch: materialize the bucketed table wholesale
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        writer.parquet(path)
        return [r[0] for r in newb.select(KEY_BUCKET_COL).distinct().collect()]

    touched = [r[0] for r in newb.select(KEY_BUCKET_COL).distinct().collect()]
    # partition pruning keeps this read to the touched directories only;
    # localCheckpoint materializes the merge BEFORE the write so Spark does
    # not see a plan that reads the path it is overwriting
    old = spark.read.parquet(path).filter(F.col(KEY_BUCKET_COL).isin(touched))
    merged = merge_by_key(old, newb).localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(KEY_BUCKET_COL)
        .parquet(path)
    )
    return sorted(touched)


def merge_by_key(old: DataFrame, new: DataFrame) -> DataFrame:
    """D2 cross-batch upsert-merge keyed on (collection, _key).

    Rows present in both merge property JSON (new wins per key) and take the
    new row's other attributes. Expressed as a full outer join — on Iceberg
    this becomes ``MERGE INTO ... WHEN MATCHED THEN UPDATE``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def merge_props(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [merge_properties_json(x, y) for x, y in zip(a, b)], dtype="object"
        )

    keys = ["collection", "_key"]
    if set(old.columns) != set(new.columns):
        # surface schema drift loudly — the analog of the reference's
        # raise_on_document_error on schema violation
        # (test_main.py:5331-5379); a silent coalesce-union would corrupt
        # the table instead
        raise ValueError(
            "merge_by_key schema mismatch: only-old="
            f"{sorted(set(old.columns) - set(new.columns))}, only-new="
            f"{sorted(set(new.columns) - set(old.columns))}"
        )
    o = old.select([F.col(c).alias(f"old_{c}") if c not in keys else F.col(c) for c in old.columns])
    n = new.select([F.col(c).alias(f"new_{c}") if c not in keys else F.col(c) for c in new.columns])
    joined = o.join(n, keys, "full")
    cols = [F.col(c) for c in keys]
    for c in new.columns:
        if c in keys:
            continue
        if c == "properties":
            cols.append(merge_props(F.col("old_properties"), F.col("new_properties")).alias(c))
        else:
            cols.append(F.coalesce(F.col(f"new_{c}"), F.col(f"old_{c}")).alias(c))
    return joined.select(cols)
