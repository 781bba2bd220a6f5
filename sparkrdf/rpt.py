"""RPT — RDF-topology-preserving transformation as a DataFrame program.

Reference semantics (arango_rdf/main.py:663-849, 2266-2445):
- every RDF term that appears as subject or object becomes a vertex document
  in ``{name}_URIRef`` / ``{name}_BNode`` / ``{name}_Literal``;
- every statement becomes an edge in ``{name}_Statement`` with
  ``_key = farmhash(f"{s_key}-{p_key}-{o_key}")`` (or the reified subject's
  key for flattened reifications), ``_from/_to = "{col}/{key}"``,
  ``_uri``/``_label`` from the predicate, and ``_sub_graph_uri`` when the
  statement came from a named graph;
- ``adb:key`` statements override the farmhash key for their subject term
  anywhere it appears (main.py:1657-1678);
- duplicate (s,p,o) triples collapse by construction (same edge key).

The whole transform is two projections + unions + key-dedup: no shuffles
beyond the final ``dropDuplicates`` (which Catalyst executes as a partial +
final hash aggregate on the key — at 100 TB this is the unavoidable global
dedup; everything upstream is narrow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkrdf import terms as T
from sparkrdf.hashing import farmhash_key, register_udfs
from sparkrdf.localdf import local_rows_df

VERTEX_COLUMNS = [
    "collection",
    "_key",
    "_uri",
    "_value",
    "_label",
    "_rdftype",
    "_lang",
    "_datatype",
]
EDGE_COLUMNS = [
    "collection",
    "_key",
    "_from",
    "_to",
    "_uri",
    "_label",
    "_rdftype",
    "_sub_graph_uri",
    "properties",
]


class GraphTables(dict):
    """The output of a transform: a plain dict of DataFrames
    (``vertices`` / ``edges`` / ``edge_definitions``) that also owns the
    shared cached intermediate both outputs derive from. Call
    :meth:`release` (or use as a context manager) once the outputs are
    materialized — in a long-lived session, un-released caches accumulate
    executor storage (each transform call pins one keyed-statement block
    set). ``spark.catalog.clearCache()`` also works as a blunt fallback."""

    def __init__(self, tables, cached=()):
        super().__init__(tables)
        self._cached = list(cached)

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.release()
        return False


def extract_adb_key_statements(stmts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split ``? adb:key "..."`` controller statements out of the data graph.

    Mirrors main.py:2199-2216 / 4161-4195 (extract + remove). Returns
    (keys_df[id, custom_key], remaining_statements).
    """
    keys = (
        stmts.filter((F.col("p") == T.ADB_KEY_URI) & (F.col("o_kind") == "Literal"))
        .select(F.col("s").alias("id"), F.col("o").alias("custom_key"))
        .dropDuplicates(["id"])
    )
    rest = stmts.filter(F.col("p") != T.ADB_KEY_URI)
    return keys, rest


def with_term_keys(
    stmts: DataFrame,
    keys_df: DataFrame | None = None,
    use_hashed_literals_as_keys: bool = True,
) -> DataFrame:
    """Add s_key / p_key / o_key columns (farmhash of the term's string form,
    with adb:key overrides broadcast-joined in).

    With ``use_hashed_literals_as_keys=False`` (reference main.py:708-713:
    "a randomly-generated key will instead be used … literals with the same
    value will [NOT] be represented as one single document"), the literal
    o_key becomes a deterministic per-statement key — farmhash of
    ``s_key-p_key-lexical|lang|datatype`` — so equal lexical forms under
    different statements yield DISTINCT Literal vertices while re-runs stay
    idempotent (a true random UUID would break resumable MERGE; the
    reference's ArangoDB-assigned random keys additionally leave its edges
    dangling, a quirk this engine does not reproduce). Duplicate (s,p,o)
    statements still collapse: they derive the same occurrence key.

    The terms are hashed by the JVM FarmHashKey UDF when the session has
    it; otherwise one Arrow-batched pandas UDF takes all three columns and
    hashes each distinct string of a batch once, so the Zipf-heavy terms
    (rdf:type, hot predicates) cost one hash per batch.
    """
    from sparkrdf.hashing import register_term_keys_udf

    farmhash_udf, _ = register_udfs()
    term_keys_udf = register_term_keys_udf()
    out = (
        stmts.withColumn("_tk", term_keys_udf(F.col("s"), F.col("p"), F.col("o")))
        .withColumn("s_key", F.col("_tk.s_key"))
        .withColumn("p_key", F.col("_tk.p_key"))
        .withColumn("o_key", F.col("_tk.o_key"))
        .drop("_tk")
    )
    if not use_hashed_literals_as_keys:
        occurrence = F.concat_ws(
            "-",
            F.col("s_key"),
            F.col("p_key"),
            F.concat_ws(
                "|",
                F.col("o"),
                F.coalesce(F.col("o_lang"), F.lit("")),
                F.coalesce(F.col("o_datatype"), F.lit("")),
            ),
        )
        out = out.withColumn(
            "o_key",
            F.when(
                F.col("o_kind") == "Literal", farmhash_udf(occurrence)
            ).otherwise(F.col("o_key")),
        )
    if keys_df is not None:
        # no broadcast hint: adb:key overrides are unbounded (the flagship
        # workload attaches one per document), so the join strategy is left
        # to AQE, which broadcasts only when the side is actually small.
        s_over = keys_df.select(F.col("id").alias("s_id"), F.col("custom_key").alias("s_custom"))
        o_over = keys_df.select(F.col("id").alias("o_id"), F.col("custom_key").alias("o_custom"))
        out = (
            out.join(s_over, F.col("s") == F.col("s_id"), "left")
            .drop("s_id")
            .join(o_over, F.col("o") == F.col("o_id"), "left")
            .drop("o_id")
            .withColumn("s_key", F.coalesce("s_custom", "s_key"))
            .withColumn(
                "o_key",
                F.when(F.col("o_kind") != "Literal", F.coalesce("o_custom", "o_key")).otherwise(
                    F.col("o_key")
                ),
            )
            .drop("s_custom", "o_custom")
        )
    return out


def rpt_vertices(keyed: DataFrame, name: str) -> DataFrame:
    """Vertex documents for all subject/object terms (main.py:2266-2332).

    Terms that are reified statement subjects emit NO vertex document — the
    reference routes them to the Statement edge collection and skips the doc
    (main.py:2286-2289, the ``t in self.__reified_subject_map`` branch).
    ``keyed`` marks those rows with optional ``s_reified``/``o_reified``.

    Literal keys hash the LEXICAL FORM only (reference default
    use_hashed_literals_as_keys=True, main.py:669/2310-2327): the same
    lexical form under two langs/datatypes collapses into one Literal
    vertex, last write wins — identical to the reference.
    """
    cols = keyed.columns
    subj_src = keyed.filter(~F.col("s_reified")) if "s_reified" in cols else keyed
    obj_src = keyed.filter(~F.col("o_reified")) if "o_reified" in cols else keyed
    subj = subj_src.select(
        F.col("s_kind").alias("kind"),
        F.col("s").alias("id"),
        F.col("s_key").alias("_key"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("datatype"),
    )
    obj = obj_src.select(
        F.col("o_kind").alias("kind"),
        F.col("o").alias("id"),
        F.col("o_key").alias("_key"),
        F.col("o_lang").alias("lang"),
        F.col("o_datatype").alias("datatype"),
    )
    # Dedup BEFORE building the doc columns: the shuffle then carries only
    # (kind, id, _key, lang, datatype) instead of the full rendered document
    # (label/value strings ≈ 2× the bytes), and literal_value_str/adb_label
    # run once per DISTINCT term instead of once per occurrence. (kind, _key)
    # is equivalent to the output's (collection, _key): collection is a pure
    # function of kind. Duplicate keys with differing lang (the reference
    # keys literals by lexical form only) resolve arbitrarily either way —
    # same last-write-wins semantics as the reference.
    t = subj.unionByName(obj).dropDuplicates(["kind", "_key"])

    is_uri = F.col("kind") == "URIRef"
    is_bnode = F.col("kind") == "BNode"
    is_lit = F.col("kind") == "Literal"
    value = T.literal_value_str(F.col("id"), F.col("datatype"))

    out = t.select(
        F.when(is_uri, F.lit(f"{name}_URIRef"))
        .when(is_bnode, F.lit(f"{name}_BNode"))
        .otherwise(F.lit(f"{name}_Literal"))
        .alias("collection"),
        F.col("_key"),
        F.when(is_uri, F.col("id")).alias("_uri"),
        F.when(is_lit, value).alias("_value"),
        F.when(is_uri, T.adb_label(F.col("id")))
        .when(is_lit, value)
        .otherwise(F.lit(""))
        .alias("_label"),
        F.col("kind").alias("_rdftype"),
        F.when(is_lit, F.col("lang")).alias("_lang"),
        # lang wins over datatype (main.py:2324-2327)
        F.when(is_lit & F.col("lang").isNull(), F.col("datatype")).alias("_datatype"),
    )
    return out


def rpt_edges(keyed: DataFrame, name: str) -> DataFrame:
    """One ``{name}_Statement`` edge per statement (main.py:2334-2387).

    ``keyed`` may carry an optional ``e_key_override`` column (set by the
    reified-triple flattener: the edge reuses the reified subject's key,
    main.py:2372-2374) and an optional ``properties`` column (flattened
    statement metadata attached to the edge document).
    """
    cols = keyed.columns
    e_key = F.col("e_key_override") if "e_key_override" in cols else F.lit(None)
    props = F.col("properties") if "properties" in cols else F.lit(None).cast("string")

    _, edge_key_udf = register_udfs()
    # Shuffle NARROW rows: the dedup exchange carries the key, one-byte kind
    # codes + reified flags, the raw term keys, and the predicate — the
    # rendered _from/_to/_label strings (~75 B/row of pure derivable bytes)
    # are rebuilt AFTER the exchange, once per distinct edge. At cluster
    # scale the dedup exchange is network traffic; everything derivable from
    # surviving columns should be rendered on the reduce side.
    kind_code = {"URIRef": 0, "BNode": 1, "Literal": 2}

    def code_of(kind_col, reified_flag):
        c = (
            F.when(kind_col == "URIRef", F.lit(kind_code["URIRef"]))
            .when(kind_col == "BNode", F.lit(kind_code["BNode"]))
            .otherwise(F.lit(kind_code["Literal"]))
        )
        if reified_flag is not None:
            # edge-of-edge: a term that is a reified statement subject lives
            # in the Statement collection (main.py:2286-2289), so edges
            # referencing it point at the edge document itself.
            c = F.when(reified_flag, F.lit(3)).otherwise(c)
        return c.cast("tinyint")

    s_flag = F.col("s_reified") if "s_reified" in cols else None
    o_flag = F.col("o_reified") if "o_reified" in cols else None
    narrow = keyed.select(
        F.coalesce(e_key, edge_key_udf(F.col("s_key"), F.col("p_key"), F.col("o_key"))).alias(
            "_key"
        ),
        code_of(F.col("s_kind"), s_flag).alias("_s_code"),
        code_of(F.col("o_kind"), o_flag).alias("_o_code"),
        F.col("s_key"),
        F.col("o_key"),
        F.col("p"),
        F.col("sub_graph").alias("_sub_graph_uri"),
        props.alias("properties"),
    ).dropDuplicates(["_key"])

    def col_of(code):
        return (
            F.when(code == 0, F.lit(f"{name}_URIRef"))
            .when(code == 1, F.lit(f"{name}_BNode"))
            .when(code == 2, F.lit(f"{name}_Literal"))
            .otherwise(F.lit(f"{name}_Statement"))
        )

    return narrow.select(
        F.lit(f"{name}_Statement").alias("collection"),
        F.col("_key"),
        F.concat(col_of(F.col("_s_code")), F.lit("/"), F.col("s_key")).alias("_from"),
        F.concat(col_of(F.col("_o_code")), F.lit("/"), F.col("o_key")).alias("_to"),
        F.col("p").alias("_uri"),
        T.adb_label(F.col("p")).alias("_label"),
        F.lit("URIRef").alias("_rdftype"),
        F.col("_sub_graph_uri"),
        F.col("properties"),
    )


def rpt_transform(
    stmts: DataFrame,
    name: str,
    flatten_reified_triples: bool = True,
    contextualize_graph: bool = False,
    meta_stmts: DataFrame | None = None,
    use_hashed_literals_as_keys: bool = True,
) -> dict[str, DataFrame]:
    """Full RPT pipeline: adb:key extraction → reified-triple flattening →
    term keys → vertices + edges.

    Reference default is to flatten (main.py:668 ``flatten_reified_triples=
    True``, applied at main.py:801-809): every ``x a rdf:Statement`` node is
    collapsed to its base (s, p, o) edge keyed by ``key(x)``, the 4
    reification statements disappear, and any other statement mentioning x
    resolves to the Statement edge document (edge-of-edge).

    **contextualize_graph** (M7, off by default like the reference
    main.py:667): unions **meta_stmts** (the vendored ontologies,
    ``contextualize.load_meta_statements``) into the data, emits
    untyped-predicate ``rdf:Property`` edges + DR inference/introspection
    edges, and materializes predicate vertex docs (main.py:2389-2414).

    **use_hashed_literals_as_keys** (reference main.py:669/747/2321, default
    True): False keys each literal occurrence individually (per-statement
    deterministic key, see ``with_term_keys``) so equal lexical forms do not
    collapse into one Literal vertex.

    Returns {"vertices": df, "edges": df, "edge_definitions": df}.
    """
    from sparkrdf.reify import flatten_reified

    keys_df, data = extract_adb_key_statements(stmts)
    # ONE full-parallel probe pass answers both data-dependent branches:
    # are there adb:key overrides, and are there reified statements? A
    # web-extraction corpus usually has neither — but without the probe the
    # empty override table still drags the whole statement stream through
    # two sort-merge joins (measured: the single largest exchange of the
    # flagship job, 72 MB of a 167 MB total, for a join that matches
    # nothing). flatten_reified previously paid this same probe pass for
    # its own fast path; folding both counts into one aggregate keeps it at
    # one pass total.
    probe = stmts.agg(
        F.count(
            F.when((F.col("p") == T.ADB_KEY_URI) & (F.col("o_kind") == "Literal"), 1)
        ).alias("n_keys"),
        F.count(
            F.when((F.col("p") == T.RDF_TYPE) & (F.col("o") == T.RDF_STATEMENT), 1)
        ).alias("n_reif"),
    ).first()
    if probe["n_keys"] == 0:
        keys_df = None
    if contextualize_graph and meta_stmts is not None:
        data = data.unionByName(meta_stmts, allowMissingColumns=True)
        # the union may add reified statements the probe didn't see —
        # let flatten_reified re-probe the combined stream
        has_reified = None
    else:
        has_reified = probe["n_reif"] > 0
    if flatten_reified_triples:
        data, reified_map = flatten_reified(data, keys_df, has_reified=has_reified)
    else:
        reified_map = None
    keyed = with_term_keys(data, keys_df, use_hashed_literals_as_keys)
    if reified_map is not None:
        # Mark statements whose subject/object is a reified statement node.
        # The term key is unchanged (key(x) — already computed with the same
        # farmhash + adb:key coalesce), only collection routing changes, so we
        # join for membership and coalesce the key defensively.
        r_s = reified_map.select(
            F.col("x").alias("s"), F.col("e_key").alias("s_rkey")
        )
        r_o = reified_map.select(
            F.col("x").alias("o"), F.col("e_key").alias("o_rkey")
        )
        keyed = (
            keyed.join(r_s, "s", "left")
            .join(r_o, "o", "left")
            .withColumn("s_reified", F.col("s_rkey").isNotNull())
            .withColumn("o_reified", F.col("o_rkey").isNotNull())
            .withColumn("s_key", F.coalesce("s_rkey", F.col("s_key")))
            .withColumn("o_key", F.coalesce("o_rkey", F.col("o_key")))
            .drop("s_rkey", "o_rkey")
        )
    # vertices and edges both consume the keyed stream; without persistence
    # the farmhash pass over every statement runs once per output table.
    keyed = keyed.persist()
    vertices = rpt_vertices(keyed, name)
    edges = rpt_edges(keyed, name)
    if contextualize_graph:
        from sparkrdf.contextualize import contextualize_edges

        ctx = contextualize_edges(keyed, name, is_pgt=False, meta_stmts=meta_stmts)
        edges = edges.unionByName(ctx).dropDuplicates(["collection", "_key"])
        # predicates become URIRef term docs (__rpt_process_term(p),
        # main.py:2412), plus the rdf:Property endpoint doc
        spark = keyed.sparkSession
        prop_row = local_rows_df(
            spark, [(T.RDF_PROPERTY, farmhash_key(T.RDF_PROPERTY))], "p string, p_key string"
        )
        pred_docs = (
            keyed.select("p", "p_key").dropDuplicates(["p"]).unionByName(prop_row)
            .select(
                F.lit(f"{name}_URIRef").alias("collection"),
                F.col("p_key").alias("_key"),
                F.col("p").alias("_uri"),
                F.lit(None).cast("string").alias("_value"),
                T.adb_label(F.col("p")).alias("_label"),
                F.lit("URIRef").alias("_rdftype"),
                F.lit(None).cast("string").alias("_lang"),
                F.lit(None).cast("string").alias("_datatype"),
            )
        )
        vertices = vertices.unionByName(pred_docs).dropDuplicates(["collection", "_key"])
    # static edge definition (main.py:2429-2444)
    edge_defs = local_rows_df(
        edges.sparkSession,
        [
            (
                f"{name}_Statement",
                [f"{name}_URIRef", f"{name}_BNode", f"{name}_Literal"],
                [f"{name}_URIRef", f"{name}_BNode", f"{name}_Literal"],
            )
        ],
        "edge_collection string, from_cols array<string>, to_cols array<string>",
    )
    return GraphTables(
        {"vertices": vertices, "edges": edges, "edge_definitions": edge_defs},
        cached=[keyed],
    )
