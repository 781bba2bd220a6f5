"""RDF Collection / Container assembly (A1-A5) for PGT.

Reference semantics (arango_rdf/main.py:3031-3250):
- subjects of rdf:first/rdf:rest are "collection" nodes; BNode subjects of
  rdf:_N / rdf:li are "container" nodes (main.py:1197-1220);
- a non-list statement whose object is a list node makes that object a list
  *head*: the subject gets a JSON-array property named after the predicate
  instead of an edge (main.py:2916-2956);
- assembly walks first/rest chains (collections) and lexicographically
  sorted membership slots (containers, main.py:3242 — note *lexicographic*:
  "_10" < "_2", faithfully reproduced);
- literal members append typed scalars; resource (URIRef/BNode) members
  contribute NOTHING to the array but become vertices + edges from the list
  owner (main.py:3157-3175);
- a property whose assembled string contains only brackets is dropped
  (main.py:3100-3101) — replicated via the same string-assembly algorithm
  (build → rstrip(',') → set ⊆ {'[',']'} → drop → else literal_eval).

Scale strategy: list statements are a tiny, structurally bounded fraction of
a web-scale graph. Tree assembly is inherently recursive, so it runs in a
grouped Arrow UDF (``applyInPandas``) keyed by list-root; root assignment
uses pointer-jumping joins (log-depth iterations, capped).
"""

from __future__ import annotations

import json
from ast import literal_eval

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkrdf import terms as T
from sparkrdf.localdf import local_rows_df

_XSD = T.XSD
_INT_DTS = {
    _XSD + t
    for t in (
        "integer",
        "int",
        "long",
        "short",
        "byte",
        "nonNegativeInteger",
        "nonPositiveInteger",
        "negativeInteger",
        "positiveInteger",
        "unsignedLong",
        "unsignedInt",
        "unsignedShort",
        "unsignedByte",
    )
}
_FLOAT_DTS = {_XSD + "decimal", _XSD + "double", _XSD + "float"}
_LEXICAL_DTS = {
    _XSD + t
    for t in (
        "date",
        "time",
        "dateTime",
        "duration",
        "dayTimeDuration",
        "yearMonthDuration",
        "gYear",
        "gMonth",
        "gDay",
        "gYearMonth",
        "gMonthDay",
    )
}


def literal_py_val(lex: str, datatype: str | None):
    """Python-side mirror of __get_literal_val (main.py:3897-3914)."""
    if datatype in _INT_DTS:
        try:
            return int(lex)
        except ValueError:
            return lex
    if datatype in _FLOAT_DTS:
        try:
            return float(lex)
        except ValueError:
            return lex
    if datatype == _XSD + "boolean":
        return lex.strip().lower() in ("true", "1")
    return lex


def rdf_list_subjects(stmts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(collection_subjects[id], container_subjects[id]) — A1."""
    coll = (
        stmts.filter(F.col("p").isin(T.RDF_FIRST, T.RDF_REST))
        .select(F.col("s").alias("id"))
        .dropDuplicates()
    )
    cont = (
        stmts.filter(
            (F.col("s_kind") == "BNode")
            & (F.col("p").rlike(T.CONTAINER_MEMBER_RE) | (F.col("p") == T.CONTAINER_LI))
        )
        .select(F.col("s").alias("id"))
        .dropDuplicates()
    )
    return coll, cont


def split_list_statements(
    stmts: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Partition statements into (normal, list_data, list_heads).

    list_data  — statements that *are* list structure (routed out of normal
                 processing, main.py:2605-2614);
    list_heads — (s_kind, s, p, root, sub_graph): non-list statements whose
                 object roots a list (main.py:2936-2941).
    """
    # list-subject sets grow with the corpus's list data — no broadcast
    # hints; AQE broadcasts when a side is actually small.
    coll, cont = rdf_list_subjects(stmts)
    coll_b, cont_b = coll, cont

    with_flags = (
        stmts.join(
            coll_b.select(F.col("id").alias("s"), F.lit(True).alias("s_is_coll")), "s", "left"
        )
        .join(
            cont_b.select(F.col("id").alias("s"), F.lit(True).alias("s_is_cont")), "s", "left"
        )
        .join(
            coll_b.select(F.col("id").alias("o"), F.lit(True).alias("o_is_coll")), "o", "left"
        )
        .join(
            cont_b.select(F.col("id").alias("o"), F.lit(True).alias("o_is_cont")), "o", "left"
        )
    )
    is_list_data = (
        F.coalesce("s_is_coll", F.lit(False)) & F.col("p").isin(T.RDF_FIRST, T.RDF_REST)
    ) | F.coalesce("s_is_cont", F.lit(False))
    is_head_obj = (F.col("o_kind") == "BNode") & (
        F.coalesce("o_is_coll", F.lit(False)) | F.coalesce("o_is_cont", F.lit(False))
    )

    flag_cols = ["s_is_coll", "s_is_cont", "o_is_coll", "o_is_cont"]
    list_data = with_flags.filter(is_list_data).drop(*flag_cols)
    heads = (
        with_flags.filter(~is_list_data & is_head_obj)
        .select(
            "s_kind",
            "s",
            "p",
            F.col("o").alias("root"),
            "sub_graph",
        )
    )
    normal = with_flags.filter(~is_list_data & ~is_head_obj).drop(*flag_cols)
    return normal, list_data, heads


def _assign_roots(list_data: DataFrame, heads: DataFrame, jumps: int = 8) -> DataFrame:
    """Map every list node to its root via pointer-jumping joins.

    Each jump doubles the resolved ancestor distance, so ``jumps=8`` covers
    nesting depth 2**8 — far beyond any real RDF list. Pointer-jumping keeps
    the iteration count logarithmic in depth instead of linear (the naive
    parent-walk), which matters when list data is large but shallow.
    """
    # parent links: child list-node <- parent list-node
    nodes = list_data.select(F.col("s").alias("node")).dropDuplicates()
    child_parent = (
        list_data.join(nodes.withColumnRenamed("node", "o"), "o", "inner")
        .select(F.col("o").alias("node"), F.col("s").alias("anc"))
        .dropDuplicates(["node"])
    )
    # start: every node's ancestor pointer = its parent (roots point to themselves)
    ptr = nodes.join(child_parent, "node", "left").select(
        "node", F.coalesce("anc", F.col("node")).alias("anc")
    )
    # each jump references ptr TWICE — truncate lineage every iteration or the
    # logical plan doubles per jump and analysis alone OOMs the driver
    ptr = ptr.localCheckpoint(eager=True)
    # count(), not isEmpty(): isEmpty is CollectLimit — on a no-match stream
    # it scans everything anyway but in 1→4→16-partition incremental jobs (a
    # serial phase at high core counts); the aggregate scans once in parallel
    if child_parent.count() == 0:  # flat lists only — no jumping needed
        return ptr.select("node", F.col("anc").alias("root"))
    for _ in range(jumps):
        ptr = (
            ptr.alias("a")
            .join(
                ptr.select(F.col("node").alias("anc"), F.col("anc").alias("anc2")).alias("b"),
                "anc",
                "left",
            )
            .select("node", F.coalesce("anc2", F.col("anc")).alias("anc"))
            .localCheckpoint(eager=True)
        )
    return ptr.select("node", F.col("anc").alias("root"))


def assemble_lists(list_data: DataFrame, heads: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Assemble list structures → (fragments, members).

    fragments: (root, fragment) — canonical JSON array text, or null when the
    reference drops the property (bracket-only string).
    members:   (root, member, member_kind) — resource members that must also
    become vertices + edges from the list-owning subject.
    """
    spark = list_data.sparkSession
    # full-parallel emptiness probe (see pointer-jumping note above): the
    # common web corpus has zero RDF lists and must not pay a serial scan
    if list_data.count() == 0:
        empty_frag = local_rows_df(spark, [], "root string, fragment string")
        empty_mem = local_rows_df(spark, [], "root string, member string, member_kind string")
        return empty_frag, empty_mem

    coll_nodes = (
        list_data.filter(F.col("p").isin(T.RDF_FIRST, T.RDF_REST))
        .select(F.col("s").alias("node"))
        .dropDuplicates()
        .withColumn("ntype", F.lit("coll"))
    )
    roots = _assign_roots(list_data, heads)

    rows = (
        list_data.join(roots, list_data["s"] == roots["node"], "left")
        .join(coll_nodes.select(F.col("node").alias("s"), "ntype"), "s", "left")
        .select(
            F.coalesce("root", F.col("s")).alias("root"),
            F.col("s").alias("node"),
            F.coalesce("ntype", F.lit("cont")).alias("ntype"),
            T.adb_label(F.col("p")).alias("slot"),
            "o",
            "o_kind",
            "o_lang",
            "o_datatype",
        )
    )

    out_schema = (
        "root string, fragment string, member string, member_kind string, row_type string"
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        root = pdf["root"].iloc[0]
        nodes: dict[str, dict] = {}
        for r in pdf.itertuples(index=False):
            n = nodes.setdefault(r.node, {"type": r.ntype, "slots": {}})
            n["slots"].setdefault(r.slot, []).append(
                (r.o, r.o_kind, r.o_lang, r.o_datatype)
            )

        members: list[tuple[str, str]] = []
        buf: list[str] = [""]

        def close_list():
            buf[0] = buf[0].rstrip(",") + "],"

        def process_object(o, kind, lang, dt):
            if kind in ("BNode", "URIRef") and o in nodes:
                node = nodes[o]
                buf[0] += "["
                if node["type"] == "coll":
                    unpack_coll(o)
                else:
                    unpack_cont(o)
                close_list()
                return
            if kind == "Literal":
                v = literal_py_val(o, dt)
                buf[0] += (repr(v) if isinstance(v, str) else f"{v}") + ","
            else:
                members.append((o, kind))

        def unpack_coll(n):
            slots = nodes[n]["slots"]
            for o, kind, lang, dt in slots.get("first", []):
                process_object(o, kind, lang, dt)
            for o, kind, lang, dt in slots.get("rest", []):
                if o != T.RDF_NIL and o in nodes:
                    unpack_coll(o)

        def unpack_cont(n):
            slots = nodes[n]["slots"]
            for slot in sorted(slots):  # lexicographic, like the reference
                for o, kind, lang, dt in sorted(
                    slots[slot], key=lambda v: (v[1], str(v[0]))
                ):
                    process_object(o, kind, lang, dt)

        # the root is itself a list node: wrap + walk
        process_object(root, "BNode", None, None)
        s = buf[0].rstrip(",")
        if set(s) <= {"[", "]"}:
            fragment = None  # property dropped (main.py:3100-3101)
        else:
            fragment = json.dumps(literal_eval(s))

        out = [(root, fragment, None, None, "frag")]
        out += [(root, None, m, k, "member") for m, k in members]
        return pd.DataFrame(
            out, columns=["root", "fragment", "member", "member_kind", "row_type"]
        )

    assembled = rows.groupBy("root").applyInPandas(assemble, out_schema)
    fragments = assembled.filter(F.col("row_type") == "frag").select("root", "fragment")
    members = assembled.filter(F.col("row_type") == "member").select(
        "root", "member", "member_kind"
    )
    return fragments, members
