"""PGT collection mapping (the reference's "ArangoDB Collection Mapping
Process", arango_rdf/main.py:1237-1336) as a DataFrame pipeline.

Stages (C1-C7 in SURVEY.md §2.4):
- C1 explicit type map (main.py:3602-3669): subject → rdf:type objects;
  every predicate → rdf:Property; both again through reified statements.
  Type objects are pinned to collection "Class", predicates to "Property".
- C2 subclass tree (main.py:3671-3749, utils.py:103-147): taxonomy from
  rdfs:subClassOf (direct + reified); orphan parents attach under rdfs:Class;
  node depth = classification rank. The taxonomy is small by construction
  (distinct classes, not instances), so depths are computed on the driver
  and broadcast.
- C3 predicate scope (main.py:3751-3823): predicate → domain/range classes
  (blacklisting rdfs:Literal / rdfs:Resource), direct + reified.
- C4 domain/range inference (main.py:3825-3879): subjects inherit domain
  classes, objects inherit range classes of scoped predicates.
- C6/C7 best-class selection (controller.py:33-94): single candidate → it;
  any candidate in the tree → max depth with lexicographic-first tie-break;
  none in tree → lexicographic min. Expressed as one window:
  row_number over (in_tree desc, depth desc, class asc).

Pin precedence mirrors the reference's sequential ``__add_adb_col_statement``
calls with overwrite=True (main.py:4132-4155): the *latest* pin in process
order wins, so pins carry a stage number and the max stage is kept. User
``adb:collection`` overrides lose to Class/Property pins (documented
reference behavior, main.py:1268-1270) but beat best-class inference.

Known deliberate divergence: for a class reachable through multiple parents
at different depths the reference's depth depends on Python set iteration
order (randomized per process); we use the *max* depth (deepest path ==
most specific), which is deterministic.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkrdf import terms as T
from sparkrdf.localdf import local_rows_df


def extract_adb_col_statements(stmts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split ``? adb:collection "..."`` statements out of the data graph
    (main.py:1071-1096). Returns (overrides[id, collection], remaining)."""
    overrides = (
        stmts.filter((F.col("p") == T.ADB_COL_URI) & (F.col("o_kind") == "Literal"))
        .select(F.col("s").alias("id"), F.col("o").alias("collection"))
        .dropDuplicates(["id"])
    )
    rest = stmts.filter(F.col("p") != T.ADB_COL_URI)
    return overrides, rest


def _reified_spo(stmts: DataFrame) -> DataFrame:
    """(x, rs, rs_kind, rp, ro, ro_kind) for every reified statement node x.

    A well-formed reification has exactly one rdf:subject/predicate/object
    each; when a node carries several (case 14_3.trig — a file even the
    reference's own suite skips, and whose list variant crashes the
    reference), the MINIMUM (struct-ordered: lexical value first) wins, so
    re-runs and resumed imports pick the same component every time —
    ``dropDuplicates`` here would flatten to a different edge per run. The
    losing component statements are reification plumbing and are removed
    with the winners (flatten_reified drops ALL rdf:subject/predicate/object
    rows of a flattened x)."""
    xs = (
        stmts.filter((F.col("p") == T.RDF_TYPE) & (F.col("o") == T.RDF_STATEMENT))
        .groupBy(F.col("s").alias("x"), F.col("s_kind").alias("x_kind"))
        .agg(F.min("sub_graph").alias("sub_graph"))
    )
    subj = (
        stmts.filter(F.col("p") == T.RDF_SUBJECT)
        .groupBy(F.col("s").alias("x"))
        .agg(F.min(F.struct(F.col("o"), F.col("o_kind"))).alias("m"))
        .select("x", F.col("m.o").alias("rs"), F.col("m.o_kind").alias("rs_kind"))
    )
    pred = (
        stmts.filter(F.col("p") == T.RDF_PREDICATE)
        .groupBy(F.col("s").alias("x"))
        .agg(F.min("o").alias("rp"))
    )
    obj = (
        stmts.filter(F.col("p") == T.RDF_OBJECT)
        .groupBy(F.col("s").alias("x"))
        .agg(
            F.min(
                F.struct(
                    F.col("o"), F.col("o_kind"), F.col("o_lang"), F.col("o_datatype")
                )
            ).alias("m")
        )
        .select(
            "x",
            F.col("m.o").alias("ro"),
            F.col("m.o_kind").alias("ro_kind"),
            F.col("m.o_lang").alias("ro_lang"),
            F.col("m.o_datatype").alias("ro_datatype"),
        )
    )
    return xs.join(subj, "x", "left").join(pred, "x", "left").join(obj, "x", "left")


def build_subclass_depths(stmts: DataFrame) -> dict[str, int]:
    """C2: class → tree depth, computed on the driver (taxonomy is small).

    Mirrors main.py:3671-3749: submap[parent] ∋ child for every
    (child rdfs:subClassOf parent) statement, direct and reified; parents
    with no own subClassOf statement attach under rdfs:Class (root, depth 0).
    """
    direct = (
        stmts.filter(F.col("p") == T.RDFS_SUBCLASSOF)
        .select(F.col("s").alias("c"), F.col("o").alias("parent"))
        .collect()
    )
    reif = _reified_spo(stmts).filter(F.col("rp") == T.RDFS_SUBCLASSOF)
    reif_pairs = reif.select(F.col("rs").alias("c"), F.col("ro").alias("parent")).collect()

    submap: dict[str, set[str]] = defaultdict(set)
    children_all: set[str] = set()
    for r in list(direct) + list(reif_pairs):
        if r["c"] is None or r["parent"] is None:
            continue
        submap[r["parent"]].add(r["c"])
        children_all.add(r["c"])

    root = T.RDFS_CLASS
    for parent in set(submap) - {T.RDFS_RESOURCE}:
        if parent not in children_all:
            submap[root].add(parent)

    depths: dict[str, int] = {root: 0}
    # BFS with max-depth-wins (deterministic version of the reference's DFS)
    frontier = [root]
    guard = 0
    while frontier and guard < 10_000:
        guard += 1
        nxt = []
        for parent in frontier:
            d = depths[parent]
            for child in submap.get(parent, ()):
                if child == parent:
                    continue
                nd = d + 1
                if depths.get(child, -1) < nd:
                    depths[child] = nd
                    nxt.append(child)
        frontier = nxt
    return depths


def build_pins(stmts: DataFrame, reif: DataFrame) -> DataFrame:
    """Class/Property pins with stage numbers; max stage wins (id, collection)."""
    type_stmts = stmts.filter(F.col("p") == T.RDF_TYPE)
    dr = stmts.filter(F.col("p").isin(T.RDFS_DOMAIN, T.RDFS_RANGE))
    reif_dr = reif.filter(F.col("rp").isin(T.RDFS_DOMAIN, T.RDFS_RANGE))
    subclass = stmts.filter(F.col("p") == T.RDFS_SUBCLASSOF)
    reif_subclass = reif.filter(F.col("rp") == T.RDFS_SUBCLASSOF)

    def pin(df, col, cls, stage):
        return df.select(
            F.col(col).alias("id"), F.lit(cls).alias("collection"), F.lit(stage).alias("stage")
        )

    parts = [
        pin(type_stmts, "o", "Class", 1),
        pin(stmts.select("p").dropDuplicates(), "p", "Property", 2),
        pin(reif.filter(F.col("rp") == T.RDF_TYPE), "ro", "Class", 3),
        # objects of any rdf:predicate statement are Properties (main.py:3661-3668)
        pin(stmts.filter(F.col("p") == T.RDF_PREDICATE), "o", "Property", 4),
        pin(subclass, "s", "Class", 5),
        pin(subclass, "o", "Class", 5),
        pin(reif_subclass, "rs", "Class", 5),
        pin(reif_subclass, "ro", "Class", 5),
        pin(dr, "s", "Property", 6),
        pin(dr, "o", "Class", 7),
        pin(reif_dr, "rs", "Property", 6),
        pin(reif_dr, "ro", "Class", 7),
    ]
    allpins = parts[0]
    for p_ in parts[1:]:
        allpins = allpins.unionByName(p_)
    allpins = allpins.filter(F.col("id").isNotNull())
    return (
        allpins.groupBy("id")
        .agg(F.max(F.struct("stage", "collection")).alias("m"))
        .select("id", F.col("m.collection").alias("collection"))
    )


def build_candidates(stmts: DataFrame, reif: DataFrame) -> DataFrame:
    """Explicit + domain/range class candidates: (id, cls, source).

    source 0 = explicit type map, 1 = domain/range inference. A term with any
    explicit candidates ignores its DR candidates (write_adb_col_statements
    iterates the explicit map first — main.py:1322-1334).
    """
    type_stmts = stmts.filter(F.col("p") == T.RDF_TYPE)
    explicit = type_stmts.select(F.col("s").alias("id"), F.col("o").alias("cls")).unionByName(
        reif.filter(F.col("rp") == T.RDF_TYPE).select(
            F.col("rs").alias("id"), F.col("ro").alias("cls")
        )
    )
    explicit = explicit.withColumn("source", F.lit(0))

    # predicate scope: (p, kind, class) excluding rdfs:Literal / rdfs:Resource
    blacklist = [T.RDFS_LITERAL, T.RDFS_RESOURCE]
    scope = (
        stmts.filter(F.col("p").isin(T.RDFS_DOMAIN, T.RDFS_RANGE))
        .select(
            F.col("s").alias("pred"),
            F.when(F.col("p") == T.RDFS_DOMAIN, "domain").otherwise("range").alias("kind"),
            F.col("o").alias("cls"),
        )
        .unionByName(
            _reified_spo(stmts)
            .filter(F.col("rp").isin(T.RDFS_DOMAIN, T.RDFS_RANGE))
            .select(
                F.col("rs").alias("pred"),
                F.when(F.col("rp") == T.RDFS_DOMAIN, "domain").otherwise("range").alias("kind"),
                F.col("ro").alias("cls"),
            )
        )
        .filter(~F.col("cls").isin(blacklist))
        .dropDuplicates()
    )
    # scope derives from in-graph rdfs:domain/range statements, so it is not
    # strictly bounded — no broadcast hint; AQE broadcasts when small.
    scope_b = scope

    dom = (
        stmts.join(
            scope_b.filter(F.col("kind") == "domain"), stmts["p"] == scope_b["pred"], "inner"
        )
        .select(F.col("s").alias("id"), "cls")
    )
    rng = (
        stmts.join(
            scope_b.filter(F.col("kind") == "range"), stmts["p"] == scope_b["pred"], "inner"
        )
        .filter(F.col("o_kind") != "Literal")
        .select(F.col("o").alias("id"), "cls")
    )
    # reified statements also inherit scope (main.py:3867-3877)
    rdom = reif.join(scope_b.filter(F.col("kind") == "domain"), reif["rp"] == scope_b["pred"]).select(
        F.col("rs").alias("id"), "cls"
    )
    rrng = (
        reif.join(scope_b.filter(F.col("kind") == "range"), reif["rp"] == scope_b["pred"])
        .filter(F.col("ro_kind") != "Literal")
        .select(F.col("ro").alias("id"), "cls")
    )
    dr = dom.unionByName(rng).unionByName(rdom).unionByName(rrng).withColumn("source", F.lit(1))

    # DR candidates only for terms with no explicit candidates
    dr = dr.join(explicit.select("id").dropDuplicates(), "id", "left_anti")
    return explicit.unionByName(dr).dropDuplicates(["id", "cls"])


class BestClassController:
    """Pluggable best-class strategy, mirroring ``ArangoRDFController``
    (reference controller.py:12-94). Subclass and override
    :meth:`identify_best_class` to customize the ArangoDB Collection Mapping
    Process; the default reproduces the reference rule exactly:

    - single candidate → it;
    - any candidate in the subclass tree → max depth, with ties broken by
      sorted iteration + strict ``>`` (lexicographically-first max wins);
    - none in tree → lexicographic min.

    Must be picklable (it ships to executors inside an Arrow-batched UDF).
    """

    def identify_best_class(
        self, term_id: str, class_set: frozenset, depths: dict[str, int]
    ) -> str:
        if len(class_set) == 1:
            return next(iter(class_set))
        if any(c in depths for c in class_set):
            best_depth, best = -1, ""
            for c in sorted(class_set):
                d = depths.get(c, -1)
                if d > best_depth:
                    best_depth, best = d, c
            return best
        return sorted(class_set)[0]


def best_class(
    candidates: DataFrame,
    depths: dict[str, int],
    controller: BestClassController | None = None,
) -> DataFrame:
    """C6: (id, collection) via the controller's selection rule
    (controller.py:78-94): max tree depth, lexicographic-first ties;
    no candidate in tree → lexicographic min.

    The default rule is a pure-Catalyst window (no Python in the hot path).
    A custom **controller** runs as an Arrow-batched pandas UDF over one
    (id, candidate-set) row per term — the user contract matches the
    reference exactly (term, class set, depth map in; class IRI out).
    """
    spark = candidates.sparkSession

    if controller is not None and type(controller) is not BestClassController:
        import sys

        from pyspark.sql.functions import pandas_udf

        depths_local = dict(depths)
        ctrl = controller

        # User controllers are typically defined in modules that are not on
        # the executors' import path (a notebook, a test file). Register the
        # defining module for by-value pickling so the class ships inside the
        # closure instead of being re-imported worker-side.
        mod = sys.modules.get(type(ctrl).__module__)
        if mod is not None and not type(ctrl).__module__.startswith("sparkrdf"):
            try:
                from pyspark.cloudpickle import cloudpickle as _cp

                _cp.register_pickle_by_value(mod)
            except Exception:
                pass

        @pandas_udf("string")
        def pick(ids: pd.Series, clss: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    ctrl.identify_best_class(i, frozenset(cs), depths_local)
                    for i, cs in zip(ids, clss)
                ]
            )

        grouped = candidates.groupBy("id").agg(F.collect_set("cls").alias("clss"))
        return grouped.select(
            "id", T.adb_label(pick(F.col("id"), F.col("clss"))).alias("collection")
        )

    if depths:
        # driver-built local table: exact size stats, AQE broadcasts it
        depth_df = local_rows_df(spark, depths.items(), "cls string, depth int")
        cand = candidates.join(depth_df, "cls", "left").withColumn(
            "depth", F.coalesce("depth", F.lit(-1))
        )
    else:
        cand = candidates.withColumn("depth", F.lit(-1))

    w = Window.partitionBy("id").orderBy(
        (F.col("depth") >= 0).desc(), F.col("depth").desc(), F.col("cls").asc()
    )
    best = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.select("id", T.adb_label(F.col("cls")).alias("collection"))


def collection_mapping(
    stmts: DataFrame,
    overrides: DataFrame | None = None,
    resource_collection: str | None = None,
    controller: BestClassController | None = None,
    uri_map: DataFrame | None = None,
) -> DataFrame:
    """Full mapping pipeline → (id, collection) for every mapped term.

    Terms absent from the result fall back to ``{name}_UnknownResource`` at
    term-metadata time (main.py:2728-2731). With **resource_collection**,
    everything except Class/Property pins maps there (main.py:1319-1326).
    """
    if controller is not None and not isinstance(controller, BestClassController):
        # mirror the reference constructor's controller type check
        # (test_main.py:30-38: a non-ArangoRDFController raises TypeError)
        raise TypeError(
            "controller must be a BestClassController instance, got "
            f"{type(controller).__name__}"
        )
    reif = _reified_spo(stmts)
    pins = build_pins(stmts, reif)

    if resource_collection is not None:
        # pins stay, everything else handled at metadata time by the caller
        return pins

    depths = build_subclass_depths(stmts)
    cand = build_candidates(stmts, reif)
    best = best_class(cand, depths, controller)

    pins_p = pins.select("id", F.col("collection").alias("pin_col"))
    over_p = (
        overrides.select("id", F.col("collection").alias("over_col"))
        if overrides is not None
        else None
    )
    best_p = best.select("id", F.col("collection").alias("best_col"))

    out = pins_p.join(best_p, "id", "full")
    if over_p is not None:
        out = out.join(over_p, "id", "full")
    else:
        out = out.withColumn("over_col", F.lit(None).cast("string"))
    if uri_map is not None:
        # URI-map preload (main.py:1283-1291, overwrite=True at stage 0):
        # beats user adb:collection overrides and best-class inference, loses
        # to the later Class/Property pins.
        uri_p = (
            uri_map.filter(F.col("_uri").isNotNull())
            .select(F.col("_uri").alias("id"), F.col("collection").alias("uri_col"))
            .dropDuplicates(["id"])
        )
        out = out.join(uri_p, "id", "full")
    else:
        out = out.withColumn("uri_col", F.lit(None).cast("string"))
    return out.select(
        "id", F.coalesce("pin_col", "uri_col", "over_col", "best_col").alias("collection")
    ).filter(F.col("collection").isNotNull())
