"""Ontology reasoning & schema validation over distributed triple streams.

Three KG-construction post-passes the reference delegates to ArangoDB-side
tooling (its graphs land in a database and entailment/validation happen
there, cf. ArangoRDF's ``load_meta_ontology`` pulling OWL/RDFS vocabularies
into collections — arango_rdf/main.py): here they are Spark-native
transforms over the ``(s, p, o)`` stream itself:

* :func:`rdfs_materialize` — forward-chained ρDF entailment (the minimal
  RDFS fragment of Muñoz, Pérez & Gutierrez 2009: ``rdfs:subClassOf``,
  ``rdfs:subPropertyOf``, ``rdfs:domain``, ``rdfs:range``), the standard
  "materialize the closure once, query without inference" trade that every
  large triple store (WebPIE, Inferray, RDFox) makes at scale.
* :func:`characteristic_sets` — the Neumann & Moerkotte (ICDE 2011)
  subject-predicate-set statistic used for cardinality estimation of star
  joins; doubles as schema induction over a schemaless crawl KG.
* :func:`shape_violations` — SHACL-lite cardinality validation
  (sh:minCount / sh:maxCount per class-targeted property shape), the QA
  gate a construction pipeline runs before publishing a snapshot.

Scale shape (shared): ontology and shape tables are human-authored —
thousands of rows at most — so they are collected once and compiled on the
driver (rule maps, property sets), or broadcast; no rule table is ever
shuffled. The all-data shuffles are the final ``dropDuplicates``
(entailment) and the ``(s, p)`` hash aggregates (characteristic sets,
validation), both map-side-combinable; only ``owl_materialize``'s
distributed transitive closure adds self-joins over the closed edges.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkrdf import localdf
from sparkrdf import terms as T
from sparkrdf.query import _closure_local, path_closure

RDFS_SUBCLASS = T.RDFS_NS + "subClassOf"
RDFS_SUBPROP = T.RDFS_NS + "subPropertyOf"
RDFS_DOMAIN = T.RDFS_NS + "domain"
RDFS_RANGE = T.RDFS_NS + "range"


def _spo(df: DataFrame, s: str, p: str, o: str) -> DataFrame:
    return df.select(F.col(s).alias("s"), F.col(p).alias("p"), F.col(o).alias("o"))


#: Largest compiled ontology (entries summed over the four rule maps of
#: :func:`_compile_rdfs`) that :func:`rdfs_materialize` plans as map
#: literals; a larger one takes the broadcast rule tree. It is the largest
#: size at which the literal form still won in ``tools/gate_ab.py --only
#: rdfs`` (BENCH.md): a tie at 2,230 entries, the tree 1.2× faster at 4,776.
LITERAL_MAX = 2_230

#: Most pairs a ⊑ closure may hold on the driver.
CLOSURE_CAP = 5_000_000


def _compile_rdfs(onto_rows: list[tuple]) -> tuple[tuple[dict, dict, dict, dict], dict]:
    """The ρDF rules of an ontology, compiled on the driver.

    Returns ``((sup, st, ot, csup), type_rules)``. The four maps go
    ``key -> sorted list``:

    - ``sup[p]``: the strict ⊑p supers of ``p``; ``gen(p) = {p} ∪ sup[p]``.
    - ``st[p]`` / ``ot[p]``: the domain / range classes declared on any
      predicate of ``gen(p)``, with all their ⊑c supers.
    - ``csup[c]``: the strict ⊑c supers of class ``c``.

    ``type_rules`` holds what rdf:type's OWN entries derive from every type
    row ``(x rdf:type D)`` — its supers ``U``, domain classes ``A`` and range
    classes ``B`` (empty lists for an ontology that says nothing about
    rdf:type): ``(x q c)`` for ``q ∈ gt = {rdf:type} ∪ U``, ``c ∈ A``;
    ``(x q D)`` for ``q ∈ U``; and, when ``B`` is non-empty, ``D`` and every
    class of ``M = A ∪ B`` get every class of ``M`` through every ``q ∈ gt``.

    An ontology row with a NULL subject or object declares nothing. Raises
    ValueError when a ⊑ closure holds more than ``CLOSURE_CAP`` pairs.
    """
    rows = [(s, p, o) for s, p, o in onto_rows if s is not None and o is not None]

    def pairs_by_key(pairs) -> dict:
        m: dict = {}
        for a, b in pairs:
            m.setdefault(a, set()).add(b)
        return m

    def closure(rel: str) -> dict:
        closed = _closure_local([(s, o) for s, p, o in rows if p == rel], cap=CLOSURE_CAP)
        if closed is None:
            raise ValueError(
                f"rdfs_materialize: the {rel} closure holds more than "
                f"{CLOSURE_CAP:,} pairs (CLOSURE_CAP)"
            )
        return pairs_by_key(closed)

    sup, csup = closure(RDFS_SUBPROP), closure(RDFS_SUBCLASS)

    def typed(rel: str) -> dict:
        decl = pairs_by_key((s, o) for s, p, o in rows if p == rel)
        out = {}
        for p in decl.keys() | sup.keys():
            cs = {c for q in {p} | sup.get(p, set()) for c in decl.get(q, ())}
            cs |= {d for c in cs for d in csup.get(c, ())}
            if cs:
                out[p] = cs
        return out

    maps = tuple(
        {k: sorted(v) for k, v in m.items()}
        for m in (sup, typed(RDFS_DOMAIN), typed(RDFS_RANGE), csup)
    )
    u, a, b = (m.get(T.RDF_TYPE, []) for m in maps[:3])
    gt = [T.RDF_TYPE, *u]
    m = sorted({*a, *b}) if b else []
    type_rules = {
        "x_c": [[q, c] for q in gt for c in a],
        "x_D": [[q] for q in u],
        "D_c": [[q, c] for q in gt for c in m],
        "c_c": [[c, q, d] for c in m for q in gt for d in m],
    }
    return maps, type_rules


def _triple(s: Column, p: Column, o: Column) -> Column:
    return F.struct(s.alias("s"), p.alias("p"), o.alias("o"))


def _json_lit(value, schema: str) -> Column:
    """``value`` as ONE plan literal: a JSON string the optimizer folds into
    a typed literal, so the plan costs the same few py4j calls whatever its
    size (one ``F.lit`` per element would be one round trip each)."""
    return F.from_json(F.lit(json.dumps(value, sort_keys=True)), schema)


def _close_type_rows(df: DataFrame, type_rules: dict) -> DataFrame:
    """``df`` plus what ``type_rules`` derive from its ``rdf:type`` rows (see
    :func:`_compile_rdfs`); ``df`` itself when rdf:type has no entries."""
    if not any(type_rules.values()):
        return df
    s, p, o = F.col("s"), F.col("p"), F.col("o")

    def rules(key: str) -> Column:
        return _json_lit(type_rules[key], "array<array<string>>")

    derived = F.concat(
        F.transform(rules("x_c"), lambda e: _triple(s, e[0], e[1])),
        F.transform(rules("x_D"), lambda e: _triple(s, e[0], o)),
        F.transform(rules("D_c"), lambda e: _triple(o, e[0], e[1])),
        F.transform(rules("c_c"), lambda e: _triple(e[0], e[1], e[2])),
    )
    none = F.array().cast("array<struct<s:string,p:string,o:string>>")
    rows = F.concat(F.array(_triple(s, p, o)), F.when(p == T.RDF_TYPE, derived).otherwise(none))
    return df.select(F.explode(rows).alias("x")).select("x.s", "x.p", "x.o")


def rdfs_materialize(
    triples: DataFrame,
    ontology: DataFrame,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
) -> DataFrame:
    """Materialize the ρDF entailment of ``triples`` under ``ontology``.

    ``ontology`` is a small ``(s, p, o)`` DataFrame holding the schema
    triples (``rdfs:subClassOf`` / ``rdfs:subPropertyOf`` / ``rdfs:domain``
    / ``rdfs:range``); ``triples`` is the instance stream. Returns the
    distinct union of the asserted instance triples and everything the four
    ρDF instance rules derive:

    1. ``(s p o), p ⊑p* q     ⊢ (s q o)``        (rdfs7)
    2. ``(s p o), p dom C     ⊢ (s rdf:type C)``  (rdfs2)
    3. ``(s p o), p rng C     ⊢ (o rdf:type C)``  (rdfs3)
    4. ``(x rdf:type C), C ⊑c* D ⊢ (x rdf:type D)``  (rdfs9)

    The ontology is collected once and compiled on the driver
    (:func:`_compile_rdfs`): both ⊑ closures, and per predicate the
    ⊑c-closed classes its domain and range declarations (through every
    super-property) give to the subject and the object. With those maps every
    rule is a function of one input row, and one pass is complete: a row
    ``(s p o)`` yields itself, ``(s q o)`` for ``q ∈ sup[p]``, ``(s type C)``
    for ``C ∈ st[p]``, ``(o type C)`` for ``C ∈ ot[p]``, and, when ``rdf:type
    ∈ gen(p)``, ``(s type D)`` for ``D ∈ csup[o]``. Only an ontology that
    gives rdf:type itself a super-property, domain or range adds a second
    per-row pass over the type rows (:func:`_close_type_rows`). Output stays
    bounded by ``|T| · (1 + depth(⊑p) + depth(⊑c) + |dom| + |rng|)``.

    Two plan forms consume the same compiled maps, chosen by their summed
    entry count:

    - up to ``LITERAL_MAX`` entries, the literal form: each map enters the
      plan as ONE literal (:func:`_json_lit`), so building the plan costs
      the same few py4j calls whatever the ontology holds. One scan of the
      input, one ``concat`` of the asserted row and four ``transform``
      lookups, one explode, one ``dropDuplicates``: one shuffle, no join.
    - above it, the broadcast rule tree: the maps as pair tables, four
      broadcast hash joins against the deduped, checkpointed input. A map
      lookup scans the map's keys per row, so past the bound the hash
      probe wins; ``tools/gate_ab.py --only rdfs`` measures the crossover
      (BENCH.md).

    A ⊑ closure over ``CLOSURE_CAP`` pairs raises ValueError naming the cap:
    the closure would have to land on the driver in either form.
    """
    t = _spo(triples, s_col, p_col, o_col)
    spark = triples.sparkSession
    onto_rows = [tuple(r) for r in _spo(ontology, "s", "p", "o").collect()]
    maps, type_rules = _compile_rdfs(onto_rows)
    sup, st, ot, csup = maps
    type_ = F.lit(T.RDF_TYPE)

    if sum(len(v) for m in maps for v in m.values()) <= LITERAL_MAX:
        empty = F.array().cast("array<string>")

        def lookup(m: dict, key: Column) -> Column:
            return F.coalesce(
                F.element_at(_json_lit(m, "map<string,array<string>>"), key), empty
            )

        s, p, o = F.col("s"), F.col("p"), F.col("o")
        sup_p = lookup(sup, p)
        # a NULL key looks up nothing: csup applies only to type rows
        is_type = (p == type_) | F.array_contains(sup_p, T.RDF_TYPE)
        derived = F.concat(
            F.array(_triple(s, p, o)),
            F.transform(sup_p, lambda q: _triple(s, q, o)),
            F.transform(lookup(st, p), lambda c: _triple(s, type_, c)),
            F.transform(lookup(ot, p), lambda c: _triple(o, type_, c)),
            F.transform(lookup(csup, F.when(is_type, o)), lambda d: _triple(s, type_, d)),
        )
        out = t.select(F.explode(derived).alias("x")).select("x.s", "x.p", "x.o")
        return _close_type_rows(out, type_rules).dropDuplicates()

    def pairs(m: dict, key: str) -> DataFrame:
        rows = [(k, v) for k, vs in m.items() for v in vs]
        return F.broadcast(localdf.local_rows_df(spark, rows, f"{key} string, _v string"))

    # the input is referenced by all four joins: dedup and materialize once
    t = t.dropDuplicates().localCheckpoint(eager=True)
    t1 = t.unionByName(t.join(pairs(sup, "p"), "p").select("s", F.col("_v").alias("p"), "o"))
    typed = (
        t.join(pairs(st, "p"), "p").select("s", type_.alias("p"), F.col("_v").alias("o"))
    ).unionByName(
        t.join(pairs(ot, "p"), "p").select(F.col("o").alias("s"), type_.alias("p"), F.col("_v").alias("o"))
    )
    inherited = (
        t1.filter(F.col("p") == T.RDF_TYPE)
        .join(pairs(csup, "o"), "o")
        .select("s", type_.alias("p"), F.col("_v").alias("o"))
    )
    out = t1.unionByName(typed).unionByName(inherited)
    return _close_type_rows(out, type_rules).dropDuplicates()


def characteristic_sets(
    triples: DataFrame,
    s_col: str = "s",
    p_col: str = "p",
    sep: str = " ",
) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011): group subjects
    by their exact set of emitted predicates.

    Returns one row per distinct predicate set: ``predicate_set`` (the
    sorted, ``sep``-joined predicate IRIs — a canonical set key),
    ``n_subjects`` (how many subjects carry exactly that set) and
    ``n_triples`` (total assertions across those subjects). These are the
    sufficient statistics for star-join cardinality estimation — the
    selectivity of ``?x p₁ ?a . ?x p₂ ?b`` is the subject count summed over
    the sets containing ``{p₁, p₂}`` — and a crawl-scale KG typically
    collapses to a few thousand rows, so the output broadcasts into a
    planner.

    Scale shape: two hash aggregates — ``(s)``-keyed ``collect_set``
    (map-side combined; set size is bounded by the schema, not the data)
    then a set-keyed count. One shuffle each, no joins.
    """
    per_subject = (
        _spo(triples, s_col, p_col, p_col)
        .groupBy("s")
        .agg(
            F.concat_ws(sep, F.sort_array(F.collect_set("p"))).alias("predicate_set"),
            F.count("*").alias("_nt"),
        )
    )
    return per_subject.groupBy("predicate_set").agg(
        F.count("*").alias("n_subjects"),
        F.sum("_nt").cast("long").alias("n_triples"),
    )


def shape_violations(
    triples: DataFrame,
    shapes: DataFrame,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
) -> DataFrame:
    """SHACL-lite cardinality validation: per class-targeted property shape,
    flag focus nodes whose value count falls outside ``[min_count,
    max_count]``.

    ``shapes`` rows: ``(shape_id string, target_class string, path string,
    min_count int, max_count int)`` — ``max_count`` NULL means unbounded
    (sh:maxCount absent). Focus nodes are selected by ``rdf:type
    target_class`` (sh:targetClass semantics). Returns ``(focus, shape_id,
    path, n_values, kind)`` with ``kind`` ``'min'`` or ``'max'`` — one row
    per violated shape, min-violations reported even when the node asserts
    the path zero times (the case a naive inner join silently drops).

    Scale shape: value counts are pre-aggregated ``(s, p)``-keyed (map-side
    combine — never a focus×triples row blowup), the shape table broadcasts
    into the focus stream, and the counts join is subject-keyed. One triple
    shuffle for the aggregate, one for the focus/count join.
    """
    t = _spo(triples, s_col, p_col, o_col)
    focus = (
        t.filter(F.col("p") == T.RDF_TYPE)
        .select(F.col("s").alias("focus"), F.col("o").alias("target_class"))
        .dropDuplicates()
        .join(F.broadcast(shapes), "target_class")
    )
    counts = t.groupBy(F.col("s").alias("focus"), F.col("p").alias("path")).agg(
        F.count("*").alias("_n")
    )
    checked = focus.join(counts, ["focus", "path"], "left").withColumn(
        "n_values", F.coalesce(F.col("_n"), F.lit(0)).cast("long")
    )
    return checked.filter(
        (F.col("n_values") < F.col("min_count"))
        | (F.col("max_count").isNotNull() & (F.col("n_values") > F.col("max_count")))
    ).select(
        "focus",
        "shape_id",
        "path",
        "n_values",
        F.when(F.col("n_values") < F.col("min_count"), F.lit("min"))
        .otherwise(F.lit("max"))
        .alias("kind"),
    )


def owl_materialize(
    triples: DataFrame,
    ontology: DataFrame,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
) -> DataFrame:
    """Materialize the OWL-lite property-axiom entailment of ``triples``:
    ``owl:SymmetricProperty`` (``(s p o) ⊢ (o p s)``), ``owl:inverseOf``
    (``(s p o) ⊢ (o q s)``, both directions — inverseOf is symmetric), and
    ``owl:TransitiveProperty`` (per-property transitive closure). The OWL
    companion to :func:`rdfs_materialize` — together they cover the axiom
    vocabulary the reference's meta ontologies actually use
    (sparkrdf/meta/*.trig declare symmetric/inverse pairs like
    ``adb:collection`` relations).

    Completeness schedule (one pass, no outer fixpoint): symmetric/inverse
    expansion FIRST (so closures run over the full edge sets), per-property
    transitive closure SECOND, symmetric/inverse re-applied THIRD to cover
    closure-derived edges (``p(a,b), p(b,c) ⊢ p(a,c) ⊢ q(c,a)``). That
    schedule is a fixpoint for these three axiom types: the closure of a
    symmetric edge set is itself symmetric, and the inverse image of a
    transitive closure IS the closure of the inverse image, so a fourth
    pass derives nothing new.

    Scale shape: axiom tables are human-authored (broadcast); symmetric and
    inverse rules are map-only projections gated by a broadcast semi/equi
    join. The transitive rule closes ONLY edges of declared-transitive
    properties (an isin filter prunes the stream first) with
    :func:`sparkrdf.query.path_closure` grouped by ``p`` — a driver pass
    for small edge sets, else O(log path-length) doubling self-joins run
    to the fixpoint whatever the depth. The input stream is
    materialized ONCE (eager localCheckpoint, WITHOUT its own dedup —
    sym_inv's dropDuplicates subsumes it: dedup(x ∪ flip(x) ∪ inv(x)) is
    the same set whether or not x was deduped first, flip/inv being
    row-wise maps — so the input's separate full shuffle is saved) and the
    sym/inv-expanded stream once more: every sym_inv pass references its
    input three times (identity + flip + inverse), so an uncached stream
    would recompute its whole upstream ~6× — measured 3× wall on the
    doc-KG bench.
    """
    # barrier kept: skipping it measured slower on kg_owl_entailed (3.7 -> 4.0 s)
    t = _spo(triples, s_col, p_col, o_col).localCheckpoint(eager=True)
    onto = _spo(ontology, "s", "p", "o")

    # Axiom tables are human-authored (module docstring): collect ONCE and
    # compile the symmetric/transitive property sets into isin predicates —
    # a codegen filter instead of a broadcast semi-join per sym_inv call
    # (sym_inv runs three times per materialization). inverseOf stays a
    # broadcast join: one property may declare several inverses.
    spark = triples.sparkSession
    onto_rows = [(r0["s"], r0["p"], r0["o"]) for r0 in onto.collect()]
    sym_props = sorted(
        {s for s, p, o in onto_rows if p == T.RDF_TYPE and o == T.OWL_SYMMETRIC}
    )
    trans_props = sorted(
        {s for s, p, o in onto_rows if p == T.RDF_TYPE and o == T.OWL_TRANSITIVE}
    )
    inv_rows = sorted(
        {(s, o) for s, p, o in onto_rows if p == T.OWL_INVERSE_OF}
        | {(o, s) for s, p, o in onto_rows if p == T.OWL_INVERSE_OF}
    )
    inv = F.broadcast(localdf.local_rows_df(spark, inv_rows, "p string, _q string"))

    def _is_in(col, values):
        return col.isin(*values) if values else F.lit(False)

    def sym_inv(df: DataFrame) -> DataFrame:
        flipped = df.filter(_is_in(F.col("p"), sym_props)).select(
            F.col("o").alias("s"), "p", F.col("s").alias("o")
        )
        inverted = df.join(inv, "p").select(
            F.col("o").alias("s"), F.col("_q").alias("p"), F.col("s").alias("o")
        )
        return df.unionByName(flipped).unionByName(inverted).dropDuplicates()

    t1 = sym_inv(t).localCheckpoint(eager=True)

    # per-property transitive closure. t1 is already distinct (sym_inv ends
    # in dropDuplicates) and checkpointed, so path_closure's driver route
    # reads the filter as is: its gate count and collect scan the cached
    # t1 blocks.
    closed = path_closure(t1.filter(_is_in(F.col("p"), trans_props)), by=("p",))
    t2 = t1.unionByName(closed)
    return sym_inv(t2)


def rdfs_materialize_delta(
    closure: DataFrame,
    delta: DataFrame,
    ontology: DataFrame,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
    delta_closure: DataFrame | None = None,
) -> DataFrame:
    """Incremental ρDF maintenance: given an already-materialized closure
    and a batch of NEW asserted triples (the crawl delta), return exactly
    the rows the closure gains — MERGE-sink-shaped, the companion of
    :func:`sparkrdf.compare.snapshot_diff` for the entailed layer.

    Correct without any re-derivation over the old data because every ρDF
    instance rule (rdfs2/3/7/9) has exactly ONE instance-triple antecedent
    — the other antecedents are ontology triples, pre-closed and fixed —
    so ``closure(old ∪ delta) = closure(old) ∪ closure(delta)``. (This is
    the property that makes ρDF maintenance embarrassingly incremental;
    full RDFS rules with instance-instance joins would need semi-naive
    evaluation instead.) Triple DELETION is intentionally out of scope:
    retracting under materialization needs over-deletion/re-derivation
    (DRed) and a production system handles it by snapshot rebuild.

    Scale shape: one :func:`rdfs_materialize` over the (small) delta, then
    ONE left-anti join against the existing closure on the full triple key
    — the closure side never moves if it is bucketed/partitioned on that
    key; the anti probe is delta-sized.

    ``delta_closure``: an already-built ``rdfs_materialize(delta)`` result;
    when given, ``delta`` is ignored. ``rdfs_materialize`` is lazy, so a
    caller that overlaps the old and the delta closure on concurrent driver
    threads checkpoints each one inside its own thread (e.g.
    ``run_concurrently(lambda: rdfs_materialize(old, onto)
    .localCheckpoint(eager=True), ...)``); otherwise all the work lands on
    the single final action and the overlap is lost.
    """
    if delta_closure is not None:
        new = _spo(delta_closure, "s", "p", "o")
    else:
        new = rdfs_materialize(delta, ontology, s_col=s_col, p_col=p_col, o_col=o_col)
    old = _spo(closure, s_col, p_col, o_col)
    return new.join(old, ["s", "p", "o"], "left_anti")
