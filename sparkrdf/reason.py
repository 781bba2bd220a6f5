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
thousands of rows at most — so every rule application is a *broadcast*
join against the triple stream; the only all-data shuffles are the final
``dropDuplicates`` (entailment) and the ``(s, p)`` hash aggregates
(characteristic sets, validation), both map-side-combinable. Nothing in
this module shuffles the triple stream more than once per output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def rdfs_materialize(
    triples: DataFrame,
    ontology: DataFrame,
    max_doubling: int = 6,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
    materialize: bool = False,
    literal_map_max: int = 2000,
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

    Rule order makes one pass complete: sub-property closure first (so
    domain/range declared on a *super*-property fire for sub-property
    assertions), then domain/range (minting new ``rdf:type`` triples), then
    sub-class closure over ALL type triples, asserted and derived. The two
    ``⊑*`` relations are pre-closed transitively (iterative doubling via
    :func:`sparkrdf.query.path_closure` — ontology-sized, converges in
    ``log₂(depth)`` rounds) so each rule is a single join, not a fixpoint.

    Scale shape: with the two closures driver-local (they are
    ontology-sized), ALL FOUR rules become pure per-row functions of one
    input triple — the other antecedents are fixed schema lookups. The
    default plan is therefore a SINGLE PASS: the closures and domain/range
    tables compile into Catalyst map literals, each input row emits its
    full derivation set as one constructed array (itself + ⊑p
    generalizations + dom/rng typings over the generalized predicates + ⊑c
    inheritance over every asserted-or-derived type triple), one explode,
    one final dropDuplicates — one scan of the instance stream, one
    shuffle, no joins, no input materialization (a dedup of the input is
    subsumed by the output dedup; per-row expansion is ontology-bounded).
    Entailment output stays bounded by ``|T| · (1 + depth(⊑p) + depth(⊑c)
    + |dom| + |rng|)`` — linear in the instance data, never quadratic.
    Ontologies too large for literal maps (> ``literal_map_max`` derived
    entries — map literals in the thousands would bloat the plan the same
    way unrolled vector folds did) or too dense for the local closure fall
    back to the broadcast-join rule tree over a checkpointed input.

    ``materialize=True`` eagerly checkpoints the RESULT before returning —
    for callers that build several closures on concurrent driver threads
    (guide §2.6 job overlap, e.g. the incremental-delta path): a lazy
    result would defer all the work to the single final action and lose
    the overlap. Same rows either way.
    """
    t = _spo(triples, s_col, p_col, o_col)
    onto = _spo(ontology, "s", "p", "o")

    # The ontology is human-authored — thousands of rows at most (module
    # docstring) — so collect it ONCE and derive the four rule tables and
    # both strict transitive closures in-process instead of running
    # checkpoint+count Spark jobs per closure over a handful of rows. Each
    # table re-enters the plan through localdf.local_rows_df: a JVM
    # LocalTableScan under a broadcast hint, so no rule join starts a
    # Python worker. (The closure itself is query.path_closure's driver
    # fast path, shared here.)
    spark = triples.sparkSession
    onto_rows = [(r["s"], r["p"], r["o"]) for r in onto.collect()]

    def _pairs_df(rows, c1, c2):
        return F.broadcast(localdf.local_rows_df(spark, rows, f"{c1} string, {c2} string"))

    dom_rows = [(s, o) for s, p, o in onto_rows if p == RDFS_DOMAIN]
    rng_rows = [(s, o) for s, p, o in onto_rows if p == RDFS_RANGE]
    _cap = 5_000_000
    spc_pairs = _closure_local(
        [(s, o) for s, p, o in onto_rows if p == RDFS_SUBPROP], cap=_cap
    )
    scc_pairs = _closure_local(
        [(s, o) for s, p, o in onto_rows if p == RDFS_SUBCLASS], cap=_cap
    )

    n_entries = (
        len(spc_pairs) + len(scc_pairs) + len(dom_rows) + len(rng_rows)
        if spc_pairs is not None and scc_pairs is not None
        else literal_map_max + 1
    )
    if n_entries <= literal_map_max:
        # SINGLE-PASS literal-map path (docstring "Scale shape"): every rule
        # is a per-row lookup; one constructed array per input triple, one
        # explode, one dedup. No joins, no input barrier.
        from collections import defaultdict

        def _to_map(pairs):
            m: dict = defaultdict(set)
            for a, b in pairs:
                m[a].add(b)
            return {k: sorted(v) for k, v in m.items()}

        spc_m, scc_m = _to_map(spc_pairs), _to_map(scc_pairs)
        dom_m, rng_m = _to_map(dom_rows), _to_map(rng_rows)

        EMPTY_S = F.array().cast("array<string>")

        def _amap(d):
            if not d:
                return None
            entries = []
            for k in sorted(d):
                entries.append(F.lit(k))
                entries.append(F.array(*[F.lit(x) for x in d[k]]))
            return F.create_map(*entries)

        spc_lm, scc_lm = _amap(spc_m), _amap(scc_m)
        dom_lm, rng_lm = _amap(dom_m), _amap(rng_m)

        def _lk(m, key):
            if m is None:
                return EMPTY_S
            return F.coalesce(F.element_at(m, key), EMPTY_S)

        def _st(s, p, o):
            return F.struct(s.alias("s"), p.alias("p"), o.alias("o"))

        TYPE = F.lit(T.RDF_TYPE)
        EMPTY_T = F.array().cast("array<struct<s:string,p:string,o:string>>")
        # rdfs7: the asserted predicate + its strict super-property closure
        gen = F.concat(F.array(F.col("p")), _lk(spc_lm, F.col("p")))
        asserted = F.transform(gen, lambda q: _st(F.col("s"), q, F.col("o")))
        # rdfs2/rdfs3 through every generalized predicate
        dom_t = F.flatten(
            F.transform(
                gen,
                lambda q: F.transform(
                    _lk(dom_lm, q), lambda c: _st(F.col("s"), TYPE, c)
                ),
            )
        )
        rng_t = F.flatten(
            F.transform(
                gen,
                lambda q: F.transform(
                    _lk(rng_lm, q), lambda c: _st(F.col("o"), TYPE, c)
                ),
            )
        )
        # rdfs9 over every type triple this row contributes: the asserted/
        # generalized (s rdf:type o) if any generalized predicate IS
        # rdf:type, plus every dom/rng-derived typing
        t9a = F.when(
            F.array_contains(gen, T.RDF_TYPE),
            F.transform(_lk(scc_lm, F.col("o")), lambda d: _st(F.col("s"), TYPE, d)),
        ).otherwise(EMPTY_T)
        t9b = F.flatten(
            F.transform(
                gen,
                lambda q: F.flatten(
                    F.transform(
                        _lk(dom_lm, q),
                        lambda c: F.transform(
                            _lk(scc_lm, c), lambda d: _st(F.col("s"), TYPE, d)
                        ),
                    )
                ),
            )
        )
        t9c = F.flatten(
            F.transform(
                gen,
                lambda q: F.flatten(
                    F.transform(
                        _lk(rng_lm, q),
                        lambda c: F.transform(
                            _lk(scc_lm, c), lambda d: _st(F.col("o"), TYPE, d)
                        ),
                    )
                ),
            )
        )
        derived = F.concat(asserted, dom_t, rng_t, t9a, t9b, t9c)
        out = (
            t.select(F.explode(derived).alias("x"))
            .select("x.s", "x.p", "x.o")
            .dropDuplicates()
        )
        return out.localCheckpoint(eager=True) if materialize else out

    # Broadcast-join rule tree (large ontologies): input deduped and
    # materialized once — the tree references it ~12×.
    t = t.dropDuplicates().localCheckpoint(eager=True)
    if spc_pairs is None or scc_pairs is None:  # pragma: no cover — an
        # adversarially dense "ontology"; fall back to the distributed loop
        sub_prop = onto.filter(F.col("p") == RDFS_SUBPROP)
        sub_cls = onto.filter(F.col("p") == RDFS_SUBCLASS)
        spc = F.broadcast(
            path_closure(sub_prop, src="s", dst="o", max_doubling=max_doubling)
            .select(F.col("s").alias("p"), F.col("o").alias("_sup"))
        )
        scc = F.broadcast(
            path_closure(sub_cls, src="s", dst="o", max_doubling=max_doubling)
            .select(F.col("s").alias("_cls"), F.col("o").alias("_sup"))
        )
    else:
        spc = _pairs_df(spc_pairs, "p", "_sup")
        scc = _pairs_df(scc_pairs, "_cls", "_sup")
    dom = _pairs_df(dom_rows, "p", "_cls")
    rng = _pairs_df(rng_rows, "p", "_cls")

    # rdfs7: property generalization (strict closure join + the asserted p).
    # t1/t2 stay LAZY: every consumer below is a broadcast join or filter
    # over the checkpointed t, so re-referencing them re-runs only map-side
    # codegen pipelines over cached blocks (module-note above).
    t1 = t.unionByName(
        t.join(spc, "p").select("s", F.col("_sup").alias("p"), "o")
    )
    # rdfs2/rdfs3 over the generalized stream
    typed = (
        t1.join(dom, "p").select("s", F.lit(T.RDF_TYPE).alias("p"), F.col("_cls").alias("o"))
    ).unionByName(
        t1.join(rng, "p").select(
            F.col("o").alias("s"), F.lit(T.RDF_TYPE).alias("p"), F.col("_cls").alias("o")
        )
    )
    t2 = t1.unionByName(typed)
    # rdfs9: class generalization over every type triple, asserted + derived
    inherited = (
        t2.filter(F.col("p") == T.RDF_TYPE)
        .withColumnRenamed("o", "_cls")
        .join(scc, "_cls")
        .select("s", F.lit(T.RDF_TYPE).alias("p"), F.col("_sup").alias("o"))
    )
    out = t2.unionByName(inherited).dropDuplicates()
    return out.localCheckpoint(eager=True) if materialize else out


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
    max_doubling: int = 6,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
    input_barrier: bool = True,
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
    properties (a broadcast semi-join prunes the stream first) with
    (p, node)-keyed iterative doubling — O(log path-length) self-joins,
    early-converging, raising rather than truncating. The input stream is
    materialized ONCE (eager localCheckpoint, WITHOUT its own dedup —
    sym_inv's dropDuplicates subsumes it: dedup(x ∪ flip(x) ∪ inv(x)) is
    the same set whether or not x was deduped first, flip/inv being
    row-wise maps — so the input's separate full shuffle is saved) and the
    sym/inv-expanded stream once more: every sym_inv pass references its
    input three times (identity + flip + inverse), so an uncached stream
    would recompute its whole upstream ~6× — measured 3× wall on the
    doc-KG bench. ``input_barrier=False`` skips that materialization for
    callers whose input is already cheap to re-reference (cached upstream
    tables + map-only derivations): the first sym_inv pass then references
    the lazy input three times, trading one full write for three cached
    map-side re-reads.
    """
    t = _spo(triples, s_col, p_col, o_col)
    if input_barrier:
        t = t.localCheckpoint(eager=True)
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

    # per-property transitive closure, (p, endpoint)-keyed doubling. t1 is
    # already distinct (sym_inv ends in dropDuplicates) and checkpointed, so
    # the filter needs neither its own dedup nor a checkpoint: count and
    # (on the fast path) collect read the cached t1 blocks directly.
    r = t1.filter(_is_in(F.col("p"), trans_props))
    # Declared-transitive edge sets are usually dimension-sized next to the
    # triple stream: close them per property in one driver pass instead of
    # O(log depth) join+dedup+count jobs. A closure past the driver output
    # cap takes the distributed doubling loop.
    closed = None
    rows = localdf.collect_if_small(r)
    if rows is not None:
        by_p: dict = {}
        for row in rows:
            by_p.setdefault(row["p"], []).append((row["s"], row["o"]))
        out: list | None = []
        # build each tuple in r's column ORDER, not an assumed (s,p,o)
        order = r.columns
        for p, pairs in by_p.items():
            loc = _closure_local(pairs, cap=localdf.SMALL_MAX - len(out))
            if loc is None:
                out = None
                break
            out.extend(
                tuple({"s": s, "p": p, "o": o}[c] for c in order)
                for s, o in loc
            )
        if out is not None:
            closed = localdf.local_rows_df(spark, out, r.schema)
    n = 0
    if closed is None:
        closed, n = r, r.count()
    if n:
        for _ in range(max_doubling):
            a, b = closed.alias("a"), closed.alias("b")
            stepped = a.join(
                b, (F.col("a.p") == F.col("b.p")) & (F.col("a.o") == F.col("b.s"))
            ).select(F.col("a.s").alias("s"), F.col("a.p").alias("p"), F.col("b.o").alias("o"))
            merged = (
                closed.unionByName(stepped).dropDuplicates().localCheckpoint(eager=True)
            )
            m = merged.count()
            if m == n:
                break
            closed, n = merged, m
        else:
            raise RuntimeError(
                f"owl_materialize transitive closure still growing after "
                f"{max_doubling} doubling rounds; raise max_doubling"
            )
    t2 = t1.unionByName(closed)
    return sym_inv(t2)


def rdfs_materialize_delta(
    closure: DataFrame,
    delta: DataFrame,
    ontology: DataFrame,
    max_doubling: int = 6,
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

    ``delta_closure``: an already-materialized ``rdfs_materialize(delta)``
    result — callers that build the old closure and the delta closure
    anyway can run the two (independent) materializations on concurrent
    driver threads and pass both in (guide-standard job overlap); when
    given, ``delta`` is ignored.
    """
    if delta_closure is not None:
        new = _spo(delta_closure, "s", "p", "o")
    else:
        new = rdfs_materialize(
            delta, ontology, max_doubling=max_doubling,
            s_col=s_col, p_col=p_col, o_col=o_col,
        )
    old = _spo(closure, s_col, p_col, o_col)
    return new.join(old, ["s", "p", "o"], "left_anti")
