"""Hand-computed cases for sparkrdf.reason (ρDF entailment, characteristic
sets, SHACL-lite cardinality validation)."""

from pyspark.sql import functions as F

from sparkrdf import terms as T
from sparkrdf.reason import (
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASS,
    RDFS_SUBPROP,
    characteristic_sets,
    rdfs_materialize,
    shape_violations,
)

TY = T.RDF_TYPE


def _df(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_rdfs_materialize_hand_computed(spark):
    onto = _df(
        spark,
        [
            ("mentions", RDFS_SUBPROP, "references"),
            ("references", RDFS_SUBPROP, "relatedTo"),
            ("Op", RDFS_SUBCLASS, "Tech"),
            ("Tech", RDFS_SUBCLASS, "Thing"),
            ("Doc", RDFS_SUBCLASS, "Thing"),
            # declared on the SUPER-property: must fire for `mentions`
            # assertions via the sub-property closure
            ("references", RDFS_DOMAIN, "Doc"),
            ("references", RDFS_RANGE, "Ent"),
        ],
    )
    inst = _df(spark, [("a", "mentions", "b"), ("b", TY, "Op")])
    got = {tuple(r) for r in rdfs_materialize(inst, onto).collect()}
    expect = {
        # asserted
        ("a", "mentions", "b"),
        ("b", TY, "Op"),
        # rdfs7 sub-property generalization (transitive)
        ("a", "references", "b"),
        ("a", "relatedTo", "b"),
        # rdfs2/rdfs3 via the generalized predicate
        ("a", TY, "Doc"),
        ("b", TY, "Ent"),
        # rdfs9 over asserted AND derived type triples
        ("b", TY, "Tech"),
        ("b", TY, "Thing"),
        ("a", TY, "Thing"),  # from the derived (a type Doc)
    }
    assert got == expect


def _forward_chain(inst, onto):
    """Naive ρDF reference: apply rdfs7/2/3/9 over the direct (unclosed)
    ontology edges until nothing new appears. Ontology rows with a NULL
    subject or object declare nothing."""
    rule: dict = {}
    for a, r, b in onto:
        if a is not None and b is not None:
            rule.setdefault((r, a), []).append(b)
    out = set(inst)
    while True:
        new = set()
        for s, p, o in out:
            new.update((s, q, o) for q in rule.get((RDFS_SUBPROP, p), ()))  # rdfs7
            new.update((s, TY, c) for c in rule.get((RDFS_DOMAIN, p), ()))  # rdfs2
            new.update((o, TY, c) for c in rule.get((RDFS_RANGE, p), ()))  # rdfs3
            if p == TY:
                new.update((s, TY, d) for d in rule.get((RDFS_SUBCLASS, o), ()))  # rdfs9
        if new <= out:
            return out
        out |= new


def _random_case(seed, n_classes, n_props, n_rows):
    """A random class forest, property forest and domain/range table, and
    instance rows over them (type rows included)."""
    import random

    rnd = random.Random(seed)
    cls = [f"C{i}" for i in range(n_classes)]
    props = [f"p{i}" for i in range(n_props)]
    onto = [(cls[i], RDFS_SUBCLASS, cls[rnd.randrange(i)]) for i in range(1, n_classes)]
    onto += [(props[i], RDFS_SUBPROP, props[rnd.randrange(i)]) for i in range(1, n_props, 2)]
    for p in rnd.sample(props, n_props // 2):
        onto.append((p, rnd.choice([RDFS_DOMAIN, RDFS_RANGE]), rnd.choice(cls)))
    inst = [
        (f"x{rnd.randrange(50)}", TY, rnd.choice(cls))
        if rnd.random() < 0.3
        else (f"x{rnd.randrange(50)}", rnd.choice(props + ["free"]), f"x{rnd.randrange(50)}")
        for _ in range(n_rows)
    ]
    return inst, onto


def test_rdfs_literal_and_tree_forms_match_forward_chaining(spark, monkeypatch):
    """Both plan forms — the literal maps (LITERAL_MAX forced high) and the
    broadcast rule tree (forced to 0) — return exactly the naive
    forward-chaining closure."""
    from sparkrdf import reason
    from sparkrdf.reason import _compile_rdfs

    hand_onto = [
        ("mentions", RDFS_SUBPROP, "references"),
        ("references", RDFS_SUBPROP, "relatedTo"),
        ("references", RDFS_DOMAIN, "Doc"),
        ("references", RDFS_RANGE, "Ent"),
        ("Doc", RDFS_SUBCLASS, "Thing"),
        ("Ent", RDFS_SUBCLASS, "Thing"),
        ("sameType", RDFS_SUBPROP, TY),
        (TY, RDFS_DOMAIN, "Res"),
        (None, RDFS_SUBCLASS, "Thing"),
        ("Ent", RDFS_SUBCLASS, None),
    ]
    # a deep class chain: C0 ⊑ C1 ⊑ ... ⊑ C39
    hand_onto += [(f"C{i}", RDFS_SUBCLASS, f"C{i + 1}") for i in range(39)]
    hand_inst = [
        ("a", "mentions", "b"),
        ("a", "mentions", "b"),  # duplicate assertion
        ("b", "sameType", "C0"),
        ("c", TY, "C20"),
        ("x", "unrelated", "y"),  # no ontology entry
        (None, "mentions", "b"),
        ("a", "references", None),
        (None, None, None),
    ]
    rand_inst, rand_onto = _random_case(7, 350, 80, 800)
    n_rand = sum(len(v) for m in _compile_rdfs(rand_onto)[0] for v in m.values())
    assert 1500 <= n_rand <= 3000  # a ~2k-entry ontology
    # rdf:type itself with a super-property, a domain and a range (the
    # RDFS meta-vocabulary shape): derived type rows derive again
    meta_onto = hand_onto + [
        (TY, RDFS_SUBPROP, "isA"),
        (TY, RDFS_RANGE, "Cls"),
        ("Cls", RDFS_SUBCLASS, "Meta"),
        ("isA", RDFS_DOMAIN, "Thing"),
    ]
    cases = [(hand_inst, hand_onto), (hand_inst, meta_onto), (rand_inst, rand_onto)]
    for inst, onto in cases:
        expect = _forward_chain(inst, onto)
        for bound in (10**9, 0):
            monkeypatch.setattr(reason, "LITERAL_MAX", bound)
            got = rdfs_materialize(_df(spark, inst), _df(spark, onto)).collect()
            assert len(got) == len(expect) and {tuple(r) for r in got} == expect, bound
    assert ("b", TY, "C39") in _forward_chain(hand_inst, hand_onto)


def test_rdfs_closure_over_cap_raises(spark, monkeypatch):
    import pytest

    from sparkrdf import reason

    monkeypatch.setattr(reason, "CLOSURE_CAP", 2)
    onto = _df(spark, [("A", RDFS_SUBCLASS, "B"), ("B", RDFS_SUBCLASS, "C")])
    with pytest.raises(ValueError, match="CLOSURE_CAP"):
        rdfs_materialize(_df(spark, [("x", TY, "A")]), onto)


def test_rdfs_literal_plan_holds_map_literals_not_json(spark):
    """Each rule map enters the plan as one JSON literal that the optimizer
    folds into a map literal: no row parses JSON, and no rule joins."""
    onto = _df(
        spark,
        [("mentions", RDFS_SUBPROP, "references"), ("references", RDFS_DOMAIN, "Doc"),
         ("Doc", RDFS_SUBCLASS, "Thing")],
    )
    out = rdfs_materialize(_df(spark, [("a", "mentions", "b")]), onto)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "map(keys: [" in plan
    assert "from_json" not in plan.lower() and "jsontostructs" not in plan.lower()
    assert "Join" not in plan


def test_rdfs_materialize_no_ontology_is_identity(spark):
    inst = _df(spark, [("a", "p", "b"), ("a", "p", "b")])
    onto = _df(spark, []).filter(F.lit(False))
    got = rdfs_materialize(inst, onto).collect()
    assert [tuple(r) for r in got] == [("a", "p", "b")]  # deduped, unchanged


def test_characteristic_sets_hand_computed(spark):
    t = _df(
        spark,
        [
            ("s1", "p1", "x"),
            ("s1", "p2", "y"),
            ("s1", "p2", "z"),  # same predicate twice: set unchanged, count 3
            ("s2", "p2", "x"),
            ("s2", "p1", "x"),
            ("s3", "p1", "x"),
        ],
    )
    got = {r["predicate_set"]: (r["n_subjects"], r["n_triples"]) for r in
           characteristic_sets(t).collect()}
    assert got == {"p1 p2": (2, 5), "p1": (1, 1)}


def test_shape_violations_hand_computed(spark):
    t = _df(
        spark,
        [
            ("d1", TY, "Doc"),
            ("d2", TY, "Doc"),
            ("d3", TY, "Doc"),
            ("x", TY, "Other"),  # not targeted
            ("d1", "mentions", "a"),
            ("d2", "mentions", "a"),
            ("d2", "mentions", "b"),
            ("d2", "mentions", "c"),
            # d3 asserts mentions zero times -> min violation must appear
            ("x", "mentions", "a"),
        ],
    )
    shapes = spark.createDataFrame(
        [("sh1", "Doc", "mentions", 1, 2)],
        "shape_id string, target_class string, path string, "
        "min_count int, max_count int",
    )
    got = {(r.focus, r.kind, r.n_values) for r in shape_violations(t, shapes).collect()}
    assert got == {("d2", "max", 3), ("d3", "min", 0)}


def test_shape_violations_null_max_is_unbounded(spark):
    t = _df(spark, [("d1", TY, "Doc")] + [("d1", "mentions", f"v{i}") for i in range(5)])
    shapes = spark.createDataFrame(
        [("sh1", "Doc", "mentions", 1, None)],
        "shape_id string, target_class string, path string, "
        "min_count int, max_count int",
    )
    assert shape_violations(t, shapes).count() == 0


# --- owl_materialize ---


def _owl(spark, triples, axioms):
    from sparkrdf.reason import owl_materialize

    t = spark.createDataFrame(triples, "s string, p string, o string")
    o = spark.createDataFrame(axioms, "s string, p string, o string")
    return {(r.s, r.p, r.o) for r in owl_materialize(t, o).collect()}


def test_owl_symmetric(spark):
    from sparkrdf import terms as T

    got = _owl(
        spark,
        [("a", "knows", "b")],
        [("knows", T.RDF_TYPE, T.OWL_SYMMETRIC)],
    )
    assert got == {("a", "knows", "b"), ("b", "knows", "a")}


def test_owl_inverse_both_directions(spark):
    from sparkrdf import terms as T

    got = _owl(
        spark,
        [("c", "hasParent", "p"), ("q", "hasChild", "d")],
        [("hasParent", T.OWL_INVERSE_OF, "hasChild")],
    )
    assert got == {
        ("c", "hasParent", "p"),
        ("p", "hasChild", "c"),
        ("q", "hasChild", "d"),
        ("d", "hasParent", "q"),
    }


def test_owl_transitive_closure(spark):
    from sparkrdf import terms as T

    got = _owl(
        spark,
        [("a", "anc", "b"), ("b", "anc", "c"), ("c", "anc", "d"),
         ("x", "other", "y")],
        [("anc", T.RDF_TYPE, T.OWL_TRANSITIVE)],
    )
    anc = {(s, o) for s, p, o in got if p == "anc"}
    assert anc == {("a", "b"), ("b", "c"), ("c", "d"),
                   ("a", "c"), ("b", "d"), ("a", "d")}
    assert ("x", "other", "y") in got and len(got) == 7


def test_owl_transitive_then_inverse_of_derived_edge(spark):
    from sparkrdf import terms as T

    # p(a,b), p(b,c) |- p(a,c) |- q(c,a): the inverse must fire on the
    # CLOSURE-derived edge, which a single sym/inv pass before the closure
    # would miss — pins the 3-pass schedule.
    got = _owl(
        spark,
        [("a", "p", "b"), ("b", "p", "c")],
        [("p", T.RDF_TYPE, T.OWL_TRANSITIVE), ("p", T.OWL_INVERSE_OF, "q")],
    )
    assert ("q" and ("c", "q", "a")) and ("c", "q", "a") in got
    assert ("a", "p", "c") in got and ("b", "q", "a") in got


def test_owl_symmetric_transitive_makes_component_relation(spark):
    from sparkrdf import terms as T

    # symmetric + transitive chain: every ordered pair in the component,
    # self-loops included (u~v, v~u compose to u~u)
    got = _owl(
        spark,
        [("a", "rel", "b"), ("b", "rel", "c")],
        [("rel", T.RDF_TYPE, T.OWL_SYMMETRIC), ("rel", T.RDF_TYPE, T.OWL_TRANSITIVE)],
    )
    nodes = {"a", "b", "c"}
    assert got == {(u, "rel", v) for u in nodes for v in nodes}


def test_owl_no_axioms_is_identity(spark):
    from sparkrdf import terms as T

    triples = [("a", "p", "b"), ("b", "q", "c")]
    got = _owl(spark, triples, [("unused", T.RDF_TYPE, T.OWL_SYMMETRIC)])
    assert got == set(triples)


def test_rdfs_delta_is_exactly_the_new_entailments(spark):
    from sparkrdf.reason import rdfs_materialize, rdfs_materialize_delta

    onto = spark.createDataFrame(
        [
            ("knows", "http://www.w3.org/2000/01/rdf-schema#domain", "Person"),
            ("Person", "http://www.w3.org/2000/01/rdf-schema#subClassOf", "Agent"),
        ],
        "s string, p string, o string",
    )
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    old = spark.createDataFrame([("a", "knows", "b")], "s string, p string, o string")
    closure = rdfs_materialize(old, onto)
    delta = spark.createDataFrame(
        [("a", "knows", "c"), ("d", "knows", "e")], "s string, p string, o string"
    )
    got = {(r.s, r.p, r.o) for r in rdfs_materialize_delta(closure, delta, onto).collect()}
    # a's type triples already exist in the closure — only d's are new,
    # plus the delta assertions themselves
    assert got == {
        ("a", "knows", "c"),
        ("d", "knows", "e"),
        ("d", rdf_type, "Person"),
        ("d", rdf_type, "Agent"),
    }
    # incremental == from-scratch on the union (the single-antecedent property)
    full = rdfs_materialize(old.unionAll(delta), onto)
    incr = closure.unionAll(rdfs_materialize_delta(closure, delta, onto))
    assert full.exceptAll(incr).isEmpty() and incr.exceptAll(full).isEmpty()
