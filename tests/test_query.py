"""BGP pattern matching and k-hop traversal (sparkrdf/query.py)."""

import pytest

from sparkrdf.query import bgp_match, khop

TRIPLES = [
    ("alice", "type", "Person"),
    ("bob", "type", "Person"),
    ("carol", "type", "Robot"),
    ("alice", "knows", "bob"),
    ("bob", "knows", "carol"),
    ("alice", "likes", "alice"),
    ("bob", "likes", "carol"),
]


@pytest.fixture(scope="module")
def stmts(spark):
    return spark.createDataFrame(TRIPLES, "s string, p string, o string").cache()


def test_bgp_single_pattern(spark, stmts):
    got = sorted(r.x for r in bgp_match(stmts, [("?x", "type", "Person")]).collect())
    assert got == ["alice", "bob"]


def test_bgp_join_on_shared_var(spark, stmts):
    # persons who know someone: ?x a Person . ?x knows ?y
    got = sorted(
        (r.x, r.y)
        for r in bgp_match(
            stmts, [("?x", "type", "Person"), ("?x", "knows", "?y")]
        ).collect()
    )
    assert got == [("alice", "bob"), ("bob", "carol")]


def test_bgp_three_patterns_chain(spark, stmts):
    # ?x knows ?y . ?y knows ?z . ?x a Person
    got = sorted(
        (r.x, r.y, r.z)
        for r in bgp_match(
            stmts,
            [("?x", "knows", "?y"), ("?y", "knows", "?z"), ("?x", "type", "Person")],
        ).collect()
    )
    assert got == [("alice", "bob", "carol")]


def test_bgp_star_shape_orders_connected(spark, stmts):
    # two selective type patterns share no variable with each other, only
    # via the middle pattern — the greedy ordering must bridge them instead
    # of raising (regression: naive most-constants-first sort did not)
    got = sorted(
        (r.x, r.y)
        for r in bgp_match(
            stmts,
            [("?x", "type", "Person"), ("?y", "type", "Robot"),
             ("?x", "knows", "?y")],
        ).collect()
    )
    assert got == [("bob", "carol")]


def test_bgp_repeated_var_in_pattern(spark, stmts):
    # self-loops: ?x likes ?x
    got = [r.x for r in bgp_match(stmts, [("?x", "likes", "?x")]).collect()]
    assert got == ["alice"]


def test_bgp_constant_gate_present_and_absent(spark, stmts):
    base = [("?x", "type", "Robot")]
    ok = bgp_match(stmts, base + [("alice", "knows", "bob")]).collect()
    assert [r.x for r in ok] == ["carol"]
    empty = bgp_match(stmts, base + [("alice", "knows", "carol")]).collect()
    assert empty == []


def test_bgp_disconnected_pattern_raises(spark, stmts):
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(stmts, [("?x", "type", "Person"), ("?y", "likes", "?z")])


def test_bgp_empty_patterns_raises(spark, stmts):
    with pytest.raises(ValueError):
        bgp_match(stmts, [])


def _khop_edges(spark):
    # a-b-c-d chain plus isolated branch d-e; f unreachable
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("f", "g")]
    return spark.createDataFrame(pairs, "u string, v string")


def test_khop_undirected_distances(spark):
    got = {r.n: r.dist for r in khop(_khop_edges(spark), "a", 3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_khop_directed(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "a")], "u string, v string"
    )
    got = {r.n: r.dist for r in khop(e, "a", 5, directed=True).collect()}
    # x only points INTO a — never reached going forward
    assert got == {"a": 0, "b": 1, "c": 2}


def test_khop_min_distance_on_diamond(spark):
    # two paths a->d: length 2 (via b) and 3 (via c1,c2); BFS keeps 2
    e = spark.createDataFrame(
        [("a", "b"), ("b", "d"), ("a", "c1"), ("c1", "c2"), ("c2", "d")],
        "u string, v string",
    )
    got = {r.n: r.dist for r in khop(e, "a", 4).collect()}
    assert got["d"] == 2


def test_khop_early_exit_when_frontier_drains(spark):
    # component of size 2: k=10 must stop after level 1, not loop
    e = spark.createDataFrame([("a", "b")], "u string, v string")
    got = {r.n: r.dist for r in khop(e, "a", 10).collect()}
    assert got == {"a": 0, "b": 1}


def test_khop_source_not_in_graph(spark):
    got = {r.n: r.dist for r in khop(_khop_edges(spark), "zzz", 2).collect()}
    assert got == {"zzz": 0}


# ---------------------------------------------------------------------------
# bgp_optional (SPARQL OPTIONAL / left-join semantics)
# ---------------------------------------------------------------------------


def _stmts3(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_bgp_optional_null_pads_unmatched(spark):
    from sparkrdf.query import bgp_optional

    stmts = _stmts3(
        spark,
        [
            ("d1", "type", "Doc"),
            ("d2", "type", "Doc"),
            ("d1", "mentions", "e1"),
            ("d1", "mentions", "e2"),
        ],
    )
    got = sorted(
        (r.d, r.e)
        for r in bgp_optional(
            stmts, [("?d", "type", "Doc")], [("?d", "mentions", "?e")]
        ).collect()
    )
    # d1 extended with both mentions; d2 kept, NULL-padded
    assert got == [("d1", "e1"), ("d1", "e2"), ("d2", None)]


def test_bgp_optional_disconnected_raises(spark):
    import pytest

    from sparkrdf.query import bgp_optional

    stmts = _stmts3(spark, [("a", "p", "b")])
    with pytest.raises(ValueError, match="well-designed"):
        bgp_optional(stmts, [("?x", "p", "b")], [("?y", "q", "c")])


# --- UNION / MINUS / VALUES / CONSTRUCT (SPARQL 1.1 algebra) ---


def test_bgp_union_bag_and_null_padding(spark, stmts):
    from sparkrdf.query import bgp_union

    # branch 1 binds (x), branch 2 binds (x, y): y NULL-padded in branch 1;
    # alice matches BOTH branches (bag union keeps both rows)
    got = sorted(
        (
            (r.x, r.y)
            for r in bgp_union(
                stmts,
                [[("?x", "type", "Person")], [("?x", "knows", "?y")]],
            ).collect()
        ),
        key=str,
    )
    assert got == [
        ("alice", "bob"),
        ("alice", None),
        ("bob", "carol"),
        ("bob", None),
    ]


def test_bgp_union_duplicates_kept(spark, stmts):
    from sparkrdf.query import bgp_union

    # identical branches double every solution (multiset-additive)
    got = [r.x for r in bgp_union(
        stmts, [[("?x", "type", "Person")], [("?x", "type", "Person")]]
    ).collect()]
    assert sorted(got) == ["alice", "alice", "bob", "bob"]


def test_bgp_minus_shared_var(spark, stmts):
    from sparkrdf.query import bgp_minus

    # persons MINUS {?x likes ?z} — alice likes alice, bob likes carol →
    # both removed; nothing survives
    got = bgp_minus(stmts, [("?x", "type", "Person")], [("?x", "likes", "?z")])
    assert got.count() == 0
    # persons MINUS {?x knows carol} removes only bob
    got = sorted(
        r.x for r in bgp_minus(
            stmts, [("?x", "type", "Person")], [("?x", "knows", "carol")]
        ).collect()
    )
    assert got == ["alice"]


def test_bgp_minus_disjoint_domains_removes_nothing(spark, stmts):
    from sparkrdf.query import bgp_minus

    # SPARQL spec: MINUS with no shared variable is a no-op (compatibility
    # requires a non-empty shared domain) — unlike NOT EXISTS
    got = sorted(
        r.x for r in bgp_minus(
            stmts, [("?x", "type", "Person")], [("?a", "type", "Robot")]
        ).collect()
    )
    assert got == ["alice", "bob"]


def test_bgp_values_equi_and_undef(spark, stmts):
    from sparkrdf.query import bgp_values

    pats = [("?x", "type", "?t"), ("?x", "likes", "?y")]
    # plain constants: only the (Person, carol) row survives
    got = sorted(
        (r.x, r.t, r.y)
        for r in bgp_values(
            stmts, pats, [{"t": "Person", "y": "carol"}]
        ).collect()
    )
    assert got == [("bob", "Person", "carol")]
    # UNDEF on y: matches any liked object
    got = sorted(
        (r.x, r.y)
        for r in bgp_values(stmts, pats, [{"t": "Person", "y": None}]).collect()
    )
    assert got == [("alice", "alice"), ("bob", "carol")]
    # duplicate VALUES rows duplicate solutions (bag semantics)
    got = [r.x for r in bgp_values(
        stmts, pats, [{"t": "Person", "y": "carol"}, {"t": "Person", "y": "carol"}]
    ).collect()]
    assert got == ["bob", "bob"]


def test_bgp_values_unbound_var_raises(spark, stmts):
    from sparkrdf.query import bgp_values

    with pytest.raises(ValueError, match="not bound"):
        bgp_values(stmts, [("?x", "type", "Person")], [{"zzz": "1"}])


def test_construct_triples(spark, stmts):
    from sparkrdf.query import construct_triples

    # CONSTRUCT {?x a Agent . ?x knownBy ?y} WHERE {?x type Person . ?x knows ?y}
    got = sorted(
        (r.s, r.p, r.o)
        for r in construct_triples(
            stmts,
            [("?x", "type", "Person"), ("?x", "knows", "?y")],
            [("?x", "a", "Agent"), ("?y", "knownBy", "?x")],
        ).collect()
    )
    assert got == [
        ("alice", "a", "Agent"),
        ("bob", "a", "Agent"),
        ("bob", "knownBy", "alice"),
        ("carol", "knownBy", "bob"),
    ]


def test_construct_is_set_semantics(spark, stmts):
    from sparkrdf.query import construct_triples

    # two solutions instantiate the SAME constant triple once (graph = set)
    out = construct_triples(
        stmts, [("?x", "type", "Person")], [("flag", "seen", "Person")]
    )
    assert out.count() == 1


# --- property-path expressions (parse_path / path_expr) ---


def test_parse_path_precedence():
    from sparkrdf.query import parse_path

    # | binds loosest, / next, ^ then postfix mods tightest
    assert parse_path("a/b|c") == ("alt", ("seq", ("pred", "a"), ("pred", "b")), ("pred", "c"))
    assert parse_path("^a/b") == ("seq", ("inv", ("pred", "a")), ("pred", "b"))
    assert parse_path("a/b+") == ("seq", ("pred", "a"), ("plus", ("pred", "b")))
    assert parse_path("(a|b)*") == ("star", ("alt", ("pred", "a"), ("pred", "b")))
    assert parse_path("!(a|b)") == ("neg", ["a", "b"])
    assert parse_path("<http://x/p q>") == ("pred", "http://x/p q")


def test_parse_path_errors():
    from sparkrdf.query import parse_path

    for bad in ["a/", "(a", "a)b", "!", "!()", "<unterminated", "a||b", ""]:
        with pytest.raises(ValueError):
            parse_path(bad)


def test_path_expr_pred_inverse_seq(spark, stmts):
    from sparkrdf.query import path_expr

    # ^knows/likes : o knows<- x -likes-> y
    got = sorted((r.s, r.o) for r in path_expr(stmts, "^knows/likes").collect())
    assert got == [("bob", "alice"), ("carol", "carol")]


def test_path_expr_alt_is_bag(spark, stmts):
    from sparkrdf.query import path_expr

    rows = [(r.s, r.o) for r in path_expr(stmts, "knows|likes").collect()]
    assert sorted(rows) == sorted(
        [("alice", "bob"), ("bob", "carol"), ("alice", "alice"), ("bob", "carol")]
    )  # bob->carol twice: once per branch (multiset union)


def test_path_expr_plus_and_star(spark, stmts):
    from sparkrdf.query import path_expr

    plus = {(r.s, r.o) for r in path_expr(stmts, "knows+").collect()}
    assert plus == {("alice", "bob"), ("bob", "carol"), ("alice", "carol")}
    star = {(r.s, r.o) for r in path_expr(stmts, "knows*").collect()}
    # star adds zero-length self-loops for EVERY graph node (subjects+objects)
    all_nodes = {"alice", "bob", "carol", "Person", "Robot"}
    assert star == plus | {(n, n) for n in all_nodes}


def test_path_expr_opt_and_neg(spark, stmts):
    from sparkrdf.query import path_expr

    opt = {(r.s, r.o) for r in path_expr(stmts, "knows?").collect()}
    assert ("alice", "bob") in opt and ("alice", "alice") in opt
    assert ("Person", "Person") in opt  # zero-length over graph nodes
    neg = {(r.s, r.o) for r in path_expr(stmts, "!(type|likes)").collect()}
    assert neg == {("alice", "bob"), ("bob", "carol")}


def test_path_expr_composed(spark, stmts):
    from sparkrdf.query import path_expr

    # who does alice transitively know, and what are their types:
    # knows+/type
    got = {(r.s, r.o) for r in path_expr(stmts, "knows+/type").collect()}
    assert got == {("alice", "Person"), ("alice", "Robot"), ("bob", "Robot")}


# --- quad patterns (SPARQL GRAPH) ---

QUADS = [
    ("alice", "knows", "bob", "g1"),
    ("bob", "knows", "carol", "g2"),
    ("alice", "type", "Person", "meta"),
    ("bob", "type", "Person", "meta"),
    ("dave", "knows", "erin", None),  # default graph
]


@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(
        QUADS, "s string, p string, o string, sub_graph string"
    ).cache()


def test_quad_constant_graph_filters(spark, quads):
    got = sorted(
        (r.x, r.y)
        for r in bgp_match(quads, [("?x", "knows", "?y", "g1")]).collect()
    )
    assert got == [("alice", "bob")]


def test_quad_graph_variable_binds(spark, quads):
    got = sorted(
        (r.x, r.g) for r in bgp_match(quads, [("?x", "knows", "?y", "?g")]).collect()
    )
    # NULL-graph (default graph) rows are not named-graph solutions
    assert got == [("alice", "g1"), ("bob", "g2")]


def test_quad_joins_across_graphs(spark, quads):
    # GRAPH ?g { ?x knows ?y } . GRAPH "meta" { ?x type ?c }
    got = sorted(
        (r.x, r.y, r.g, r.c)
        for r in bgp_match(
            quads, [("?x", "knows", "?y", "?g"), ("?x", "type", "?c", "meta")]
        ).collect()
    )
    assert got == [("alice", "bob", "g1", "Person"), ("bob", "carol", "g2", "Person")]


def test_quad_mixed_with_triple_pattern(spark, quads):
    # a bare triple pattern matches rows in ANY graph, incl. the default
    got = sorted(
        (r.x, r.y) for r in bgp_match(quads, [("?x", "knows", "?y")]).collect()
    )
    assert got == [("alice", "bob"), ("bob", "carol"), ("dave", "erin")]


def test_quad_bad_arity_raises(spark, quads):
    with pytest.raises(ValueError, match="triple or quad"):
        bgp_match(quads, [("?x", "knows")])


def test_parse_path_render_roundtrip_fuzz():
    """Property: rendering a random path AST with full parenthesization and
    re-parsing yields the identical AST — pins tokenizer + precedence over
    the whole grammar, driver-side only (no Spark)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sparkrdf.query import parse_path

    iri = st.sampled_from(["p", "q", "http://ex.org/r", "ns:local"])

    def render(node):
        k = node[0]
        if k == "pred":
            return f"<{node[1]}>"
        if k == "neg":
            return "!(" + "|".join(f"<{i}>" for i in node[1]) + ")"
        if k == "inv":
            return "^(" + render(node[1]) + ")"
        if k in ("star", "plus", "opt"):
            return "(" + render(node[1]) + ")" + {"star": "*", "plus": "+", "opt": "?"}[k]
        if k == "seq":
            return "(" + render(node[1]) + "/" + render(node[2]) + ")"
        if k == "alt":
            return "(" + render(node[1]) + "|" + render(node[2]) + ")"
        raise AssertionError(k)

    ast = st.recursive(
        st.one_of(
            st.tuples(st.just("pred"), iri),
            st.tuples(st.just("neg"), st.lists(iri, min_size=1, max_size=3)),
        ),
        lambda inner: st.one_of(
            st.tuples(st.sampled_from(["inv", "star", "plus", "opt"]), inner),
            st.tuples(st.sampled_from(["seq", "alt"]), inner, inner),
        ),
        max_leaves=8,
    )

    @given(ast)
    @settings(max_examples=200, deadline=None)
    def check(node):
        assert parse_path(render(node)) == node

    check()


# --- DESCRIBE / concise bounded description ---


def test_describe_cbd_follows_bnode_chain(spark):
    from sparkrdf.query import describe_cbd

    rows = [
        # (s, p, o, o_kind)
        ("a", "p1", "_:b1", "BNode"),
        ("_:b1", "p2", "_:b2", "BNode"),
        ("_:b2", "p3", "lit", "Literal"),
        ("a", "p4", "x", "URIRef"),
        ("x", "p5", "y", "URIRef"),        # IRI object: NOT followed
        ("other", "p6", "_:b9", "BNode"),  # unrelated subject
    ]
    stmts = spark.createDataFrame(rows, "s string, p string, o string, o_kind string")
    want = {
        ("a", "p1", "_:b1"),
        ("_:b1", "p2", "_:b2"),
        ("_:b2", "p3", "lit"),
        ("a", "p4", "x"),
    }
    # a NULL seed describes nothing and must not break the others
    for seed_rows in ([("a",)], [("a",), (None,)]):
        seeds = spark.createDataFrame(seed_rows, "n string")
        got = {(r.s, r.p, r.o) for r in describe_cbd(stmts, seeds).collect()}
        assert got == want, seed_rows


def test_describe_cbd_depth_raise(spark):
    """A blank-node chain deeper than any fixed round count — a 12-member
    RDF list — is described whole, on the one distributed loop."""
    from sparkrdf import terms as T
    from sparkrdf.query import describe_cbd

    cells = [f"_:l{i}" for i in range(12)]
    rows = [("a", "items", cells[0], "BNode"), ("b", "items", "_:other", "BNode"),
            ("_:other", T.RDF_FIRST, "x", "Literal")]
    for i, cell in enumerate(cells):
        rest = cells[i + 1] if i + 1 < len(cells) else T.RDF_NIL
        rows += [(cell, T.RDF_FIRST, f"v{i}", "Literal"),
                 (cell, T.RDF_REST, rest, "BNode" if i + 1 < len(cells) else "URIRef")]
    stmts = spark.createDataFrame(rows, "s string, p string, o string, o_kind string")
    seeds = spark.createDataFrame([("a",)], "n string")
    got = {(r.s, r.p, r.o) for r in describe_cbd(stmts, seeds).collect()}
    assert got == {(s, p, o) for s, p, o, _ in rows if s not in ("b", "_:other")}
    assert {o for s, p, o in got if p == T.RDF_FIRST} == {f"v{i}" for i in range(12)}


def test_describe_cbd_on_parsed_turtle(spark):
    """DESCRIBE of a subject with an anonymous property list pulls the
    bnode substructure, and nothing of the sibling subject."""
    from sparkrdf.query import describe_cbd
    from sparkrdf.ttl import parse_ttl, statements_df

    rows = parse_ttl(
        "@prefix ex: <http://ex.org/> .\n"
        'ex:alice ex:addr [ ex:city "Berlin" ; ex:zip "10115" ] .\n'
        "ex:bob ex:addr [ ex:city \"Paris\" ] .\n"
    )
    stmts = statements_df(spark, rows)
    seeds = spark.createDataFrame([("http://ex.org/alice",)], "n string")
    got = {(r.p, r.o) for r in describe_cbd(stmts, seeds).collect()}
    assert ("http://ex.org/city", "Berlin") in got
    assert ("http://ex.org/zip", "10115") in got
    assert ("http://ex.org/city", "Paris") not in got


# --- FILTER NOT EXISTS vs MINUS, and aggregation ---


def test_not_exists_shared_vars(spark, stmts):
    from sparkrdf.query import bgp_not_exists

    # persons who know nobody
    got = sorted(
        r.x
        for r in bgp_not_exists(
            stmts, [("?x", "type", "Person")], [("?x", "knows", "?y")]
        ).collect()
    )
    assert got == []  # alice and bob both know someone
    got2 = sorted(
        r.x
        for r in bgp_not_exists(
            stmts, [("?x", "type", "Robot")], [("?x", "knows", "?y")]
        ).collect()
    )
    assert got2 == ["carol"]


def test_not_exists_diverges_from_minus_on_disjoint_vars(spark, stmts):
    from sparkrdf.query import bgp_minus, bgp_not_exists

    left = [("?x", "type", "Person")]
    right = [("?a", "type", "Robot")]  # no shared variable, but matches
    kept_minus = sorted(r.x for r in bgp_minus(stmts, left, right).collect())
    kept_ne = sorted(r.x for r in bgp_not_exists(stmts, left, right).collect())
    assert kept_minus == ["alice", "bob"]  # MINUS: disjoint domains remove nothing
    assert kept_ne == []  # NOT EXISTS: inner group matches => all removed
    # and when the inner group matches nothing, NOT EXISTS keeps everything
    kept_ne2 = sorted(
        r.x
        for r in bgp_not_exists(
            stmts, left, [("?a", "type", "Unicorn")]
        ).collect()
    )
    assert kept_ne2 == ["alice", "bob"]


def test_group_solutions_count_and_having(spark, stmts):
    from sparkrdf.query import group_solutions

    # how many people does each subject know / like, keep the busy ones
    got = {
        (r.x, r.n)
        for r in group_solutions(
            stmts,
            [("?x", "?p", "?y"), ("?x", "type", "Person")],
            group_by=["x"],
            aggregates={"n": ("count", "*")},
            having="n >= 3",
        ).collect()
    }
    # alice: type/knows/likes = 3 rows; bob: type/knows/likes = 3 rows
    assert got == {("alice", 3), ("bob", 3)}


def test_group_solutions_numeric_and_errors(spark):
    from sparkrdf.query import group_solutions

    rows = [
        ("d1", "score", "2"), ("d1", "score", "4"),
        ("d2", "score", "10"),
    ]
    st = spark.createDataFrame(rows, "s string, p string, o string")
    out = {
        (r.s, r.total, r.mean, r.hi)
        for r in group_solutions(
            st,
            [("?s", "score", "?v")],
            group_by=["s"],
            aggregates={"total": ("sum", "v"), "mean": ("avg", "v"),
                        "hi": ("max", "v")},
        ).collect()
    }
    assert out == {("d1", 6.0, 3.0, "4"), ("d2", 10.0, 10.0, "10")}
    with pytest.raises(ValueError, match="unsupported aggregate"):
        group_solutions(st, [("?s", "score", "?v")], ["s"], {"x": ("median", "v")})
    with pytest.raises(ValueError, match="not bound"):
        group_solutions(st, [("?s", "score", "?v")], ["s"], {"x": ("sum", "zz")})
    with pytest.raises(ValueError, match="cannot take '\\*'"):
        # '*' is only meaningful for count; fail fast instead of letting
        # F.sum(col("*")) surface an opaque analysis error later
        group_solutions(st, [("?s", "score", "?v")], ["s"], {"x": ("sum", "*")})


def test_path_expr_vs_reference_fuzz(spark):
    """Property: path_expr agrees (as a SET — closures are set-valued and
    seq/alt bags dedupe to the same support) with a direct Python
    evaluation of the path algebra on random small graphs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sparkrdf.query import path_expr

    preds = ["p", "q", "r"]
    nodes_v = ["a", "b", "c", "d"]
    triple = st.tuples(
        st.sampled_from(nodes_v), st.sampled_from(preds), st.sampled_from(nodes_v)
    )
    ast = st.recursive(
        st.one_of(
            st.tuples(st.just("pred"), st.sampled_from(preds)),
            st.tuples(st.just("neg"), st.lists(st.sampled_from(preds), min_size=1, max_size=2)),
        ),
        lambda inner: st.one_of(
            st.tuples(st.sampled_from(["inv", "star", "plus", "opt"]), inner),
            st.tuples(st.sampled_from(["seq", "alt"]), inner, inner),
        ),
        max_leaves=4,
    )

    def closure(pairs):
        out = set(pairs)
        while True:
            step = {(a, d) for a, b in out for c, d in out if b == c}
            if step <= out:
                return out
            out |= step

    def ev(node, triples, gnodes):
        k = node[0]
        if k == "pred":
            return {(s, o) for s, p, o in triples if p == node[1]}
        if k == "neg":
            return {(s, o) for s, p, o in triples if p not in node[1]}
        if k == "inv":
            return {(o, s) for s, o in ev(node[1], triples, gnodes)}
        if k == "seq":
            a, b = ev(node[1], triples, gnodes), ev(node[2], triples, gnodes)
            return {(s, o2) for s, o in a for s2, o2 in b if o == s2}
        if k == "alt":
            return ev(node[1], triples, gnodes) | ev(node[2], triples, gnodes)
        if k == "plus":
            return closure(ev(node[1], triples, gnodes))
        if k == "star":
            return closure(ev(node[1], triples, gnodes)) | {(n, n) for n in gnodes}
        if k == "opt":
            return ev(node[1], triples, gnodes) | {(n, n) for n in gnodes}
        raise AssertionError(k)

    @given(st.lists(triple, min_size=1, max_size=8, unique=True), ast)
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(triples, node):
        df = spark.createDataFrame(triples, "s string, p string, o string")
        got = {(r.s, r.o) for r in path_expr(df, node).collect()}
        gnodes = {s for s, _, _ in triples} | {o for _, _, o in triples}
        assert got == ev(node, triples, gnodes)

    check()


# --- FILTER expressions + ORDER BY/LIMIT solution modifiers ---


def test_parse_filter_precedence():
    from sparkrdf.query import parse_filter

    # || binds looser than &&, ! binds tighter than both
    ast = parse_filter("?a = 1 || ?b = 2 && !bound(?c)")
    assert ast[0] == "or"
    assert ast[2][0] == "and"
    assert ast[2][2] == ("not", ("call", "bound", [("var", "c")]))


def test_bgp_filter_numeric_coercion(spark):
    from sparkrdf.query import bgp_filter, bgp_match

    rows = [
        ("d1", "score", "2"), ("d2", "score", "10"), ("d3", "score", "n/a"),
    ]
    st = spark.createDataFrame(rows, "s string, p string, o string")
    sol = bgp_match(st, [("?d", "score", "?v")])
    # numeric literal coerces ?v to double: "10" > "2" numerically even
    # though "10" < "2" lexically; the non-numeric lexical is an error row
    # and is DROPPED (SPARQL type-error semantics), not matched
    got = sorted(r.d for r in bgp_filter(sol, "?v > 5").collect())
    assert got == ["d2"]
    got = sorted(r.d for r in bgp_filter(sol, "?v <= 5 || ?v > 5").collect())
    assert got == ["d1", "d2"]  # d3 is an error row on BOTH sides


def test_bgp_filter_regex_bound_logic(spark, stmts):
    from sparkrdf.query import bgp_filter, bgp_optional

    sol = bgp_optional(stmts, [("?x", "type", "Person")], [("?x", "knows", "?y")])
    assert sorted(
        r.x for r in bgp_filter(sol, 'regex(?x, "^A", "i")').collect()
    ) == ["alice"]
    assert sorted(r.x for r in bgp_filter(sol, "bound(?y)").collect()) == [
        "alice",
        "bob",
    ]
    assert sorted(
        r.x for r in bgp_filter(sol, '!bound(?y) || strstarts(?y, "car")').collect()
    ) == ["bob"]
    assert sorted(
        r.x for r in bgp_filter(sol, 'contains(?x, "li") && ?x != "bob"').collect()
    ) == ["alice"]


def test_bgp_filter_string_comparison_and_errors(spark, stmts):
    import pytest as _pytest

    from sparkrdf.query import bgp_filter, bgp_match

    sol = bgp_match(stmts, [("?x", "knows", "?y")])
    assert sorted(
        (r.x, r.y) for r in bgp_filter(sol, '?y = "carol"').collect()
    ) == [("bob", "carol")]
    with _pytest.raises(ValueError, match="not bound"):
        bgp_filter(sol, "?zz = 1")
    # value functions in comparisons work since round 5 (lcase of an
    # already-lowercase name is the identity here)
    assert sorted(
        (r.x, r.y) for r in bgp_filter(sol, 'lcase(?y) = "carol"').collect()
    ) == [("bob", "carol")]
    with _pytest.raises(ValueError, match="unsupported FILTER function"):
        bgp_filter(sol, "nosuchfn(?x)")
    with _pytest.raises(ValueError, match="value position"):
        bgp_filter(sol, "nosuchfn(?x) = ?y")
    with _pytest.raises(ValueError, match="trailing tokens"):
        bgp_filter(sol, "?x = 1 ?y")


def test_order_solutions_numeric_desc_limit(spark):
    from sparkrdf.query import bgp_match, order_solutions

    rows = [("d1", "score", "2"), ("d2", "score", "10"), ("d3", "score", "9")]
    st = spark.createDataFrame(rows, "s string, p string, o string")
    sol = bgp_match(st, [("?d", "score", "?v")])
    got = [r.d for r in order_solutions(sol, ["desc(?v)"], numeric=("v",)).collect()]
    assert got == ["d2", "d3", "d1"]  # numeric order, not lexical
    got = [
        r.d
        for r in order_solutions(sol, ["desc(?v)"], limit=1, numeric=("v",)).collect()
    ]
    assert got == ["d2"]
    got = [
        r.d
        for r in order_solutions(
            sol, ["desc(?v)"], limit=2, offset=1, numeric=("v",)
        ).collect()
    ]
    assert got == ["d3", "d1"]


def test_order_solutions_unbound_lowest_and_tiebreak(spark, stmts):
    from sparkrdf.query import bgp_optional, order_solutions

    sol = bgp_optional(stmts, [("?x", "type", "Person")], [("?x", "likes", "?y")])
    # bob likes carol; alice likes alice -> both bound; add a row with NULL
    got = [
        (r.x, r.y)
        for r in order_solutions(sol, ["?y", "?x"]).collect()
    ]
    assert got == sorted(got, key=lambda t: (t[1] is not None, t[1] or "", t[0]))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not bound"):
        order_solutions(sol, ["?nope"])
    with _pytest.raises(ValueError, match="bad ORDER BY"):
        order_solutions(sol, ["max(?x)"])


def test_value_expression_matches_python_reference(spark):
    """One wide consistency check: the codegen value-expression engine
    against a plain-Python evaluation over 300 pseudorandom rows
    (deterministic seed), covering arithmetic precedence, IN, strlen,
    if, and numeric-coercion drops of non-numeric lexicals."""
    import random

    from sparkrdf.query import bgp_extend, bgp_filter

    rng = random.Random(42)
    rows = []
    for i in range(300):
        a = rng.randint(-50, 50)
        b = rng.choice([str(rng.randint(1, 9)), "junk"])  # sometimes non-numeric
        lang = rng.choice(["en", "de", "fr", "zz"])
        rows.append((f"d{i}", str(a), b, lang))
    df = spark.createDataFrame(rows, "d string, a string, b string, l string")

    expr = '?a * 2 + strlen(?l) - ?b / 2 > 0 && ?l IN ("en", "de", "fr")'
    got = {r.d for r in bgp_filter(df, expr).collect()}

    expected = set()
    for d, a, b, lang in rows:
        if b == "junk":
            continue  # numeric coercion of 'junk' is a type error: row drops
        if int(a) * 2 + len(lang) - int(b) / 2 > 0 and lang in ("en", "de", "fr"):
            expected.add(d)
    assert got == expected

    out = bgp_extend(df, [("score", "?a * 10 + strlen(?l)")])
    got_scores = {r.d: r.score for r in out.collect()}
    for d, a, b, lang in rows:
        assert got_scores[d] == int(a) * 10 + len(lang)


def test_term_meta_functions(spark):
    """bgp_match(term_meta=True) binds hidden kind/lang/datatype columns;
    the §17.4 term functions (lang, datatype, isIRI, isBlank, isLiteral,
    isNumeric, langMatches, sameTerm) evaluate against them — all codegen
    expressions, no UDF."""
    from sparkrdf.query import bgp_filter, bgp_match
    from sparkrdf.ttl import XSD, parse_ttl, statements_df

    rows = parse_ttl(
        """
        @prefix ex: <http://e.com/> .
        @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        ex:a ex:label "hello"@en .
        ex:a ex:label "hallo"@de-AT .
        ex:a ex:label "plain" .
        ex:a ex:n "5"^^xsd:integer .
        ex:a ex:link ex:b .
        ex:a ex:bn _:x .
        """
    )
    stmts = statements_df(spark, rows)
    sol = bgp_match(stmts, [("?s", "?p", "?o")], term_meta=True)
    assert "o__kind" in sol.columns and "s__kind" in sol.columns

    def vals(expr):
        return sorted(r.o for r in bgp_filter(sol, expr).collect())

    assert vals("isiri(?o)") == ["http://e.com/b"]
    assert vals("isblank(?o)") == ["l_x"]
    assert vals("isliteral(?o)") == ["5", "hallo", "hello", "plain"]
    assert vals("isnumeric(?o)") == ["5"]
    assert vals('lang(?o) = "en"') == ["hello"]
    # §17.4.4.4: any literal WITHOUT a tag (plain or typed) has lang ""
    assert vals('lang(?o) = ""') == ["5", "plain"]
    assert vals('langmatches(lang(?o), "de")') == ["hallo"]  # de-AT matches
    assert vals('langmatches(lang(?o), "*")') == ["hallo", "hello"]
    assert vals(f'datatype(?o) = "{XSD}integer"') == ["5"]
    assert vals('datatype(?o) = '
                '"http://www.w3.org/2001/XMLSchema#string"') == ["plain"]
    # sameTerm: lang tags distinguish identical lexicals
    pair = bgp_match(
        stmts,
        [("?s", "http://e.com/label", "?a"), ("?s", "http://e.com/label", "?b")],
        term_meta=True,
    )
    assert bgp_filter(pair, "sameterm(?a, ?b)").count() == 3  # diagonal only

    # without term_meta the functions raise a clear error, never mis-run
    plain = bgp_match(stmts, [("?s", "?p", "?o")])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="term metadata"):
        bgp_filter(plain, "isiri(?o)")


def test_isnumeric_negation_keeps_plain_literals(spark):
    """Review fix: isNumeric of a plain (NULL-datatype) literal is FALSE,
    not NULL — so !isNumeric keeps the row (§17.4.2.4)."""
    from sparkrdf.query import bgp_filter, bgp_match
    from sparkrdf.ttl import parse_ttl, statements_df

    stmts = statements_df(spark, parse_ttl(
        '@prefix ex: <http://e.com/> .\n'
        '@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n'
        'ex:a ex:p "12" .\n'
        'ex:a ex:p "hello"@en .\n'
        'ex:a ex:p "7"^^xsd:integer .\n'
        'ex:a ex:q ex:b .'))
    sol = bgp_match(stmts, [("?s", "?p", "?o")], term_meta=True)
    keep = sorted(r.o for r in bgp_filter(sol, "!isnumeric(?o)").collect())
    # everything except the typed numeric literal survives the negation
    assert keep == ["12", "hello", "http://e.com/b"]
