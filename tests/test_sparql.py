"""SPARQL SELECT string front end (sparkrdf/sparql.py).

The algebra operators are individually tested in test_query.py /
test_kgops.py; here we pin the parser+compiler surface: the query STRING a
reference user would hand to rdflib's `.query()` (reference: main.py uses
AQL strings for the same role) runs as one Catalyst plan.
"""

import pytest

from sparkrdf.sparql import sparql_query

EX = "http://ex.org/"
QUADS = [
    ("d1", EX + "tokenCount", "55", None),
    ("d2", EX + "tokenCount", "41", None),
    ("d3", EX + "tokenCount", "9", None),
    ("d1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "Doc", None),
    ("d2", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "Doc", None),
    ("d3", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "Page", None),
    ("d1", EX + "author", "alice", None),
    ("d2", EX + "author", "alice", None),
    ("d1", EX + "cites", "d2", "http://g/1"),
    ("d2", EX + "cites", "d3", "http://g/2"),
]


@pytest.fixture(scope="module")
def stmts(spark):
    return spark.createDataFrame(
        QUADS, "s string, p string, o string, sub_graph string"
    ).cache()


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_bgp_prefix_a_and_predicate_object_list(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE { ?d a ex:Doc ; ex:tokenCount ?n . }
        ORDER BY ?d
    """)
    assert rows(got) == [("d1", "55"), ("d2", "41")]


def test_prefixed_name_before_triple_dot(stmts):
    # §19.8: a prefixed name never ends in '.', so "ex:Doc." is ex:Doc
    # followed by the triple terminator
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE { ?d a ex:Doc. ?d ex:tokenCount ?n. }
        ORDER BY ?d
    """)
    assert rows(got) == [("d1", "55"), ("d2", "41")]


def test_filter_numeric_comparison_and_order_desc_numeric(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE { ?d ex:tokenCount ?n . FILTER(?n >= 41) }
        ORDER BY DESC(?n) LIMIT 10
    """, numeric=("n",))
    assert rows(got) == [("d1", "55"), ("d2", "41")]


def test_filter_logical_and_regex(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE {
          ?d ex:tokenCount ?n .
          FILTER(?n > 10 && regex(?d, "^d[12]$"))
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1",), ("d2",)]


def test_optional_left_join_null_pads(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?a WHERE {
          ?d ex:tokenCount ?n .
          OPTIONAL { ?d ex:author ?a }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "alice"), ("d2", "alice"), ("d3", None)]


def test_minus_and_not_exists(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE {
          ?d ex:tokenCount ?n .
          MINUS { ?d a ex:Page }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1",), ("d2",)]
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE {
          ?d ex:tokenCount ?n .
          FILTER NOT EXISTS { ?d ex:author ?a }
        }
    """)
    assert rows(got) == [("d3",)]


def test_values_single_and_multi_var(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE {
          ?d ex:tokenCount ?n .
          VALUES ?d { "d1" "d3" }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "55"), ("d3", "9")]
    # multi-var with UNDEF wildcard on ?n
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE {
          ?d ex:tokenCount ?n .
          VALUES (?d ?n) { ("d1" "55") ("d2" UNDEF) }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "55"), ("d2", "41")]


def test_union_is_multiset_additive_and_distinct(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE {
          { ?d a ex:Doc } UNION { ?d ex:author ?a }
        }
    """)
    assert sorted(rows(got)) == [("d1",), ("d1",), ("d2",), ("d2",)]
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT DISTINCT ?d WHERE {
          { ?d a ex:Doc } UNION { ?d ex:author ?a }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1",), ("d2",)]


def test_graph_variable_binds_named_graphs(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x ex:cites ?y } } ORDER BY ?g
    """)
    assert rows(got) == [
        ("http://g/1", "d1", "d2"),
        ("http://g/2", "d2", "d3"),
    ]


def test_graph_constant_filters_one_graph(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?x ?y WHERE { GRAPH <http://g/2> { ?x ex:cites ?y } }
    """)
    assert rows(got) == [("d2", "d3")]


def test_group_by_having_count_order(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?t (COUNT(*) AS ?cnt) WHERE { ?d a ?t . }
        GROUP BY ?t HAVING(?cnt >= 1) ORDER BY DESC(?cnt) ?t
    """, numeric=("cnt",))
    assert rows(got) == [(EX + "Doc", 2), (EX + "Page", 1)]


def test_aggregates_sum_avg_count_distinct(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?a (SUM(?n) AS ?total) (COUNT(DISTINCT ?d) AS ?docs)
        WHERE { ?d ex:author ?a ; ex:tokenCount ?n . }
        GROUP BY ?a
    """)
    assert rows(got) == [("alice", 96.0, 2)]


def test_limit_offset_without_order(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE { ?d ex:tokenCount ?n } ORDER BY ?d LIMIT 1 OFFSET 1
    """)
    assert rows(got) == [("d2",)]


def test_comments_and_dollar_vars(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>  # namespace
        SELECT $d WHERE {
          $d a ex:Page .  # pages only
        }
    """)
    assert rows(got) == [("d3",)]


def test_select_star_projects_all_vars(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT * WHERE { ?d a ex:Page ; ex:tokenCount ?n . }
    """)
    assert got.columns == ["d", "n"] and rows(got) == [("d3", "9")]


def test_path_plus_closure_predicate(stmts):
    # d1 cites d2 cites d3: cites+ reaches both from d1
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?y WHERE { <d1> ex:cites+ ?y } ORDER BY ?y
    """)
    assert rows(got) == [("d2",), ("d3",)]


def test_path_sequence_and_inverse(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE { ?d ex:cites/ex:tokenCount ?n } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "41"), ("d2", "9")]
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?x WHERE { <d2> ^ex:cites ?x }
    """)
    assert rows(got) == [("d1",)]


def test_path_alternative_and_join_with_plain_pattern(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT DISTINCT ?d ?v WHERE {
          ?d a ex:Doc .
          ?d (ex:author|ex:cites) ?v .
        } ORDER BY ?d ?v
    """)
    assert rows(got) == [("d1", "alice"), ("d1", "d2"),
                         ("d2", "alice"), ("d2", "d3")]


def test_path_negated_set(stmts):
    # everything about d3 except its type
    got = sparql_query(stmts, """
        SELECT ?o WHERE {
          <d3> !<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?o
        }
    """)
    assert rows(got) == [("9",)]


def test_path_zero_or_one_and_constant_endpoints(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT DISTINCT ?y WHERE { <d1> ex:cites? ?y } ORDER BY ?y
    """)
    assert rows(got) == [("d1",), ("d2",)]
    # both ends constant: pure existence gate over another pattern
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE { ?d a ex:Page . <d1> ex:cites+ <d3> }
    """)
    assert rows(got) == [("d3",)]
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE { ?d a ex:Page . <d3> ex:cites+ <d1> }
    """)
    assert rows(got) == []


def test_path_inside_optional_works_since_r5(stmts):
    # nested groups compile recursively, so a closure path inside
    # OPTIONAL left-joins like any sub-group
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?y WHERE {
          ?d a ex:Doc . OPTIONAL { ?d ex:cites+ ?y }
        } ORDER BY ?d ?y
    """)
    assert rows(got) == [("d1", "d2"), ("d1", "d3"), ("d2", "d3")]


def test_path_rejected_inside_variable_graph(stmts):
    with pytest.raises(ValueError, match="GRAPH"):
        sparql_query(stmts, """
            PREFIX ex: <http://ex.org/>
            SELECT ?d WHERE { GRAPH ?g { ?d ex:cites+ ?y } }
        """)


def test_path_inside_constant_graph(stmts):
    # g/1 holds only d1→d2, so the closure restricted to it cannot reach d3
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?y WHERE { GRAPH <http://g/1> { ?d ex:cites+ ?y } }
    """)
    assert sorted(rows(got)) == [("d1", "d2")]


def test_path_inside_union_branch(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE {
          { ?d ex:cites+ ?y } UNION { ?d a ex:Page }
        }
    """)
    # cites+ from d1: d2, d3; from d2: d3 → three path rows, plus d3 a Page
    assert sorted(rows(got)) == [("d1",), ("d1",), ("d2",), ("d3",)]


def test_union_joined_with_surrounding_triples(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE {
          { ?d a ex:Doc } UNION { ?d a ex:Page }
          ?d ex:tokenCount ?n .
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "55"), ("d2", "41"), ("d3", "9")]


def test_union_branch_with_filter_and_optional(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?a WHERE {
          { ?d ex:tokenCount ?n . FILTER(?n > 50)
            OPTIONAL { ?d ex:author ?a } }
          UNION
          { ?d a ex:Page }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "alice"), ("d3", None)]


def test_lone_nested_group_joins(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE {
          ?d ex:tokenCount ?n .
          { ?d a ex:Doc . FILTER(?d != "d2") }
        }
    """)
    assert rows(got) == [("d1", "55")]


def test_union_block_sharing_no_variable_raises(stmts):
    with pytest.raises(ValueError, match="UNION"):
        sparql_query(stmts, """
            PREFIX ex: <http://ex.org/>
            SELECT ?d WHERE {
              ?d ex:tokenCount ?n .
              { ?x a ex:Doc } UNION { ?x a ex:Page }
            }
        """)


def test_ask_true_false_and_empty_input(stmts, spark):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        ASK { ?d a ex:Doc }
    """)
    assert got.columns == ["ask"] and rows(got) == [(True,)]
    got = sparql_query(stmts, "ASK WHERE { ?d <http://nope/p> ?o }")
    assert rows(got) == [(False,)]
    empty = spark.createDataFrame([], "s string, p string, o string")
    got = sparql_query(empty, "ASK { ?s ?p ?o }")
    assert rows(got) == [(False,)]  # keyless agg: one row even on empty


def test_construct_template_instantiation_dedups(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        CONSTRUCT { ?a ex:wrote ?d . ?d a ex:Authored }
        WHERE { ?d ex:author ?a }
    """)
    assert sorted(rows(got)) == [
        ("alice", EX + "wrote", "d1"),
        ("alice", EX + "wrote", "d2"),
        ("d1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "Authored"),
        ("d2", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "Authored"),
    ]


def test_construct_unbound_optional_drops_instantiation(stmts):
    # d3 has no author: its OPTIONAL-bound ?a is NULL, so the template
    # instantiation emits no triple for it (spec: no partial triples)
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        CONSTRUCT { ?d ex:by ?a }
        WHERE { ?d ex:tokenCount ?n . OPTIONAL { ?d ex:author ?a } }
    """)
    assert sorted(r[0] for r in rows(got)) == ["d1", "d2"]


def test_construct_with_order_limit_slices_solutions(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        CONSTRUCT { ?d ex:rank "top" }
        WHERE { ?d ex:tokenCount ?n }
        ORDER BY DESC(?n) LIMIT 2
    """, numeric=("n",))
    assert sorted(r[0] for r in rows(got)) == ["d1", "d2"]


@pytest.mark.parametrize("bad, msg", [
    ("SELECT ?d WHERE { ?d <p> 'x'@en }", "@lang"),
    ("SELECT ?d WHERE { ?d <p> 'x'^^<dt> }", "datatype"),
    ("BASE <http://b/> SELECT ?d WHERE { ?d <p> ?o }", "BASE"),
    ("SELECT ?d WHERE { ?d ex:p ?o }", "unknown prefix"),
    ("SELECT ?missing WHERE { ?d <p> ?o }", "not bound"),
    ("SELECT (SUM(*) AS ?t) WHERE { ?d <p> ?o }", "not valid SPARQL"),
    ("SELECT ?d (COUNT(*) AS ?c) WHERE { ?d <p> ?o } GROUP BY ?o",
     "projection restriction"),
    ("SELECT ?d WHERE { ?d <p> ?o } HAVING(?o > 1)", "HAVING requires"),
    ("SELECT ?d WHERE { ?d <p> ?o } LIMIT 5 extra", "trailing"),
    ("ASK { ?s <p> ?o } LIMIT 1", "no solution modifiers"),
    ("CONSTRUCT { } WHERE { ?s <p> ?o }", "non-empty template"),
    ("CONSTRUCT { ?s <p> ?x } WHERE { ?s <p> ?o }", "not bound"),
    ("CONSTRUCT { ?s <p> ?o } WHERE { ?s <p> ?o } GROUP BY ?s",
     "GROUP BY"),
])
def test_rejects_unsupported_with_clear_error(stmts, bad, msg):
    with pytest.raises(ValueError, match=msg):
        sparql_query(stmts, bad)


def test_plan_is_single_catalyst_plan_with_pushdown(stmts, spark):
    """The compiled plan must keep the constant-predicate filters in the
    scan stage (pushed filters / codegen Filter), not post-filter rows."""
    df = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE { ?d a ex:Doc ; ex:tokenCount ?n . FILTER(?n > 10) }
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both constant-p patterns compile to Filter over the cached relation
    assert "tokenCount" in plan


# --- round 5: BIND, value expressions, subqueries, new aggregates -------


def test_bind_arithmetic_and_string_builtins(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n2 ?tag WHERE {
          ?d ex:tokenCount ?n .
          BIND(?n * 2 + 1 AS ?n2)
          BIND(concat(ucase(?d), ":", str(?n)) AS ?tag)
        } ORDER BY ?d
    """)
    assert rows(got) == [
        ("d1", 111.0, "D1:55"),
        ("d2", 83.0, "D2:41"),
        ("d3", 19.0, "D3:9"),
    ]


def test_bind_in_scope_for_later_bind_and_filter(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?half WHERE {
          ?d ex:tokenCount ?n .
          BIND(?n / 2 AS ?half)
          BIND(?half + 1 AS ?halfplus)
          FILTER(?halfplus > 22)
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", 27.5)]


def test_filter_in_and_not_in(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE { ?d ex:author ?a . FILTER(?a IN ("alice", "bob")) }
        ORDER BY ?d
    """)
    assert rows(got) == [("d1",), ("d2",)]
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE { ?d ex:tokenCount ?n . FILTER(?n NOT IN (55, 9)) }
    """)
    assert rows(got) == [("d2",)]


def test_filter_value_functions(stmts):
    # strlen / substr / strbefore / strafter / if / coalesce
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d (strlen(?d) AS ?len) (substr(?d, 2) AS ?num)
               (if(?n > 40, "long", "short") AS ?bucket)
        WHERE { ?d ex:tokenCount ?n . } ORDER BY ?d
    """)
    assert rows(got) == [
        ("d1", 2, "1", "long"),
        ("d2", 2, "2", "long"),
        ("d3", 2, "3", "short"),
    ]


def test_strbefore_strafter_absent_needle_yields_empty(spark):
    from sparkrdf.query import bgp_extend

    df = spark.createDataFrame([("a:b",), ("nocolon",)], "v string")
    out = bgp_extend(df, [
        ("before", 'strbefore(?v, ":")'),
        ("after", 'strafter(?v, ":")'),
    ])
    got = {tuple(r) for r in out.collect()}
    assert got == {("a:b", "a", "b"), ("nocolon", "", "")}


def test_if_null_condition_is_error_not_else(spark):
    """§17.4.1.2: IF over a type-error condition is an error (NULL bind),
    not the else arm."""
    from sparkrdf.query import bgp_extend

    df = spark.createDataFrame([("abc",), ("7",)], "n string")
    out = bgp_extend(df, [("b", 'if(?n > 3, "big", "small")')])
    got = {tuple(r) for r in out.collect()}
    assert got == {("abc", None), ("7", "big")}


def test_bind_rebinding_raises(stmts):
    with pytest.raises(ValueError, match="re-bind"):
        sparql_query(stmts, """
            PREFIX ex: <http://ex.org/>
            SELECT ?d WHERE { ?d ex:tokenCount ?n . BIND(1 AS ?n) }
        """)


def test_subquery_aggregate_joins_outer(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?a ?m WHERE {
          ?d ex:author ?a .
          { SELECT ?d (COUNT(*) AS ?m) WHERE { ?d ex:cites ?o } GROUP BY ?d }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "alice", 1), ("d2", "alice", 1)]


def test_subquery_only_projection_visible(stmts):
    # ?n is projected away inside the subquery: referencing it outside raises
    with pytest.raises(ValueError, match="not bound"):
        sparql_query(stmts, """
            PREFIX ex: <http://ex.org/>
            SELECT ?d ?n WHERE {
              ?d ex:author ?a .
              { SELECT ?d WHERE { ?d ex:tokenCount ?n } }
            }
        """)


def test_subquery_disjoint_raises(stmts):
    with pytest.raises(ValueError, match="shares no variable"):
        sparql_query(stmts, """
            PREFIX ex: <http://ex.org/>
            SELECT ?a WHERE {
              ?d ex:author ?a .
              { SELECT (COUNT(*) AS ?m) WHERE { ?x ex:cites ?o } }
            }
        """)


def test_group_concat_sample_and_separator(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?a (GROUP_CONCAT(?d; SEPARATOR="|") AS ?ds)
               (SAMPLE(?d) AS ?one) WHERE { ?d ex:author ?a } GROUP BY ?a
    """)
    assert rows(got) == [("alice", "d1|d2", "d1")]


def test_group_concat_default_separator_is_space(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?a (GROUP_CONCAT(?d) AS ?ds) WHERE { ?d ex:author ?a }
        GROUP BY ?a
    """)
    assert rows(got) == [("alice", "d1 d2")]


def test_group_concat_distinct(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT (GROUP_CONCAT(DISTINCT ?a; SEPARATOR=",") AS ?as)
        WHERE { ?d ex:author ?a } GROUP BY ?a
    """)
    assert rows(got) == [("alice",)]


def test_select_expression_over_aggregate_alias(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?a (COUNT(*) AS ?c) (?c * 10 AS ?c10)
        WHERE { ?d ex:author ?a } GROUP BY ?a
    """)
    assert rows(got) == [("alice", 2, 20.0)]


@pytest.mark.parametrize("having, alias_form", [
    (
        "SELECT ?s WHERE { ?s <p> ?o } GROUP BY ?s HAVING (COUNT(?o) > 1)",
        "SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s <p> ?o } GROUP BY ?s "
        "HAVING (?c > 1)",
    ),
    (
        "SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s <p> ?n . ?s <p> ?o } "
        "GROUP BY ?s HAVING (SUM(?n) >= 2)",
        "SELECT ?s (COUNT(?o) AS ?c) (SUM(?n) AS ?t) WHERE { ?s <p> ?n . "
        "?s <p> ?o } GROUP BY ?s HAVING (?t >= 2)",
    ),
], ids=["count", "sum-next-to-select-aggregate"])
def test_having_aggregate_equals_alias_form(spark, having, alias_form):
    """An aggregate inside HAVING is computed by the query's one hash
    aggregate under a hidden alias, filtered on and dropped: the rows equal
    those of the same condition over a SELECT alias."""
    three = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "2"), ("b", "p", "1")], "s string, p string, o string"
    )
    got = sparql_query(three, having)
    want = sparql_query(three, alias_form).select(*got.columns)
    assert sorted(rows(got)) == sorted(rows(want)) and rows(got)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [s") == 1


def test_separator_on_non_group_concat_raises(stmts):
    with pytest.raises(ValueError, match="GROUP_CONCAT only"):
        sparql_query(stmts, """
            PREFIX ex: <http://ex.org/>
            SELECT (COUNT(?d; SEPARATOR=",") AS ?c)
            WHERE { ?d ex:author ?a } GROUP BY ?a
        """)


def test_bind_plan_stays_codegen_no_udf(stmts):
    df = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n2 WHERE {
          ?d ex:tokenCount ?n . BIND(?n * 2 AS ?n2) FILTER(?n2 > 10)
        }
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_filter_exists_semi_join(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE {
          ?d ex:tokenCount ?n .
          FILTER EXISTS { ?d ex:cites ?o }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "55"), ("d2", "41")]


def test_filter_exists_does_not_inflate_multiplicity(spark):
    st = spark.createDataFrame(
        [("a", "p", "x", None), ("x", "q", "1", None), ("x", "q", "2", None)],
        "s string, p string, o string, sub_graph string")
    got = sparql_query(st, """
        SELECT ?s WHERE { ?s <p> ?x . FILTER EXISTS { ?x <q> ?v } }
    """)
    assert rows(got) == [("a",)]  # two q-rows, still ONE solution


def test_describe_constant_and_var_seeds(spark):
    st = spark.createDataFrame(
        [
            ("d1", "lang", "de", "Literal"),
            ("d1", "ref", "_:b", "BNode"),
            ("_:b", "val", "7", "Literal"),
            ("d2", "lang", "en", "Literal"),
        ],
        "s string, p string, o string, o_kind string")
    got = sparql_query(st, 'DESCRIBE ?d WHERE { ?d <lang> "de" }')
    assert sorted(r.s for r in got.collect()) == ["_:b", "d1", "d1"]
    got = sparql_query(st, "DESCRIBE <d2>")
    assert rows(got.select("s", "p", "o")) == [("d2", "lang", "en")]


def test_describe_without_o_kind_yields_outgoing_only(spark):
    st = spark.createDataFrame(
        [("d1", "ref", "_:b"), ("_:b", "val", "7")],
        "s string, p string, o string")
    got = sparql_query(st, "DESCRIBE <d1>")
    assert rows(got) == [("d1", "ref", "_:b")]
    assert got.columns == ["s", "p", "o"]  # injected o_kind dropped again


def test_describe_rejects_modifiers_and_bare_var(stmts):
    with pytest.raises(ValueError, match="no solution modifiers"):
        sparql_query(stmts, "DESCRIBE <d1> LIMIT 3")
    with pytest.raises(ValueError, match="requires a WHERE"):
        sparql_query(stmts, "DESCRIBE ?d")


# --- SPARQL 1.1 Update -----------------------------------------------


@pytest.fixture()
def upd_stmts(spark):
    from sparkrdf.sparql import sparql_update  # noqa: F401 (import check)
    return spark.createDataFrame(
        [
            ("d1", EX + "tokens", "55", "URIRef", "Literal", None),
            ("d2", EX + "tokens", "41", "URIRef", "Literal", None),
            ("d3", EX + "tokens", "9", "URIRef", "Literal", None),
            ("d1", EX + "lang", "de", "URIRef", "Literal", None),
        ],
        "s string, p string, o string, s_kind string, o_kind string, "
        "sub_graph string",
    )


def spo(df):
    return sorted((r.s, r.p, r.o) for r in df.collect())


def test_insert_data_is_set_semantics(upd_stmts):
    from sparkrdf.sparql import sparql_update

    out = sparql_update(upd_stmts, f"""
        PREFIX ex: <{EX}>
        INSERT DATA {{ <d4> ex:tokens 100 . <d1> ex:lang "de" . <d4> a ex:Doc }}
    """)
    assert out.count() == 6  # the duplicate <d1> lang row is not re-added
    got = {(r.s, r.o_kind) for r in out.filter("s = 'd4'").collect()}
    assert got == {("d4", "Literal"), ("d4", "URIRef")}  # inferred kinds


def test_delete_data_and_delete_where(upd_stmts):
    from sparkrdf.sparql import sparql_update

    out = sparql_update(upd_stmts, f'DELETE DATA {{ <d3> <{EX}tokens> 9 }}')
    assert out.count() == 3
    out = sparql_update(upd_stmts, f'DELETE WHERE {{ ?d <{EX}tokens> ?n }}')
    assert spo(out) == [("d1", EX + "lang", "de")]


def test_delete_insert_where_predicate_migration(upd_stmts):
    from sparkrdf.sparql import sparql_update

    out = sparql_update(upd_stmts, f"""
        PREFIX ex: <{EX}>
        DELETE {{ ?d ex:tokens ?n }}
        INSERT {{ ?d ex:size ?n }}
        WHERE {{ ?d ex:tokens ?n . FILTER(?n > 40) }}
    """)
    assert spo(out) == [
        ("d1", EX + "lang", "de"),
        ("d1", EX + "size", "55"),
        ("d2", EX + "size", "41"),
        ("d3", EX + "tokens", "9"),
    ]


def test_sequential_ops_see_prior_state(upd_stmts):
    from sparkrdf.sparql import sparql_update

    out = sparql_update(upd_stmts, f"""
        PREFIX ex: <{EX}>
        DELETE DATA {{ <d1> ex:lang "de" }} ;
        INSERT {{ ?d ex:lang "und" }}
        WHERE {{ ?d ex:tokens ?n .
                 FILTER NOT EXISTS {{ ?d ex:lang ?l }} }}
    """)
    # after the delete, NO doc has a lang — all three get "und"
    assert out.filter(f"p = '{EX}lang' and o = 'und'").count() == 3


def test_update_rejections(upd_stmts):
    from sparkrdf.sparql import sparql_update

    for bad, msg in [
        ("INSERT DATA { ?d <p> 1 }", "ground triples only"),
        ("DELETE { ?d <p> ?x } WHERE { ?d <p> ?n }", "not bound"),
        ("", "empty update"),
        ("INSERT DATA { }", "empty update triple block"),
        ("INSERT DATA { <s> 5 <o> }", "in p position"),
        ("SELECT ?d WHERE { ?d <p> ?o }", "update operation"),
    ]:
        with pytest.raises(ValueError, match=msg):
            sparql_update(upd_stmts, bad).count()


# --- round 5: nested group graph patterns -------------------------------


def test_optional_with_inner_filter(stmts):
    # the classic idiom: OPTIONAL binds only when its inner FILTER holds
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE {
          ?d a ex:Doc .
          OPTIONAL { ?d ex:tokenCount ?n . FILTER(?n > 50) }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "55"), ("d2", None)]


def test_optional_with_inner_bind(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?big WHERE {
          ?d a ex:Doc .
          OPTIONAL { ?d ex:tokenCount ?n . BIND(?n * 2 AS ?big)
                     FILTER(?big > 100) }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", 110.0), ("d2", None)]


def test_minus_with_inner_filter(stmts):
    # remove docs whose tokenCount exceeds 50 — only via the inner filter
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE {
          ?d a ex:Doc .
          MINUS { ?d ex:tokenCount ?n . FILTER(?n > 50) }
        }
    """)
    assert rows(got) == [("d2",)]


def test_not_exists_with_inner_filter(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d WHERE {
          ?d ex:tokenCount ?m .
          FILTER NOT EXISTS { ?d ex:cites ?y . FILTER(?y = "d3") }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1",), ("d3",)]


def test_nested_optional_inside_optional(stmts):
    got = sparql_query(stmts, """
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?y ?m WHERE {
          ?d a ex:Doc .
          OPTIONAL { ?d ex:cites ?y . OPTIONAL { ?y ex:tokenCount ?m } }
        } ORDER BY ?d
    """)
    assert rows(got) == [("d1", "d2", "41"), ("d2", "d3", "9")]


def test_sparql_term_functions(spark):
    """Term functions through the string front end: the group binds the
    hidden metadata columns only when its FILTER/BIND needs them and
    strips them before solutions leave the group — projections never see
    kind/lang/dt columns."""
    from sparkrdf.sparql import sparql_query
    from sparkrdf.ttl import parse_ttl, statements_df

    stmts = statements_df(spark, parse_ttl(
        """
        @prefix ex: <http://e.com/> .
        @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        ex:a ex:label "hello"@en .
        ex:a ex:label "plain" .
        ex:a ex:n "5"^^xsd:integer .
        ex:a ex:link ex:b .
        """
    ))
    out = sparql_query(stmts, """
        PREFIX ex: <http://e.com/>
        SELECT ?o WHERE {
          ?s ex:label ?o . FILTER (langmatches(lang(?o), "*"))
        }""")
    assert out.columns == ["o"]
    assert [r.o for r in out.collect()] == ["hello"]

    out = sparql_query(stmts, """
        PREFIX ex: <http://e.com/>
        SELECT ?s ?dt WHERE {
          ?s ex:n ?v . FILTER (isnumeric(?v)) BIND(datatype(?v) AS ?dt)
        }""")
    (row,) = out.collect()
    assert row.dt == "http://www.w3.org/2001/XMLSchema#integer"

    # isIRI inside an OPTIONAL body (nested groups bind their own meta)
    out = sparql_query(stmts, """
        PREFIX ex: <http://e.com/>
        SELECT ?s ?t WHERE {
          ?s ex:n ?v .
          OPTIONAL { ?s ex:link ?t . FILTER (isiri(?t)) }
        }""")
    (row,) = out.collect()
    assert row.t == "http://e.com/b"


def test_sparql_hash_and_encode_functions(spark):
    """§17.5 MD5/SHA1/SHA256 (bit-exact vs hashlib) and §17.4.3.10
    ENCODE_FOR_URI (RFC 3986 percent-encoding, unreserved set kept) —
    all codegen builtins, the IRI-minting primitives."""
    import hashlib

    from sparkrdf.sparql import sparql_query
    from sparkrdf.ttl import parse_ttl, statements_df

    stmts = statements_df(spark, parse_ttl(
        '@prefix ex: <http://e.com/> . ex:a ex:label "a b~c*d/e" .'))
    (row,) = sparql_query(stmts, """
        PREFIX ex: <http://e.com/>
        SELECT ?h ?s1 ?s2 ?e WHERE {
          ?x ex:label ?v .
          BIND(md5(?v) AS ?h) BIND(sha1(?v) AS ?s1)
          BIND(sha256(?v) AS ?s2) BIND(encode_for_uri(?v) AS ?e)
        }""").collect()
    v = b"a b~c*d/e"
    assert row.h == hashlib.md5(v).hexdigest()
    assert row.s1 == hashlib.sha1(v).hexdigest()
    assert row.s2 == hashlib.sha256(v).hexdigest()
    assert row.e == "a%20b~c%2Ad%2Fe"


def test_string_escapes_decode_alike_in_both_lexers(spark):
    """SPARQL ECHAR escapes (§19.7) decode the same way whether the literal
    reaches the one lexer in a FILTER string (bgp_filter / parse_filter)
    or inside a query (sparql_query)."""
    from sparkrdf.query import bgp_filter, bgp_match
    from sparkrdf.sparql import _tokenize

    src = r'"\t\b\n\r\f\"\'\\\q"'
    want = "\t\b\n\r\f\"'\\q"
    assert [(t.kind, t.val) for t in _tokenize(src)] == [("str", want)]

    st = spark.createDataFrame(
        [("hit", "note", "a\tb\nc"), ("plain", "note", "atbnc"), ("raw", "note", r"a\tb\nc")],
        "s string, p string, o string",
    )
    by_filter = bgp_filter(bgp_match(st, [("?d", "note", "?v")]), r'?v = "a\tb\nc"')
    by_query = sparql_query(st, r'SELECT ?d WHERE { ?d <note> ?v . FILTER(?v = "a\tb\nc") }')
    by_pattern = sparql_query(st, r'SELECT ?d WHERE { ?d <note> "a\tb\nc" . }')
    assert [r.d for r in by_filter.collect()] == ["hit"]
    assert rows(by_query) == rows(by_pattern) == [("hit",)]



# --- one front end: string entry points ≡ query strings ------------------

RT = [
    ("d1", "n", "0"), ("d2", "n", "2"), ("d3", "n", "-3"), ("d4", "n", "abc"),
    ("d1", "l", "e"), ("d2", "l", "de"), ("d3", "l", 'x\t"y'), ("d4", "l", "fr"),
    ("a", "p", "b"), ("b", "q", "c"), ("c", "q", "d"), ("a", "p1", "c"),
    ("b", "p2", "d"), ("c", "r", "a"),
]


@pytest.fixture(scope="module")
def rt(spark):
    return spark.createDataFrame(RT, "s string, p string, o string").cache()


@pytest.mark.parametrize("kind, expr, want", [
    ("filter", "?n-1 > 0", {"d2"}),
    ("filter", "?n > -1", {"d1", "d2"}),
    ("filter", "STRLEN(?l)-1 >= 1", {"d2", "d3", "d4"}),
    ("filter", '?l NOT IN ("e", "de")', {"d3", "d4"}),
    ("filter", "$n >= 0 && ?n<2", {"d1"}),
    ("filter", r'?l = "x\t\"y"', {"d3"}),
    ("bind", "?n-1", None),
    ("bind", 'concat(?l, "-", $n)', None),
    ("path", "^<p>/<q>*", None),
    ("path", "!(<p1>|<p2>)", None),
])
def test_string_entry_points_match_query_strings(rt, kind, expr, want):
    """Each FILTER / BIND / path string returns the same rows through the
    programmatic entry point as embedded in a query string: one lexer and
    one grammar read both."""
    from sparkrdf.query import bgp_extend, bgp_filter, bgp_match, path_expr

    group = "?d <n> ?n . ?d <l> ?l ."
    sol = bgp_match(rt, [("?d", "n", "?n"), ("?d", "l", "?l")])
    if kind == "filter":
        by_api = bgp_filter(sol, expr).select("d", "n", "l")
        by_query = sparql_query(
            rt, f"SELECT ?d ?n ?l WHERE {{ {group} FILTER({expr}) }}")
        assert {r.d for r in by_api.collect()} == want
    elif kind == "bind":
        by_api = bgp_extend(sol, [("b", expr)]).select("d", "b")
        by_query = sparql_query(
            rt, f"SELECT ?d ?b WHERE {{ {group} BIND({expr} AS ?b) }}")
    else:
        by_api = path_expr(rt, expr)
        by_query = sparql_query(rt, f"SELECT ?s ?o WHERE {{ ?s {expr} ?o }}")
    assert sorted(rows(by_api), key=repr) == sorted(rows(by_query), key=repr)
    assert by_api.count() > 0


def test_term_metadata_is_bound_only_for_term_function_calls(spark):
    """Only a CALL to a term function binds the hidden __kind/__lang/__dt
    columns; the same name inside a string literal does not."""
    from sparkrdf.ttl import parse_ttl, statements_df

    st = statements_df(spark, parse_ttl(
        '@prefix ex: <http://e.com/> .\n'
        'ex:a ex:label "hello"@en .\n'
        'ex:b ex:label "lang(x"@de .'))

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    lit = sparql_query(st, 'SELECT ?x WHERE { ?x <http://e.com/label> ?l . '
                           'FILTER(contains(?l, "lang(")) }')
    plan = analyzed(lit)
    assert not any(m in plan for m in ("__kind", "__lang", "__dt"))
    assert rows(lit) == [("http://e.com/b",)]
    call = sparql_query(st, 'SELECT ?x WHERE { ?x <http://e.com/label> ?l . '
                            'FILTER(lang(?l) = "en") }')
    assert "l__lang" in analyzed(call)
    assert rows(call) == [("http://e.com/a",)]


def test_sum_of_non_numeric_lexical_agrees(spark):
    """SUM/AVG skip a non-numeric lexical (try_cast) on both surfaces; the
    programmatic group_solutions used to raise CAST_INVALID_INPUT under
    ANSI."""
    from sparkrdf.query import group_solutions

    st = spark.createDataFrame(
        [("d1", "score", "10"), ("d1", "score", "100"), ("d1", "score", "n/a")],
        "s string, p string, o string",
    )
    by_api = group_solutions(st, [("?s", "score", "?v")], ["s"],
                             {"total": ("sum", "v"), "mean": ("avg", "v")})
    by_query = sparql_query(st, """
        SELECT ?s (SUM(?v) AS ?total) (AVG(?v) AS ?mean)
        WHERE { ?s <score> ?v } GROUP BY ?s""")
    assert rows(by_api) == rows(by_query) == [("d1", 110.0, 55.0)]


def test_values_without_undef_is_a_hash_join(rt):
    got = sparql_query(rt, 'SELECT ?d WHERE { ?d <l> ?l . VALUES ?l { "de" } }')
    assert rows(got) == [("d2",)]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" not in plan
    got = sparql_query(rt, """
        SELECT ?d ?n WHERE { ?d <n> ?n ; <l> ?l .
          VALUES (?l ?n) { ("de" UNDEF) (UNDEF "0") ("fr" "1") } }""")
    assert sorted(rows(got)) == [("d1", "0"), ("d2", "2")]


def test_values_empty_block_joins_no_rows(spark):
    """An empty data block is an empty solution sequence: joining it
    leaves no rows (§10.2), in the single- and the multi-variable form."""
    st = spark.createDataFrame(
        [("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")],
        "s string, p string, o string",
    )
    got = sparql_query(st, "SELECT ?s ?o WHERE { ?s <p> ?o . VALUES ?o { } }")
    assert got.columns == ["s", "o"] and rows(got) == []
    got = sparql_query(st, "SELECT ?s WHERE { ?s <p> ?o . VALUES (?s ?o) { } }")
    assert rows(got) == []
