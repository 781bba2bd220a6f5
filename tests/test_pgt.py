"""PGT transformation tests, mirroring the reference's PGT assertions
(tests/test_main.py:1865-4563): collection mapping, property collapse,
best-class tie-breaks, UnknownResource fallback, reification flattening,
and the exact nested list goldens.

Transforms are memoized + materialized per case (conftest.pgt_case)."""

import json

from sparkrdf.compare import assert_round_trip
from sparkrdf.export import pgt_to_statements
from sparkrdf.hashing import farmhash_key
from sparkrdf.pgt import pgt_transform
from sparkrdf.ttl import parse_ttl, statements_df

EX = "http://example.com/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _vmap(out):
    return {r["_key"]: r for r in out["vertices"].collect()}


def test_pgt_case_1(spark, pgt_case):
    """Reference test_pgt_case_1 (test_main.py:1865-1925)."""
    _, stmts, out = pgt_case("cases/1.ttl")
    v = _vmap(out)
    e = {r["_key"]: r for r in out["edges"].collect()}

    alice, bob, person = (farmhash_key(EX + x) for x in ("alice", "bob", "Person"))
    typ, meets = farmhash_key(RDF_TYPE), farmhash_key(EX + "meets")

    assert v[person]["collection"] == "Class"
    assert v[meets]["collection"] == "Property"
    assert v[typ]["collection"] == "Property"
    assert v[alice]["collection"] == "Person"
    assert v[bob]["collection"] == "Person"
    assert not [r for r in v.values() if r["collection"].endswith("UnknownResource")]

    te = e[farmhash_key(f"{alice}-{typ}-{person}")]
    assert te["collection"] == "type" and te["_to"] == f"Class/{person}"
    assert farmhash_key(f"{bob}-{typ}-{person}") in e
    me = e[farmhash_key(f"{alice}-{meets}-{bob}")]
    assert me["collection"] == "meets"

    # vertex count identity: unique URIs+BNodes (incl. predicates);
    # edge count identity: non-literal statements (test_main.py:1866-1871)
    assert len(v) == 5 and len(e) == 3

    assert_round_trip(stmts, pgt_to_statements(out["vertices"], out["edges"]))


def test_pgt_case_2_1_property_collapse(spark, pgt_case):
    """Literal statements collapse onto the subject doc (test_main.py:1960-1962)."""
    _, stmts, out = pgt_case("cases/2_1.ttl")
    v = _vmap(out)
    mentor = v[farmhash_key(EX + "mentor")]
    assert mentor["collection"] == "Property"
    props = json.loads(mentor["properties"])
    assert props == {"label": "project supervisor", "name": "mentor's name"}
    assert_round_trip(stmts, pgt_to_statements(out["vertices"], out["edges"]))


def test_pgt_case_2_2_unknown_resource(spark, pgt_case):
    """Untyped, un-scoped resources land in {name}_UnknownResource
    (test_main.py:2033-2040)."""
    name, _, out = pgt_case("cases/2_2.ttl")
    v = _vmap(out)
    for term in ("Martin", "Joe", "teacher"):
        assert v[farmhash_key(EX + term)]["collection"] == f"{name}_UnknownResource", term
    assert v[farmhash_key(EX + "mentorJoe")]["collection"] == "Property"
    assert v[farmhash_key(EX + "alias")]["collection"] == "Property"


def test_pgt_case_3_literals(spark, pgt_case):
    """Datatype coercion on properties: xsd:integer → JSON int, plain stays
    string (main.py:3897-3914)."""
    _, _, out = pgt_case("cases/3_1.ttl")
    v = _vmap(out)
    with_props = [r for r in v.values() if r["properties"]]
    assert with_props
    allprops = {}
    for r in with_props:
        allprops.update(json.loads(r["properties"]))
    for val in allprops.values():
        assert not isinstance(val, dict)


def test_pgt_case_7_best_class(spark, pgt_case):
    """Controller tie-breaks (controller.py:78-94) + adb:collection override."""
    _, _, out = pgt_case("cases/7.ttl")
    v = _vmap(out)
    by_label = {r["_label"]: r["collection"] for r in v.values()}
    assert by_label["charlie"] == "Zenkey"  # deepest subclass wins
    assert by_label["marty"] == "Human"  # deepest in-tree; Author ignored
    assert by_label["alice"] == "Arson"  # none in tree → lexicographic min
    assert by_label["john"] == "Artist"  # explicit adb:collection override
    for cls in ("Zenkey", "Zebra", "Donkey", "Animal", "LivingThing", "Thing", "Object"):
        assert by_label[cls] == "Class", cls


def test_pgt_case_6_named_graphs(spark, pgt_case):
    """_sub_graph_uri lands on edges and literal-carrying docs
    (test_main.py:2401-2474)."""
    _, stmts, out = pgt_case("cases/6.trig")
    edges = out["edges"].collect()
    sgs = {r["_sub_graph_uri"] for r in edges}
    assert EX + "Graph1" in sgs and EX + "Graph2" in sgs and None in sgs
    monica = [r for r in out["vertices"].collect() if r["_label"] == "Monica"][0]
    assert monica["_sub_graph_uri"] == EX + "Graph1"
    props = json.loads(monica["properties"])
    assert props["name"] == "Monica" and props["dateOfBirth"] == "1963-03-22"


def test_pgt_case_8_reification(spark, pgt_case):
    """Flattened reified triple: edge keyed by reified subject's key,
    statement properties land on the edge (test_main.py case 8)."""
    _, _, out = pgt_case("cases/8.ttl")
    all_edges = out["edges"].collect()
    edges = [r for r in all_edges if r["collection"] == "likes"]
    assert len(edges) == 1
    e = edges[0]
    alice, bob = farmhash_key(EX + "alice"), farmhash_key(EX + "bob")
    assert e["_from"].endswith(f"/{alice}") and e["_to"].endswith(f"/{bob}")
    props = json.loads(e["properties"])
    assert props == {"certainty": 0.5}
    assert not [r for r in all_edges if r["_label"] in ("subject", "predicate", "object")]


def test_pgt_case_13_nested_reification(spark, pgt_case):
    """Nested statement-of-statement (cases/13_1) resolves in one pass."""
    _, _, out = pgt_case("cases/13_1.ttl")
    edges = out["edges"].collect()
    cols = {r["collection"] for r in edges}
    assert "position" in cols
    assert "mentionedBy" in cols
    inner = [r for r in edges if r["collection"] == "position"][0]
    outer = [r for r in edges if r["collection"] == "mentionedBy"][0]
    assert outer["_from"] == f"position/{inner['_key']}"
    source = [r for r in edges if r["collection"] == "source"][0]
    assert source["_from"] == f"mentionedBy/{outer['_key']}"


def test_pgt_collection_nested_lists(spark, pgt_case):
    """Exact nested JSON array goldens (test_main.py:4442-4503)."""
    _, _, out = pgt_case("collection.ttl")
    v = _vmap(out)
    doc = v[farmhash_key(EX + "Doc")]
    assert doc["collection"] == "TestDoc"
    props = json.loads(doc["properties"])
    assert props["numbers"] == [
        1,
        [2, 3],
        [[4, 5]],
        [[6, 7]],
        [[8, 9], [10, 11]],
        [[[12], 13], 14],
        [15, [16, [17]]],
        18,
    ]
    assert props["nested_container"] == [[1, 2], [6, [7, 8, 9]]]
    assert props["random"] == [["a", 1, ["b", 2, ["c", 3], 4], 5], [], True, 6.5]
    assert "planets" not in props  # resource-only list → property dropped

    edges = out["edges"].collect()
    planets = [r for r in edges if r["collection"] == "planets"]
    assert len(planets) == 4  # Mars, Jupiter, Venus, Earth
    randoms = [r for r in edges if r["collection"] == "random"]
    assert len(randoms) == 1
    _doc, _random, _mars = (farmhash_key(EX + x) for x in ("Doc", "random", "Mars"))
    assert randoms[0]["_key"] == farmhash_key(f"{_doc}-{_random}-{_mars}")


def test_pgt_long_collection_is_one_fragment(spark):
    """A 300-member rdf:first/rdf:rest chain, deeper than any fixed number
    of pointer jumps covers, assembles into one fragment of 300 values."""
    from sparkrdf.lists import assemble_lists, split_list_statements

    members = " ".join(str(i) for i in range(300))
    stmts = statements_df(spark, parse_ttl(
        f"@prefix ex: <{EX}> .\nex:Doc ex:numbers ( {members} ) .\n"))
    _, list_data, heads = split_list_statements(stmts)
    fragments, _ = assemble_lists(list_data, heads)
    frags = fragments.collect()
    assert len(frags) == 1
    assert json.loads(frags[0]["fragment"]) == list(range(300))
    out = pgt_transform(stmts, "GLongList")
    doc = _vmap(out)[farmhash_key(EX + "Doc")]
    assert json.loads(doc["properties"])["numbers"] == list(range(300))


def test_pgt_cyclic_collection_terminates(spark):
    """A malformed rdf:rest chain that loops back (a 3-cycle, which pointer
    jumping alone never settles) still assembles: root assignment stops
    once the jumps cover every child node."""
    from sparkrdf.lists import assemble_lists, split_list_statements

    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    cells = "\n".join(
        f"_:{a} <{rdf}first> {i} ; <{rdf}rest> _:{b} ."
        for i, (a, b) in enumerate([("a", "b"), ("b", "c"), ("c", "a")])
    )
    stmts = statements_df(spark, parse_ttl(
        f"@prefix ex: <{EX}> .\nex:Doc ex:numbers _:a .\n{cells}\n"))
    _, list_data, heads = split_list_statements(stmts)
    fragments, _ = assemble_lists(list_data, heads)
    assert fragments.count() == 3


def test_pgt_container_goldens(spark, pgt_case):
    """Container membership assembly (test_main.py:4510-4563)."""
    _, _, out = pgt_case("container.ttl")
    v = _vmap(out)
    doc = v[farmhash_key(EX + "Doc")]
    props = json.loads(doc["properties"])
    assert props["numbers"] == [
        1,
        [2, 3],
        [[4, 5]],
        [[6, 7]],
        [[8, 9], [10, 11]],
        [[[12], 13], 14],
        [15, [16, [17]]],
        18,
    ]
    assert "planets" not in props
    assert len([r for r in out["edges"].collect() if r["collection"] == "planets"]) == 4

    def flatten(li):
        return [x for sub in li for x in (flatten(sub) if isinstance(sub, list) else [sub])]

    assert len(props["more_numbers"]) == 2
    assert set(flatten(props["more_numbers"])) == {1, 2, 3, 4, 5}


def test_pgt_key_overrides(spark, pgt_case):
    """adb:key overrides apply in PGT too (test_main.py:4691-4733)."""
    _, _, out = pgt_case("key.ttl")
    v = _vmap(out)
    assert v["1"]["_uri"] == EX + "bob"
    assert v["2"]["_uri"] == EX + "alice"
    assert v["Person"]["collection"] == "Class"
    edges = out["edges"].collect()
    typ = farmhash_key(RDF_TYPE)
    assert farmhash_key(f"1-{typ}-Person") in {r["_key"] for r in edges}


def test_pgt_resource_collection(spark):
    """resource_collection: everything except Class/Property maps there
    (main.py:1319-1326, 2718-2720)."""
    rows = parse_ttl(
        "@prefix ex: <http://e.c/> . ex:a a ex:T . ex:a ex:knows ex:b ."
    )
    out = pgt_transform(statements_df(spark, rows), "RC", resource_collection="Node")
    v = _vmap(out)
    by_label = {r["_label"]: r["collection"] for r in v.values()}
    assert by_label["a"] == "Node" and by_label["b"] == "Node"
    assert by_label["T"] == "Class"
    assert by_label["knows"] == "Property"
