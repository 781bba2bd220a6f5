"""Round-4 KG-construction analytics on hand-built inputs with known
answers: NPMI co-occurrence weighting, bipartite k-core peeling, knowledge
fusion (triple support), entity-matching blocking + bigram Jaccard, and
Lloyd's k-means with deterministic init."""

import math

import pytest
from pyspark.sql import functions as F

from sparkrdf.er import bigram_set, fuzzy_pairs
from sparkrdf.extract.fuse import triple_support
from sparkrdf.graphops import kcore, npmi_edges
from sparkrdf.similarity import kmeans_assign


def _mentions(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, surface string")


# ---------------------------------------------------------------------------
# npmi_edges
# ---------------------------------------------------------------------------


def test_npmi_known_values(spark):
    # d1{a,b} d2{a,b} d3{a,c} d4{b}: N=4, n_a=3, n_b=3, n_c=1
    m = _mentions(
        spark,
        [("d1", "a"), ("d1", "b"), ("d2", "a"), ("d2", "b"),
         ("d3", "a"), ("d3", "c"), ("d4", "b")],
    )
    out = {(r.u, r.v): (r.n_uv, r.npmi) for r in npmi_edges(m).collect()}
    exp_ab = round(math.log(2 * 4 / (3 * 3)) / math.log(4 / 2), 6)
    exp_ac = round(math.log(1 * 4 / (3 * 1)) / math.log(4 / 1), 6)
    assert out == {("a", "b"): (2, exp_ab), ("a", "c"): (1, exp_ac)}
    assert out[("a", "b")][1] < 0  # co-occur LESS than popularity predicts
    assert out[("a", "c")][1] > 0


def test_npmi_perfect_cooccurrence_is_one(spark):
    m = _mentions(spark, [("d1", "x"), ("d1", "y"), ("d2", "x"), ("d2", "y")])
    out = {(r.u, r.v): r.npmi for r in npmi_edges(m).collect()}
    assert out == {("x", "y"): 1.0}


def test_npmi_duplicate_mentions_collapse(spark):
    # repeated (doc, entity) rows must not inflate the counts
    m = _mentions(spark, [("d1", "x"), ("d1", "x"), ("d1", "y"), ("d2", "x")])
    out = {(r.u, r.v): r.n_uv for r in npmi_edges(m).collect()}
    assert out == {("x", "y"): 1}


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u string, v string")


def test_kcore_triangle_with_pendant(spark):
    # triangle a-b-c plus pendant d on a: 2-core = the triangle, all deg 2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")])
    out = {r.n: r.deg for r in kcore(e, k=2).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}


def test_kcore_path_graph_empty(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert kcore(e, k=2).count() == 0


def test_kcore_needs_iterative_peeling(spark):
    # chain p1-p2-p3-p4 hanging off triangle vertex a: each peel round
    # removes exactly one chain node (the current degree-1 end), so the
    # correct 2-core only emerges after 4 rounds
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("a", "p1"), ("p1", "p2"), ("p2", "p3"), ("p3", "p4")],
    )
    out = {r.n: r.deg for r in kcore(e, k=2, rounds=8).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}
    # insufficient rounds leave chain remnants (fixed-round semantics)
    partial = {r.n for r in kcore(e, k=2, rounds=1).collect()}
    assert "p1" in partial


# ---------------------------------------------------------------------------
# triple_support
# ---------------------------------------------------------------------------


def test_triple_support_counts_and_confidence(spark):
    a = spark.createDataFrame(
        [
            ("p1", "s1", "t", "A"),
            ("p2", "s1", "t", "A"),
            ("p3", "s1", "t", "A"),
            ("p3", "s1", "t", "A"),  # duplicate assertion, same provenance
            ("p1", "s1", "r", "B"),
            ("p1", "s2", "t", "A"),
        ],
        "doc string, s string, p string, o string",
    )
    out = {
        (r.s, r.p, r.o): (r.n_prov, r.subj_prov, r.conf)
        for r in triple_support(a).collect()
    }
    assert out[("s1", "t", "A")] == (3, 3, 1.0)
    assert out[("s1", "r", "B")] == (1, 3, round(1 / 3, 9))
    assert out[("s2", "t", "A")] == (1, 1, 1.0)


# ---------------------------------------------------------------------------
# er.fuzzy_pairs
# ---------------------------------------------------------------------------


def test_bigram_set(spark):
    df = spark.range(1).select(
        bigram_set(F.lit("abc")).alias("g3"), bigram_set(F.lit("a")).alias("g1")
    )
    r = df.collect()[0]
    assert r.g3 == ["ab", "bc"] and r.g1 == ["a"]


def test_fuzzy_pairs_blocking_and_similarity(spark):
    recs = spark.createDataFrame(
        [(1, "Navy  Blue"), (2, "navy blue"), (3, "navy green"), (4, "steel gray")],
        "id long, name string",
    )
    out = {(r.id_a, r.id_b): r.sim for r in fuzzy_pairs(recs, threshold=0.5).collect()}
    # 1 and 2 normalize identically; their rarest token is "blue" (tf 2 <
    # navy's 3) so they share a block and score 1.0
    assert out == {(1, 2): 1.0}
    # (1,3) share "navy" but navy is NEITHER record's rarest token — the
    # documented recall trade of single-block rarest-token blocking
    assert (1, 3) not in out


def test_fuzzy_pairs_threshold(spark):
    recs = spark.createDataFrame(
        [(1, "zeta one"), (2, "zeta two"), (3, "one two"), (4, "one two")],
        "id long, name string",
    )
    # "zeta" (tf 2) is rarer than "one"/"two" (tf 3) for records 1 and 2,
    # so they share the zeta block and score their partial-name similarity
    lo = {(r.id_a, r.id_b): r.sim for r in fuzzy_pairs(recs, threshold=0.1).collect()}
    assert lo[(3, 4)] == 1.0
    assert (1, 2) in lo and 0 < lo[(1, 2)] < 1
    hi = {(r.id_a, r.id_b) for r in fuzzy_pairs(recs, threshold=0.99).collect()}
    assert hi == {(3, 4)}  # only the exact duplicate survives


# ---------------------------------------------------------------------------
# kmeans_assign
# ---------------------------------------------------------------------------


def test_kmeans_reassigns_mislabeled_point(spark):
    # (1,0) starts in label 2 but sits next to cluster 1 — one Lloyd
    # assignment moves it; the second (after the centroid update) keeps it
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0], 1),
            (1, [0.0, 2.0], 1),
            (2, [10.0, 0.0], 2),
            (3, [10.0, 2.0], 2),
            (4, [1.0, 0.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.vec_id: (r.cluster, r.dist) for r in kmeans_assign(emb, n_assign=2).collect()}
    assert {i: out[i][0] for i in range(5)} == {0: 1, 1: 1, 2: 2, 3: 2, 4: 1}
    # final centroid of cluster 1 = mean{(0,0),(0,2),(1,0)} rounded 9 d.p.
    cx, cy = round(1 / 3, 9), round(2 / 3, 9)
    assert out[4][1] == round(round((1 - cx) ** 2 + (0 - cy) ** 2, 9), 6)


def test_kmeans_single_assign_uses_init_centroids(spark):
    emb = spark.createDataFrame(
        [(0, [0.0], 1), (1, [4.0], 1), (2, [10.0], 2)],
        "vec_id long, embedding array<float>, label int",
    )
    # init centroids: c1 = 2.0, c2 = 10.0; one assignment, no update
    out = {r.vec_id: r.cluster for r in kmeans_assign(emb, n_assign=1).collect()}
    assert out == {0: 1, 1: 1, 2: 2}
    with pytest.raises(ValueError):
        kmeans_assign(emb, n_assign=0)


# ---------------------------------------------------------------------------
# weblinks + pagerank_directed
# ---------------------------------------------------------------------------


def test_extract_links_and_host_graph(spark):
    from sparkrdf.weblinks import extract_links, host_link_graph

    rows = [
        ("https://a.org/p1",
         b'x<a href="https://b.org/x">t</a>y<a class="z" href="https://c.org/y">u</a>'),
        ("https://a.org/p2", b'<a href="/relative">r</a><a href="https://b.org/z">w</a>'),
        ("https://b.org/p3", b'<a href="https://b.org/self">self</a>'),
        ("https://c.org/p4", b"no anchors here"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    links = {(r.src, r.dst) for r in extract_links(pages).collect()}
    assert ("https://a.org/p2", "/relative") in links  # kept verbatim
    assert len(links) == 5
    g = {(r.src_host, r.dst_host): r.n_links for r in host_link_graph(
        extract_links(pages)).collect()}
    # relative link has no host; b.org→b.org self-link dropped
    assert g == {("a.org", "b.org"): 2, ("a.org", "c.org"): 1}


def _pr_directed_ref(edges, damping=0.85, n_iter=10):
    """Driver-side reference of the directed dangling-aware iteration."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    outw = {}
    for u, _, w in edges:
        outw[u] = outw.get(u, 0.0) + w
    pr = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(n_iter):
        dm = sum(p for n, p in pr.items() if n not in outw)
        base = (1.0 - damping) / len(nodes)
        nxt = {n: base + damping * dm / len(nodes) for n in nodes}
        for u, v, w in edges:
            nxt[v] += damping * pr[u] * (w / outw[u])
        pr = nxt
    return {n: round(p, 6) for n, p in pr.items()}


def test_pagerank_directed_matches_reference(spark):
    from sparkrdf.graphops import pagerank_directed

    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 1), ("d", "a", 2)]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, n_links long")
    got = {r.n: r.pr for r in pagerank_directed(df).collect()}
    exp = _pr_directed_ref([(u, v, float(w)) for u, v, w in edges])
    assert got == exp
    # total rank is conserved (dangling mass redistributed, not leaked)
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_directed_all_dangling_sinks(spark):
    from sparkrdf.graphops import pagerank_directed

    # star into a sink: b, c never link out
    df = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1)], "src_host string, dst_host string, n_links long"
    )
    got = {r.n: r.pr for r in pagerank_directed(df, n_iter=3).collect()}
    exp = _pr_directed_ref([("a", "b", 1.0), ("a", "c", 1.0)], n_iter=3)
    assert got == exp
    assert got["b"] == got["c"] > got["a"] * 0  # symmetric sinks agree


def _hits_ref(edges, n_iter=10):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: 1.0 / len(nodes) for n in nodes}
    auth = dict(hub)
    for _ in range(n_iter):
        a = {n: 0.0 for n in nodes}
        for u, v in edges:
            a[v] += hub[u]
        tot = sum(a.values())
        auth = {n: round(x / tot, 12) for n, x in a.items()}
        h = {n: 0.0 for n in nodes}
        for u, v in edges:
            h[u] += auth[v]
        tot = sum(h.values())
        hub = {n: round(x / tot, 12) for n, x in h.items()}
    return {n: (round(hub[n], 6), round(auth[n], 6)) for n in nodes}


def test_hits_matches_reference(spark):
    from sparkrdf.graphops import hits

    edges = [("a", "b"), ("a", "c"), ("d", "c"), ("c", "b")]
    df = spark.createDataFrame(edges, "src_host string, dst_host string")
    got = {r.n: (r.hub, r.auth) for r in hits(df).collect()}
    assert got == _hits_ref(edges)
    # c is the strongest authority (two in-links, one from the best hub a)
    assert got["c"][1] == max(v[1] for v in got.values())
    # a is the strongest hub (links to both authorities)
    assert got["a"][0] == max(v[0] for v in got.values())


def test_random_walks_deterministic_and_valid(spark):
    import hashlib

    from sparkrdf.graphops import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edges, "u string, v string")
    out = random_walks(df, walk_len=3, walks_per_node=2, seed=7)
    rows = out.collect()
    walks = {}
    for r in rows:
        walks.setdefault((r.start, r.walk_no), {})[r.step] = r.node
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    for (start, wn), path in walks.items():
        assert path[0] == start
        for s in range(1, max(path) + 1):
            assert path[s] in adj[path[s - 1]]  # every hop is a real edge
        if max(path) < 3:  # early stop only at a sink
            assert path[max(path)] == "d"
    # d is a sink and never a start (no out-edges)
    assert all(s != "d" for s, _ in walks)
    # first hop of (a, walk 0) recomputed by hand: neighbors sorted = [b, c]
    h = int(hashlib.md5(b"7|a|0|0|a").hexdigest()[:8], 16)
    assert walks[("a", 0)][1] == sorted(adj["a"])[h % 2]
    # identical re-run → identical corpus (the whole point vs an RNG)
    again = {(r.start, r.walk_no, r.step): r.node
             for r in random_walks(df, walk_len=3, walks_per_node=2, seed=7).collect()}
    assert again == {(s, w, st): n for (s, w), p in walks.items() for st, n in p.items()}


# ---------------------------------------------------------------------------
# property-based cross-checks (driver-side reference implementations)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edge = st.tuples(
    st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
).filter(lambda e: e[0] != e[1])


def _kcore_ref(pairs, k, rounds=8):
    edges = {(f"n{u}", f"n{v}") for u, v in pairs}
    for _ in range(rounds):
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return {n: d for n, d in deg.items() if d >= k}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(_edge, min_size=1, max_size=20),
    k=st.integers(min_value=1, max_value=4),
)
def test_kcore_random_graphs(spark, pairs, k):
    # canonical undirected distinct pairs, like comention_edges emits
    pairs = sorted({(min(u, v), max(u, v)) for u, v in pairs})
    df = spark.createDataFrame(
        [(f"n{u}", f"n{v}") for u, v in pairs], "u string, v string"
    )
    got = {r.n: r.deg for r in kcore(df, k=k, rounds=8).collect()}
    assert got == _kcore_ref(pairs, k)


def _npmi_ref(rows):
    docs = {}
    for d, e in rows:
        docs.setdefault(d, set()).add(e)
    nd = len(docs)
    ne = {}
    for es in docs.values():
        for x in es:
            ne[x] = ne.get(x, 0) + 1
    pair = {}
    for es in docs.values():
        es = sorted(es)
        for i in range(len(es)):
            for j in range(i + 1, len(es)):
                pair[(es[i], es[j])] = pair.get((es[i], es[j]), 0) + 1
    out = {}
    for (u, v), nuv in pair.items():
        if nuv == nd:
            out[(u, v)] = (nuv, 1.0)
        else:
            out[(u, v)] = (
                nuv,
                round(
                    math.log(nuv * nd / (ne[u] * ne[v])) / math.log(nd / nuv), 6
                ),
            )
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5), st.sampled_from("abcdef")
        ),
        min_size=1,
        max_size=30,
    )
)
def test_npmi_random_corpora(spark, rows):
    m = _mentions(spark, [(f"d{d}", e) for d, e in rows])
    got = {(r.u, r.v): (r.n_uv, r.npmi) for r in npmi_edges(m).collect()}
    assert got == _npmi_ref([(f"d{d}", e) for d, e in rows])


def test_cluster_split_keeps_near_dup_families_together(spark):
    import hashlib

    from sparkrdf.curate import cluster_split

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    # ids 100/9901: near-identical texts; their RAW md5 buckets land in
    # different splits (verified below), so a naive id split would leak
    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16) % 10000

    a, b = 100, next(
        i for i in range(9900, 99999)
        if (bucket(i) >= 9800) != (bucket(100) >= 9800)
    )
    rows = [(a, base), (b, base + " extra"), (77, "totally unrelated text here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.split_key, r.split)
           for r in cluster_split(docs, threshold=0.5).collect()}
    # the family shares its canonical key (min id) and hence the split
    assert out[a] == out[b] == (a, out[a][1])
    # the loner keys by itself and gets the plain hash_split assignment
    exp = "train" if bucket(77) < 9800 else ("val" if bucket(77) < 9900 else "test")
    assert out[77] == (77, exp)


def test_path_closure_chain_and_convergence(spark, monkeypatch):
    import pytest as _pytest

    from sparkrdf import localdf
    from sparkrdf.query import path_closure

    # 5-node chain: closure = all ordered pairs (i < j), needs 3 doublings
    chain = [(f"n{i}", f"n{i+1}") for i in range(4)]
    df = spark.createDataFrame(chain, "s string, o string")
    got = {(r.s, r.o) for r in path_closure(df).collect()}
    assert got == {(f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)}
    # a cycle closes onto itself (reflexive pairs appear via the loop)
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "s string, o string")
    got = {(r.s, r.o) for r in path_closure(cyc).collect()}
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}
    # exhausted doubling bound raises instead of silently truncating
    # (SMALL_MAX = 0 forces the distributed loop the bound guards)
    deep = spark.createDataFrame(
        [(f"m{i}", f"m{i+1}") for i in range(5)], "s string, o string"
    )
    monkeypatch.setattr(localdf, "SMALL_MAX", 0)
    with _pytest.raises(RuntimeError):
        path_closure(deep, max_doubling=1)


def test_walk_skipgrams_and_negatives(spark):
    import hashlib

    from sparkrdf.graphops import negative_samples, walk_skipgrams

    # one walk a->b->c->d (steps 0..3), plus a second 1-step walk
    walks = spark.createDataFrame(
        [("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c"), ("a", 0, 3, "d"),
         ("x", 1, 0, "x"), ("x", 1, 1, "y")],
        "start string, walk_no int, step int, node string",
    )
    sg = {(r.center, r.context): r.n for r in walk_skipgrams(walks, window=2).collect()}
    # distance-1 and distance-2 pairs, both directions, no cross-walk pairs
    assert sg[("a", "b")] == 1 and sg[("b", "a")] == 1
    assert sg[("a", "c")] == 1 and ("a", "d") not in sg
    assert sg[("x", "y")] == 1 and ("a", "y") not in sg
    assert sg[("b", "c")] == sg[("b", "d")] == 1

    pairs = spark.createDataFrame([("a", "b")], "center string, context string")
    vocab = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "n string")
    neg = {r.j: r.negative for r in negative_samples(pairs, vocab, k=2, seed=7).collect()}
    exp = {
        j: sorted("abcd")[int(hashlib.md5(f"7|a|b|{j}".encode()).hexdigest()[:8], 16) % 4]
        for j in range(2)
    }
    assert neg == exp


# ---------------------------------------------------------------------------
# canonicalize_triples
# ---------------------------------------------------------------------------


def test_canonicalize_triples_transitive_merge(spark):
    from sparkrdf.extract.fuse import canonicalize_triples

    # equivalence B~A, C~B closes transitively: {A,B,C} -> canonical A (MIN)
    pairs = spark.createDataFrame(
        [("B", "A"), ("C", "B")], "id_a string, id_b string"
    )
    triples = spark.createDataFrame(
        [
            ("A", "rel", "D"),  # already canonical
            ("B", "rel", "D"),  # alias subject -> collapses into the row above
            ("C", "rel", "A"),  # both endpoints merge -> self-loop (A,rel,A)
            ("D", "rel", "E"),  # untouched by the closure
        ],
        "s string, p string, o string",
    )
    out = {(r.s, r.p, r.o) for r in canonicalize_triples(triples, pairs).collect()}
    assert out == {("A", "rel", "D"), ("A", "rel", "A"), ("D", "rel", "E")}


def test_canonicalize_triples_no_pairs_is_identity(spark):
    from sparkrdf.extract.fuse import canonicalize_triples

    pairs = spark.createDataFrame([], "id_a string, id_b string")
    triples = spark.createDataFrame(
        [("A", "rel", "B"), ("A", "rel", "B"), ("B", "rel", "C")],
        "s string, p string, o string",
    )
    out = sorted(
        (r.s, r.p, r.o) for r in canonicalize_triples(triples, pairs).collect()
    )
    assert out == [("A", "rel", "B"), ("B", "rel", "C")]  # plain distinct


# ---------------------------------------------------------------------------
# source_trust (AverageLog)
# ---------------------------------------------------------------------------


def _averagelog_reference(assertions, rounds=2):
    """Driver-side reference of the exact integer-scaled iteration."""
    a = sorted(set(assertions))
    srcs = sorted({s for s, *_ in a})
    n_claims = {s: sum(1 for x in a if x[0] == s) for s in srcs}
    facts = sorted({f[1:] for f in a})
    trust_i = {s: 10**9 for s in srcs}
    for _ in range(rounds):
        conf_i = {}
        for f in facts:
            sl = [trust_i[s] for s, *rest in a if tuple(rest) == f]
            conf_i[f] = round(round(sum(sl) / (len(sl) * 1e9), 9) * 1e9)
        new_trust = {}
        for s in srcs:
            cl = [conf_i[tuple(rest)] for s2, *rest in a if s2 == s]
            mean = sum(cl) / (len(cl) * 1e9)
            new_trust[s] = round(
                round(mean * math.log(1 + n_claims[s]), 9) * 1e9
            )
        trust_i = new_trust
    out = {}
    for f in facts:
        sl = [trust_i[s] for s, *rest in a if tuple(rest) == f]
        out[f] = (len(sl), round(sum(sl) / (len(sl) * 1e9), 9))
    return out


def test_source_trust_averagelog_known_values(spark):
    from sparkrdf.extract.fuse import source_trust

    # S1 asserts f1,f2 (prolific), S2 asserts f1 only, S3 asserts f3
    rows = [
        ("S1", "a", "p", "b"),
        ("S1", "a", "p", "c"),
        ("S2", "a", "p", "b"),
        ("S3", "x", "p", "y"),
        ("S2", "a", "p", "b"),  # duplicate assertion collapses pre-shuffle
    ]
    df = spark.createDataFrame(rows, "source string, s string, p string, o string")
    got = {
        (r.s, r.p, r.o): (r.n_src, r.conf)
        for r in source_trust(df, prov_col="source").collect()
    }
    exp = _averagelog_reference([tuple(r) for r in rows])
    assert got == exp
    # a fact backed by the prolific source AND a second source outranks the
    # single-source fact of a one-claim source
    assert got[("a", "p", "b")][1] > got[("x", "p", "y")][1]


def test_source_trust_single_source_uniform(spark):
    from sparkrdf.extract.fuse import source_trust

    # one source, two claims: both facts get identical confidence
    df = spark.createDataFrame(
        [("S", "a", "p", "b"), ("S", "c", "p", "d")],
        "source string, s string, p string, o string",
    )
    out = source_trust(df, prov_col="source").collect()
    confs = {r.conf for r in out}
    assert len(out) == 2 and len(confs) == 1


# ---------------------------------------------------------------------------
# predicate_profile / snapshot_diff / observation_ranges
# ---------------------------------------------------------------------------


def test_predicate_profile_known_values(spark):
    from sparkrdf.graphops import predicate_profile

    t = spark.createDataFrame(
        [
            ("a", "name", "x"),   # functional: every subject once
            ("b", "name", "x"),
            ("a", "knows", "b"),  # non-functional: a has fanout 2
            ("a", "knows", "c"),
            ("b", "knows", "c"),
            ("b", "knows", "c"),  # duplicate assertion collapses first
        ],
        "s string, p string, o string",
    )
    out = {r.p: r for r in predicate_profile(t).collect()}
    assert (out["name"].n_triples, out["name"].n_subj, out["name"].n_obj) == (2, 2, 1)
    assert out["name"].max_fanout == 1 and out["name"].functional
    assert (out["knows"].n_triples, out["knows"].n_subj, out["knows"].n_obj) == (3, 2, 2)
    assert out["knows"].max_fanout == 2 and not out["knows"].functional


def test_snapshot_diff_added_removed_unchanged(spark):
    from sparkrdf.compare import snapshot_diff

    old = spark.createDataFrame(
        [("a", "p", "1"), ("b", "p", "2"), ("b", "p", "2"), ("c", "p", "3")],
        "s string, p string, o string",
    )
    new = spark.createDataFrame(
        [("a", "p", "1"), ("c", "p", "3x"), ("d", "p", "4")],
        "s string, p string, o string",
    )
    out = {(r.s, r.o): r.change for r in snapshot_diff(old, new).collect()}
    assert out == {
        ("c", "3x"): "added",
        ("d", "4"): "added",
        ("b", "2"): "removed",
        ("c", "3"): "removed",
    }  # ("a","1") unchanged -> absent; old dup counted once


def test_observation_ranges(spark):
    import datetime

    from sparkrdf.eventops import observation_ranges

    ts = lambda d: datetime.datetime(2026, 1, d, 12, 0, 0)  # noqa: E731
    obs = spark.createDataFrame(
        [("e1", ts(1), "p1"), ("e1", ts(9), "p2"), ("e1", ts(5), "p1"),
         ("e2", ts(3), "p3")],
        "entity string, warc_ts timestamp, page_iri string",
    )
    out = {r.entity: r for r in observation_ranges(obs, ["entity"]).collect()}
    assert out["e1"].first_seen == ts(1) and out["e1"].last_seen == ts(9)
    assert out["e1"].n_prov == 2  # p1 seen twice counts once
    assert out["e2"].n_prov == 1


# ---------------------------------------------------------------------------
# corrupt_triples (TransE filtered negatives)
# ---------------------------------------------------------------------------


def _md5_idx(seed, s, p, o, j, n):
    import hashlib

    h = hashlib.md5(f"{seed}|{s}|{p}|{o}|{j}".encode()).hexdigest()
    return int(h[:8], 16) % n


def test_corrupt_triples_hand_computed(spark):
    from sparkrdf.graphops import corrupt_triples

    rows = [("A", "r", "B"), ("B", "r", "C")]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    vocab = sorted({"A", "B", "C"})
    out = corrupt_triples(t, k=2, seed=11, filtered=False).collect()
    assert len(out) == 4  # every (triple, j) present when unfiltered
    for r in out:
        draw = vocab[_md5_idx(11, r.s, r.p, r.o, r.j, len(vocab))]
        if r.j % 2 == 0:
            assert (r.cs, r.co) == (draw, r.o)  # subject corrupted
        else:
            assert (r.cs, r.co) == (r.s, draw)  # object corrupted


def test_corrupt_triples_filtered_drops_true_facts(spark):
    from sparkrdf.graphops import corrupt_triples

    rows = [("A", "r", "B"), ("B", "r", "C")]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    unfiltered = corrupt_triples(t, k=2, seed=11, filtered=False).collect()
    filtered = corrupt_triples(t, k=2, seed=11, filtered=True).collect()
    true_set = set(rows)
    kept = {(r.cs, r.p, r.co) for r in filtered}
    assert kept == {
        (r.cs, r.p, r.co) for r in unfiltered if (r.cs, r.p, r.co) not in true_set
    }
    assert not (kept & true_set)


# ---------------------------------------------------------------------------
# label_propagation / adamic_adar / quotient_graph
# ---------------------------------------------------------------------------


def test_label_propagation_two_communities(spark):
    from sparkrdf.graphops import label_propagation

    # two triangles joined by a single bridge edge
    edges = [("a", "b"), ("b", "c"), ("c", "a"),
             ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {r.n: r.label for r in label_propagation(df, iters=4).collect()}

    # driver-side reference: same sync update, min-label tie-break
    und = {}
    for u, v in edges:
        und.setdefault(u, set()).add(v)
        und.setdefault(v, set()).add(u)
    lbl = {n: n for n in und}
    for _ in range(4):
        new = {}
        for n, nbrs in und.items():
            counts = {}
            for z in nbrs:
                counts[lbl[z]] = counts.get(lbl[z], 0) + 1
            new[n] = min(counts, key=lambda c: (-counts[c], c))
        lbl = new
    assert got == lbl
    # and the two triangles really separate
    assert len({got[n] for n in "abc"}) == 1
    assert len({got[n] for n in "def"}) == 1


def test_adamic_adar_path_and_triangle(spark):
    import math

    from sparkrdf.graphops import adamic_adar

    # path a-b-c: only (a,c) is a non-adjacent pair with a shared neighbor
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "u string, v string")
    out = adamic_adar(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v, r.common) == ("a", "c", 1)
    assert r.jaccard == 1.0  # 1 / (1 + 1 - 1)
    assert abs(r.aa - round(1 / math.log(2), 9)) < 1e-12

    # triangle: every sharing pair is already adjacent -> empty
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "u string, v string"
    )
    assert adamic_adar(tri).count() == 0


def test_adamic_adar_hub_cap(spark):
    from sparkrdf.graphops import adamic_adar

    # star center z with 3 leaves: leaves pair only through the hub
    df = spark.createDataFrame(
        [("z", "l1"), ("z", "l2"), ("z", "l3")], "u string, v string"
    )
    assert adamic_adar(df).count() == 3
    assert adamic_adar(df, max_neighbor_degree=2).count() == 0


def test_quotient_graph_hand_computed(spark):
    from sparkrdf.graphops import quotient_graph

    t = spark.createDataFrame(
        [
            ("d1", "mentions", "e1"),
            ("d1", "mentions", "e2"),
            ("d2", "mentions", "e1"),
            ("d1", "cites", "x"),  # object not in the group map
        ],
        "s string, p string, o string",
    )
    groups = spark.createDataFrame(
        [("d1", "Doc"), ("d2", "Doc"), ("e1", "Ent"), ("e2", "Ent")],
        "n string, g string",
    )
    got = {
        (r.src_group, r.p, r.dst_group): (r.n_triples, r.n_src, r.n_dst)
        for r in quotient_graph(t, groups).collect()
    }
    assert got == {
        ("Doc", "mentions", "Ent"): (3, 2, 2),
        ("Doc", "cites", "_ungrouped"): (1, 1, 1),
    }


# ---------------------------------------------------------------------------
# bisim_signatures / sssp_bounded
# ---------------------------------------------------------------------------


def test_bisim_signatures_distinguishes_depth(spark):
    from sparkrdf.graphops import bisim_signatures

    # a -p-> b -p-> c   and   x -p-> y        (c, y are leaves)
    # depth 1: a ~ x (both have one p-edge to SOME node), b ~ y? No:
    #   b points at leaf c, y is pointed at... y -> nothing, so b ~ x?
    # depth 2 separates a (path of length 2) from x (max path 1).
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("x", "p", "y")],
        "s string, p string, o string",
    )
    s1 = {r.n: r.sig for r in bisim_signatures(t, k=1).collect()}
    # after 1 round: leaves c, y share a signature; a, b, x share one
    assert s1["c"] == s1["y"]
    assert s1["a"] == s1["x"] == s1["b"]
    assert s1["a"] != s1["c"]

    s2 = {r.n: r.sig for r in bisim_signatures(t, k=2).collect()}
    # after 2 rounds: b ~ x (edge to a leaf); a is separated (edge to a
    # node that itself has an edge)
    assert s2["b"] == s2["x"]
    assert s2["a"] != s2["b"]
    assert s2["c"] == s2["y"]


def test_bisim_signatures_symmetric_nodes_stay_merged(spark):
    from sparkrdf.graphops import bisim_signatures

    # two disjoint isomorphic triangles: all nodes equivalent at any depth
    rows = []
    for pre in ("l", "r"):
        rows += [(f"{pre}1", "p", f"{pre}2"), (f"{pre}2", "p", f"{pre}3"),
                 (f"{pre}3", "p", f"{pre}1")]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    sigs = {r.sig for r in bisim_signatures(t, k=4).collect()}
    assert len(sigs) == 1


def test_sssp_bounded_hand_computed(spark):
    from sparkrdf.graphops import sssp_bounded

    # a->b (1), b->c (1), a->c (5): shortest a->c is 2 via b
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0)],
        "u string, v string, w double",
    )
    got = {r.n: r.dist for r in sssp_bounded(e, "a", k=4).collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0}

    # k=1 can only see the direct edge
    got1 = {r.n: r.dist for r in sssp_bounded(e, "a", k=1).collect()}
    assert got1 == {"a": 0.0, "b": 1.0, "c": 5.0}


def test_sssp_bounded_rejects_negative(spark):
    import pytest

    from sparkrdf.graphops import sssp_bounded

    e = spark.createDataFrame([("a", "b", -1.0)], "u string, v string, w double")
    with pytest.raises(ValueError, match="non-negative"):
        sssp_bounded(e, "a")


def test_lp_rank_eval_matches_reference(spark):
    from sparkrdf.graphops import lp_rank_eval

    rows = [("A", "r", "B"), ("B", "r", "C"), ("A", "r", "C")]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    got = {(r.s, r.p, r.o): (r.score, r.rank, r.n_cand)
           for r in lp_rank_eval(t, k=2, seed=11).collect()}

    # driver-side reference: same draws, same popularity score, same order
    vocab = sorted({"A", "B", "C"})
    true = set(rows)
    sdeg = {"A": 2, "B": 1}
    odeg = {"B": 1, "C": 2}
    score = lambda h, tl: sdeg.get(h, 0) + odeg.get(tl, 0)  # noqa: E731
    expect = {}
    for s, p, o in rows:
        cands = []
        for j in range(2):
            draw = vocab[_md5_idx(11, s, p, o, j, 3)]
            cs, co = (draw, o) if j % 2 == 0 else (s, draw)
            if (cs, p, co) not in true:
                cands.append((cs, co))
        ps = score(s, o)
        better = sum(
            1 for cs, co in cands
            if score(cs, co) > ps or (score(cs, co) == ps and (cs, co) < (s, o))
        )
        expect[(s, p, o)] = (ps, 1 + better, 1 + len(cands))
    assert got == expect


def test_sorted_neighborhood_hand_computed(spark):
    from sparkrdf.er import sorted_neighborhood

    # sort by name: anna(1), anne(2), bob(3), carl(4), carla(5), dora(6)
    rows = [(3, "bob"), (1, "anna"), (5, "carla"), (2, "anne"),
            (6, "dora"), (4, "carl")]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r.id_a, r.id_b): r.rank_gap
           for r in sorted_neighborhood(df, ["name"], window=2).collect()}
    expect = {}
    order = [1, 2, 3, 4, 5, 6]  # ids in name order
    for i in range(6):
        for j in range(i + 1, min(i + 3, 6)):
            expect[(order[i], order[j])] = j - i
    assert got == expect


def test_sorted_neighborhood_duplicate_keys_deterministic(spark):
    from sparkrdf.er import sorted_neighborhood

    # identical sort keys: id is the tiebreak, so the pair set is stable
    df = spark.createDataFrame(
        [(i, "same") for i in range(5)], "id long, name string"
    )
    out1 = sorted(
        (r.id_a, r.id_b) for r in sorted_neighborhood(df, ["name"], window=1).collect()
    )
    out2 = sorted(
        (r.id_a, r.id_b)
        for r in sorted_neighborhood(
            df.repartition(7), ["name"], window=1
        ).collect()
    )
    assert out1 == out2 == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_clustering_coefficient_known_graph(spark):
    """Kite graph: a triangle (a,b,c) plus a pendant d-a. lcc(a)=1/3 choose?
    deg(a)=3 (b,c,d) with 1 connected neighbor pair (b,c) of 3 → 1/3;
    b,c: deg 2, pair (a,c)/(a,b) connected → 1.0; d: deg 1 → 0."""
    from sparkrdf.graphops import clustering_coefficient

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "u string, v string"
    )
    got = {r.n: (r.deg, r.tri, r.lcc) for r in clustering_coefficient(e).collect()}
    assert got == {
        "a": (3, 1, round(1 / 3, 9)),
        "b": (2, 1, 1.0),
        "c": (2, 1, 1.0),
        "d": (1, 0, 0.0),
    }


def test_clustering_coefficient_dedupes_and_orients(spark):
    """Duplicate and reversed edge rows must not inflate degrees."""
    from sparkrdf.graphops import clustering_coefficient

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "a")],
        "u string, v string",
    )
    got = {r.n: (r.deg, r.tri, r.lcc) for r in clustering_coefficient(e).collect()}
    assert got == {"a": (2, 1, 1.0), "b": (2, 1, 1.0), "c": (2, 1, 1.0)}


def test_reciprocity_directed(spark):
    from sparkrdf.graphops import reciprocity

    e = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # mutual
            ("a", "c"),                        # one-way
            ("c", "d"), ("d", "c"),          # mutual
            ("c", "c"),                        # self-loop dropped
            ("a", "b"),                        # duplicate dropped
        ],
        "u string, v string",
    )
    got = {r.n: (r.n_out, r.n_recip, r.reciprocity) for r in reciprocity(e).collect()}
    assert got == {
        "a": (2, 1, 0.5),
        "b": (1, 1, 1.0),
        "c": (1, 1, 1.0),
        "d": (1, 1, 1.0),
    }


def test_ktruss_peels_cascade_to_k4(spark):
    # K4 on a,b,c,d (every edge in 2 triangles) + a triangle strip d-e-f,
    # e-f-g hanging off it. Round 1 drops all strip edges except (e,f)
    # (support 1 < 2); round 2 drops (e,f) whose triangles are now gone —
    # the cascade that makes truss an ITERATIVE peel, not one filter.
    from sparkrdf.graphops import ktruss

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    strip = [("d", "e"), ("d", "f"), ("e", "f"), ("e", "g"), ("f", "g")]
    e = spark.createDataFrame(k4 + strip, "u string, v string")
    got = {(r.u, r.v) for r in ktruss(e, 4).collect()}
    assert got == set(k4)


def test_ktruss_undirects_and_dedupes_input(spark):
    from sparkrdf.graphops import ktruss

    # triangle given as directed duplicates both ways + a self loop
    rows = [("b", "a"), ("a", "b"), ("c", "a"), ("b", "c"), ("c", "c")]
    e = spark.createDataFrame(rows, "u string, v string")
    got = {(r.u, r.v) for r in ktruss(e, 3).collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_ktruss_k_below_3_raises(spark):
    import pytest
    from sparkrdf.graphops import ktruss

    e = spark.createDataFrame([("a", "b")], "u string, v string")
    with pytest.raises(ValueError, match="k >= 3"):
        ktruss(e, 2)


def test_ktruss_max_rounds_raises_not_truncates(spark):
    import pytest
    from sparkrdf.graphops import ktruss

    strip = [("d", "e"), ("d", "f"), ("e", "f"), ("e", "g"), ("f", "g")]
    e = spark.createDataFrame(strip, "u string, v string")
    with pytest.raises(RuntimeError, match="still peeling"):
        ktruss(e, 4, max_rounds=1)


def test_assortativity_star_is_minus_one(spark):
    from sparkrdf.graphops import assortativity

    star = spark.createDataFrame(
        [("hub", "l1"), ("hub", "l2"), ("hub", "l3")], "u string, v string"
    )
    row = assortativity(star).collect()[0]
    assert row.n_edges == 3
    assert row.assortativity == -1.0


def test_assortativity_regular_graph_is_null(spark):
    from sparkrdf.graphops import assortativity

    c4 = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], "u string, v string"
    )
    row = assortativity(c4).collect()[0]
    assert row.n_edges == 4
    assert row.assortativity is None  # zero degree variance


def test_coreness_k4_with_pendant_chain(spark):
    from sparkrdf.graphops import coreness

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    chain = [("d", "e"), ("e", "f")]  # pendant path off the clique
    e = spark.createDataFrame(k4 + chain, "u string, v string")
    got = {r.n: r.coreness for r in coreness(e).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1}


def test_coreness_triangle_with_pendant(spark):
    from sparkrdf.graphops import coreness

    e = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("x", "z"), ("z", "p")], "u string, v string"
    )
    got = {r.n: r.coreness for r in coreness(e).collect()}
    assert got == {"x": 2, "y": 2, "z": 2, "p": 1}


def test_coreness_max_rounds_raises(spark):
    import pytest
    from sparkrdf.graphops import coreness

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "u string, v string"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        coreness(e, max_rounds=1)


def test_coreness_vs_peeling_reference_fuzz(spark):
    """Property: the distributed h-index iteration agrees with the
    sequential Matula–Beck min-degree peel on random small graphs."""
    from collections import defaultdict

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sparkrdf.graphops import coreness

    nodes_v = list("abcdefgh")
    edge = st.tuples(st.sampled_from(nodes_v), st.sampled_from(nodes_v))

    def core_ref(edges):
        adj = defaultdict(set)
        for u, v in edges:
            if u != v:
                adj[u].add(v)
                adj[v].add(u)
        deg = {n: len(ns) for n, ns in adj.items()}
        core, k = {}, 0
        while deg:
            v = min(deg, key=lambda n: (deg[n], n))
            k = max(k, deg[v])
            core[v] = k
            for w in adj[v]:
                if w in deg and w != v:
                    deg[w] -= 1
            del deg[v]
        return core

    @given(st.lists(edge, min_size=1, max_size=14, unique=True))
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(edges):
        if not any(u != v for u, v in edges):
            return
        df = spark.createDataFrame(edges, "u string, v string")
        got = {r.n: r.coreness for r in coreness(df).collect()}
        assert got == core_ref(edges)

    check()


def test_scc_hand_graphs(spark):
    """Forward-Backward-Trim SCC (graphops.scc) on hand graphs: two
    cycles joined by a bridge, tendrils, a pure chain (all singletons),
    and nested cycles sharing a node (one SCC)."""
    from sparkrdf.graphops import scc

    def run(edges):
        df = spark.createDataFrame(edges, "u string, v string")
        return {r.n: r.scc for r in scc(df).collect()}

    out = run([("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
               ("d", "e"), ("e", "d"), ("e", "f"), ("g", "h")])
    assert out["a"] == out["b"] == out["c"] == "a"
    assert out["d"] == out["e"] == "d"
    assert out["f"] == "f" and out["g"] == "g" and out["h"] == "h"
    assert len(out) == 8

    # pure chain: every node its own SCC (trim peels everything)
    chain = run([("a", "b"), ("b", "c"), ("c", "d")])
    assert chain == {"a": "a", "b": "b", "c": "c", "d": "d"}

    # two cycles sharing a node form ONE SCC (mutual through the shared
    # node); self-loops are ignored
    shared = run([("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
                  ("c", "c"), ("d", "a")])
    assert shared["a"] == shared["b"] == shared["c"] == "a"
    assert shared["d"] == "d"


def test_scc_directed_vs_wcc(spark):
    """A directed 2-path is ONE weak component but TWO SCCs — the
    direction-sensitivity gate."""
    from sparkrdf.dedupe import connected_components
    from sparkrdf.graphops import scc

    df = spark.createDataFrame([("a", "b")], "u string, v string")
    s = {r.n: r.scc for r in scc(df).collect()}
    assert s == {"a": "a", "b": "b"}
    w = {r.node for r in connected_components(
        df.selectExpr("u as id_a", "v as id_b")).collect()}
    assert w == {"a", "b"}  # one component, two nodes


def test_skolemize_round_trip(spark):
    """terms.skolemize/deskolemize (rdflib Graph.skolemize parity, RDF
    1.1 §3.5): bnodes become /.well-known/genid/ IRIs and back exactly;
    foreign IRIs, literals and named graphs pass through untouched."""
    from sparkrdf.terms import deskolemize, skolemize
    from sparkrdf.ttl import parse_ttl, statements_df

    rows = parse_ttl(
        """
        @prefix ex: <http://e.com/> .
        ex:a ex:p _:x .
        _:x ex:q "v"@en .
        ex:a ex:r ex:b .
        ex:g { _:y ex:s "w" . }
        """
    )
    df = statements_df(spark, rows)
    sk = skolemize(df, authority="https://auth.example")
    got = [tuple(r) for r in sk.collect()]
    assert all(r[0] != "BNode" and r[3] != "BNode" for r in got)
    assert any(
        r[4] == "https://auth.example/.well-known/genid/l_x" for r in got)
    # named-graph bnode skolemized too, graph column untouched
    assert any(r[7] == "http://e.com/g" and
               r[1].startswith("https://auth.example/.well-known/genid/")
               for r in got)
    back = sorted(tuple(r) for r in deskolemize(
        sk, authority="https://auth.example").collect())
    assert back == sorted(rows)
    # a foreign authority's skolem IRIs are NOT deskolemized
    other = deskolemize(sk, authority="https://other.example")
    assert all(r.s_kind != "BNode" for r in other.collect())


def test_neighborhood_function_exact_and_hyperball(spark):
    """graphops.neighborhood_function: the exact frontier-BFS mode on a
    hand graph (path + 2-cycle), and the HyperBall sketch mode pinned
    within HLL tolerance of it — the two-mode discipline the oracle and
    the scale path share."""
    from sparkrdf.graphops import neighborhood_function

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("f", "e")],
        "u string, v string")
    ex = {r.t: r.pairs for r in
          neighborhood_function(df, exact=True).collect()}
    # t0: 6 self-pairs; t1: +5 edges; t2: +a→c, b→d; t3: +a→d
    assert ex == {0: 6, 1: 11, 2: 13, 3: 14}
    hl = {r.t: r.pairs for r in
          neighborhood_function(df, exact=False).collect()}
    assert set(hl) == set(ex)
    for t, v in ex.items():
        assert abs(hl[t] - v) <= max(1, 0.1 * v)
    # early stop: max_t far beyond saturation adds no rows
    assert max(ex) == 3


def test_harmonic_centrality_exact_and_hyperball(spark):
    """graphops.harmonic_centrality: exact in-distance reciprocals on a
    hand graph, HyperBall mode within HLL tolerance, unreached nodes
    score 0.0 in both modes."""
    from sparkrdf.graphops import harmonic_centrality

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("f", "e")],
        "u string, v string")
    ex = {r.n: r.centrality for r in
          harmonic_centrality(df, exact=True).collect()}
    assert ex["a"] == 0.0          # nothing reaches a
    assert ex["b"] == 1.0          # a at d=1
    assert ex["c"] == 1.5          # b@1, a@2
    assert abs(ex["d"] - (1 + 0.5 + 1 / 3)) < 1e-6
    assert ex["e"] == 1.0 and ex["f"] == 1.0
    hl = {r.n: r.centrality for r in
          harmonic_centrality(df, exact=False).collect()}
    assert set(hl) == set(ex)
    for n, v in ex.items():
        assert abs(hl[n] - v) <= 0.15 * v + 0.01


def test_personalized_pagerank(spark):
    """graphops.personalized_pagerank: mass conserved, unreachable
    islands score exactly 0, seeds dominate, empty seed set raises."""
    import pytest as _pytest

    from sparkrdf.graphops import personalized_pagerank

    df = spark.createDataFrame(
        [("s", "a", 1), ("s", "b", 1), ("x", "y", 1)],
        "u string, v string, w int")
    seeds = spark.createDataFrame([("s",)], "n string")
    out = {r.n: r.pr for r in personalized_pagerank(
        df, seeds, src="u", dst="v", weight="w").collect()}
    assert out["x"] == 0.0 and out["y"] == 0.0
    assert out["s"] > out["a"] == out["b"] > 0
    assert abs(sum(out.values()) - 1.0) < 1e-6
    with _pytest.raises(ValueError, match="seed"):
        personalized_pagerank(
            df, spark.createDataFrame([("zz",)], "n string"),
            src="u", dst="v", weight="w")


def test_node2vec_walks(spark):
    """graphops.node2vec_walks: every hop follows a real edge, the corpus
    is deterministic, and an extreme return weight forces the step-2
    oscillation node2vec's p parameter controls."""
    from collections import defaultdict

    from sparkrdf.graphops import node2vec_walks

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("a", "c"), ("c", "b")]
    df = spark.createDataFrame(edges, "u string, v string")

    def seqs(rows):
        w = defaultdict(dict)
        for r in rows:
            w[(r.start, r.walk_no)][r.step] = r.node
        return {k: [v[i] for i in sorted(v)] for k, v in w.items()}

    out = node2vec_walks(df, walk_len=3, walks_per_node=2).collect()
    E = set(edges)
    walks = seqs(out)
    assert len(walks) == 6
    for (start, _), seq in walks.items():
        assert seq[0] == start
        assert all((a, b) in E for a, b in zip(seq, seq[1:]))
    assert sorted(map(tuple, out)) == sorted(
        map(tuple, node2vec_walks(df, walk_len=3, walks_per_node=2).collect()))

    biased = seqs(node2vec_walks(
        df, walk_len=2, walks_per_node=1,
        w_return=10**6, w_common=1, w_far=1).collect())
    for seq in biased.values():
        assert seq[0] == seq[2]  # always returns to the previous node

    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-negative integer"):
        node2vec_walks(df, w_return=0.5)


def test_betweenness_brandes(spark):
    """graphops.betweenness: directed path (interior nodes carry the
    through-pair counts), diamond (split dependency 0.5/0.5), and the
    md5 source-sampling restriction."""
    from sparkrdf.graphops import betweenness

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "u string, v string")
    out = {r.n: r.betweenness for r in betweenness(path).collect()}
    assert out == {"b": 2.0, "c": 2.0, "d": 0.0}

    diamond = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "u string, v string")
    out = {r.n: r.betweenness for r in betweenness(diamond).collect()}
    assert out["b"] == 0.5 and out["c"] == 0.5 and out["d"] == 0.0

    # depth cap: max_t=1 sees no 2-hop pairs — all dependencies 0
    out = {r.n: r.betweenness for r in betweenness(path, max_t=1).collect()}
    assert set(out.values()) == {0.0}

    # source sampling is deterministic and a subset of the full run
    full = betweenness(path, source_mod=1).collect()
    samp = betweenness(path, source_mod=2).collect()
    assert {tuple(r) for r in samp} == {
        tuple(r) for r in betweenness(path, source_mod=2).collect()}
    assert len(samp) <= len(full)


def test_closeness_centrality(spark):
    """graphops.closeness_centrality: Wasserman-Faust normalization on a
    path + 2-cycle hand graph; sinks score 0."""
    from sparkrdf.graphops import closeness_centrality

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("f", "e")],
        "u string, v string")
    out = {r.n: r.closeness for r in closeness_centrality(df).collect()}
    assert abs(out["a"] - 0.3) < 1e-6        # (3/5)·(3/6)
    assert abs(out["b"] - 0.266667) < 1e-6   # (2/5)·(2/3)
    assert out["c"] == 0.2 and out["d"] == 0.0
    assert out["e"] == 0.2 and out["f"] == 0.2


def test_effective_diameter_interpolation(spark):
    """graphops.effective_diameter: linear interpolation at the 90%
    pair-coverage point of the neighborhood function."""
    import pytest as _pytest

    from sparkrdf.graphops import effective_diameter, neighborhood_function

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("f", "e")],
        "u string, v string")
    nf = neighborhood_function(df, exact=True)
    # pairs 6/11/13/14 → target 12.6 lands between t=1 and t=2 at 1.8
    assert abs(effective_diameter(nf) - 1.8) < 1e-9
    assert effective_diameter(nf, alpha=0.2) == 0.0  # t=0 already covers
    with _pytest.raises(ValueError, match="empty"):
        effective_diameter(nf.filter("t < 0"))


def test_scc_empty_and_self_loop_only_edges(spark):
    """Review fix: an edge set that is empty after self-loop filtering
    returns an empty (n, scc) frame instead of crashing."""
    from sparkrdf.graphops import scc

    empty = spark.createDataFrame([], "u string, v string")
    out = scc(empty)
    assert out.columns == ["n", "scc"] and out.count() == 0
    loops = spark.createDataFrame([("a", "a")], "u string, v string")
    assert scc(loops).count() == 0


# ---------------------------------------------------------------------------
# driver/distributed parity of every operator behind localdf.collect_if_small
# ---------------------------------------------------------------------------

# hand shapes, each prefixed by its index so their union is disjoint
_GATE_SHAPES = [
    # two cycles joined by a bridge, a tail, an isolated pair
    [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
     ("d", "e"), ("e", "d"), ("e", "f"), ("g", "h")],
    # 4-cycle with a chord
    [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
    # hub
    [("h", "x1"), ("h", "x2"), ("h", "x3"), ("x1", "x2"), ("x2", "x3")],
    # bow-tie: IN tendril -> core cycle -> OUT tendril
    [("i1", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c1"),
     ("c2", "o1"), ("o1", "o2")],
    # two cycles sharing a node, a self-loop, a feeder
    [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "c"), ("d", "a")],
    # chain, diamond
    [(f"n{i}", f"n{i+1}") for i in range(6)]
    + [("r", "a"), ("r", "b"), ("a", "c"), ("b", "c")],
]
# NULL endpoints: on a cycle, and as the only neighbour of z
_GATE_NULLS = [("a", "b"), ("b", "c"), ("c", "a"), (None, "a"), ("b", None),
               ("z", None), (None, None)]


def _gate_edges():
    edges = [(f"{k}{u}", f"{k}{v}") for k, shape in enumerate(_GATE_SHAPES)
             for u, v in shape]
    return edges + [(u and f"9{u}", v and f"9{v}") for u, v in _GATE_NULLS]


def _gate_op(spark, name):
    from sparkrdf import terms as T
    from sparkrdf import graphops as G
    from sparkrdf.dedupe import connected_components
    from sparkrdf.query import path_closure
    from sparkrdf.reason import owl_materialize

    def uv(rows):
        return spark.createDataFrame(rows, "u string, v string")

    def weighted(rows):
        return spark.createDataFrame(
            [(u, v, 1 + i % 3) for i, (u, v) in enumerate(rows)],
            "src_host string, dst_host string, n_links long")

    def owl(rows):
        t = spark.createDataFrame(
            [(u, "p", v) for u, v in rows]
            + [("a", "q", "b"), ("b", "q", "c"), ("x", "r", "y")],
            "s string, p string, o string")
        onto = spark.createDataFrame(
            [("p", T.RDF_TYPE, T.OWL_TRANSITIVE),
             ("q", T.RDF_TYPE, T.OWL_TRANSITIVE)],
            "s string, p string, o string")
        return owl_materialize(t, onto)

    seeds = spark.createDataFrame([("0a",), ("5r",), (None,)], "n string")
    return {
        "pagerank": lambda r: G.pagerank(uv(r)),
        "pagerank_directed": lambda r: G.pagerank_directed(weighted(r)),
        "personalized_pagerank": lambda r: G.personalized_pagerank(
            weighted(r), seeds),
        "kcore": lambda r: G.kcore(uv(r), 2),
        "label_propagation": lambda r: G.label_propagation(uv(r), iters=4),
        "ktruss": lambda r: G.ktruss(uv(r), 3),
        "coreness": lambda r: G.coreness(uv(r)),
        "scc": lambda r: G.scc(uv(r)),
        "neighborhood_function": lambda r: G.neighborhood_function(
            uv(r), max_t=3, exact=True),
        "harmonic_centrality": lambda r: G.harmonic_centrality(
            uv(r), max_t=3, exact=True),
        "closeness_centrality": lambda r: G.closeness_centrality(uv(r), max_t=3),
        "betweenness": lambda r: G.betweenness(uv(r), max_t=3, source_mod=2),
        "node2vec_walks": lambda r: G.node2vec_walks(
            uv(r), walk_len=3, walks_per_node=2),
        "connected_components": lambda r: connected_components(
            uv(r).selectExpr("u as id_a", "v as id_b")),
        "path_closure": lambda r: path_closure(
            uv(r).selectExpr("u as s", "v as o")),
        "owl_materialize": owl,
    }[name]


def _outcome(run, rows):
    """Sorted result rows, or the exception type when the operator raises
    (personalized_pagerank raises ValueError when no seed is a vertex)."""
    from sparkrdf.localdf import nulls_first

    try:
        return sorted((tuple(r) for r in run(rows).collect()), key=nulls_first)
    except Exception as exc:  # noqa: BLE001 — compared, not swallowed
        return type(exc).__name__


@pytest.mark.parametrize("name", [
    "pagerank", "pagerank_directed", "personalized_pagerank", "kcore",
    "label_propagation", "ktruss", "coreness", "scc", "neighborhood_function",
    "harmonic_centrality", "closeness_centrality", "betweenness",
    "node2vec_walks", "connected_components", "path_closure",
    "owl_materialize",
])
def test_driver_gate_parity(spark, monkeypatch, name):
    """Every operator behind ``localdf.collect_if_small`` returns the same
    row values from its driver loop and from its distributed loop
    (``SMALL_MAX = 0``): on one graph holding the hand shapes and NULL
    endpoints, and on an empty edge list. Every operator returns rows on
    both; only personalized_pagerank raises on the empty list, its
    documented "no seed in the graph" ValueError."""
    from sparkrdf import localdf

    run = _gate_op(spark, name)
    for rows in (_gate_edges(), []):
        driver = _outcome(run, rows)
        with monkeypatch.context() as m:
            m.setattr(localdf, "SMALL_MAX", 0)
            distributed = _outcome(run, rows)
        assert driver == distributed, (name, len(rows))
        if rows == [] and name == "personalized_pagerank":
            assert driver == "ValueError", driver
        else:
            assert isinstance(driver, list), driver
        if name == "owl_materialize" and rows:
            assert ("0a", "p", "0a") in driver  # a cycle closes reflexively
            assert ("a", "q", "c") in driver
            assert ("x", "r", "y") in driver and ("x", "r", "x") not in driver
