"""Minimal Turtle / TriG reader → statement rows.

rdflib is not available in this environment, so we parse the (tiny) RDF
fixture files ourselves.  This is a fixtures-only component — the production
input of the engine is the Common-Crawl-style pages table, not RDF files
(SURVEY.md §2.1 S1).  Scope: the subset of Turtle/TriG used by the reference's
test corpus (prefixes, prefixed names, IRIs, literals with lang/datatype,
numeric/boolean shorthand, ';'/',' lists, blank-node labels and anonymous
property lists, RDF collections, TriG named graphs, comments, long strings),
plus RDF-star quoted triples ``<< s p o >>`` and annotation blocks
``{| p o |}``, mapped to the reference's reified-statement model (the
RDF-star CG "unstar" mapping) so they flow through reify.flatten_reified.

Output row schema (one row per statement — SURVEY.md §1.5):
    (s_kind, s, p, o_kind, o, o_lang, o_datatype, sub_graph)
with kinds in {"URIRef", "BNode", "Literal"}.  Blank-node labels are
deterministic per-parse (file-scoped), unlike rdflib's randomized ids — key
stability for BNodes is *within* a run on both sides, which is the only
guarantee the reference's tests rely on (counts + round-trip diff, never
BNode key values).
"""

from __future__ import annotations

import re

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><(?:[^<>"{}|^`\\\s]|\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8})*>)
    | (?P<long_str>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
    | (?P<str>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<lang>@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*)
    | (?P<dtsep>\^\^)
    | (?P<blank>_:[\w\-.]*[\w\-])
    | (?P<qt><<|>>)
    | (?P<ann>\{\||\|\})
    | (?P<num>[+-]?(?:\d+\.\d+(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+|\d+))
    | (?P<pname>(?:[A-Za-z_][\w\-.]*)?:(?:[\w\-%](?:[\w\-.%]*[\w\-%])?)?)
    | (?P<kw>@?[A-Za-z]+)
    | (?P<punct>[.;,\[\]\(\){}])
    """,
    re.VERBOSE,
)

_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n == "u":
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            if n == "U":
                out.append(chr(int(s[i + 2 : i + 10], 16)))
                i += 10
                continue
            out.append(_ESCAPES.get(n, n))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


class _Tok:
    __slots__ = ("kind", "val")

    def __init__(self, kind: str, val: str):
        self.kind = kind
        self.val = val

    def __repr__(self):  # pragma: no cover
        return f"{self.kind}:{self.val!r}"


def _tokenize(text: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"ttl tokenize error at {pos}: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        toks.append(_Tok(kind, m.group()))
    return toks


# term tuples: ("URIRef", iri) | ("BNode", label) | ("Literal", lex, lang, dt)


class TurtleParser:
    def __init__(self, text: str, bnode_prefix: str = "b"):
        self.toks = _tokenize(text)
        self.i = 0
        # well-known prefixes pre-bound (fixture files occasionally use them
        # without declaration); @prefix/PREFIX declarations override.
        self.prefixes: dict[str, str] = {
            "rdf": RDF_NS,
            "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
            "owl": "http://www.w3.org/2002/07/owl#",
            "xsd": XSD,
            "adb": "http://www.arangodb.com/",
        }
        self.declared_prefixes: dict[str, str] = {}
        self.base = ""
        self.bnode_n = 0
        self.bnode_prefix = bnode_prefix
        self.rows: list[tuple] = []
        self.graph: str | None = None  # current named graph (TriG)
        # RDF-star: quoted triple (s, p, o) -> its reification node. Quoted
        # triples are TERMS (referentially transparent), so every occurrence
        # of the same triple maps to ONE node and one reification quad.
        self.qt_nodes: dict[tuple, tuple] = {}
        self.qt_emitted: set[tuple] = set()  # (graph, quoted-triple) quads emitted

    # -- token helpers ------------------------------------------------------
    def _peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> _Tok:
        if self.i >= len(self.toks):
            raise ValueError("unexpected end of input (truncated Turtle/TriG document)")
        t = self.toks[self.i]
        self.i += 1
        return t

    def _expect(self, val: str):
        t = self._next()
        if t.val != val:
            raise ValueError(f"expected {val!r}, got {t!r} @tok{self.i}")

    def _new_bnode(self) -> tuple:
        self.bnode_n += 1
        return ("BNode", f"{self.bnode_prefix}{self.bnode_n}")

    # -- emit ---------------------------------------------------------------
    def _emit(self, s, p, o):
        if o[0] == "Literal":
            row = (s[0], s[1], p[1], "Literal", o[1], o[2], o[3], self.graph)
        else:
            row = (s[0], s[1], p[1], o[0], o[1], None, None, self.graph)
        self.rows.append(row)

    # -- grammar ------------------------------------------------------------
    def parse(self) -> list[tuple]:
        while self._peek() is not None:
            t = self._peek()
            v = t.val
            low = v.lower()
            if low in ("@prefix", "prefix"):
                self._next()
                pn = self._next().val
                iri = self._next().val
                self.prefixes[pn[:-1]] = self._resolve_iri_token(iri)
                self.declared_prefixes[pn[:-1]] = self.prefixes[pn[:-1]]
                if self._peek() and self._peek().val == ".":
                    self._next()
            elif low in ("@base", "base"):
                self._next()
                self.base = self._resolve_iri_token(self._next().val)
                if self._peek() and self._peek().val == ".":
                    self._next()
            elif low == "graph":
                self._next()
                self._parse_named_graph(self._parse_term())
            elif v in ("[", "("):
                self._parse_triples()
                self._expect(".")
            else:
                # could be: TriG "<label> { ... }"  or a plain triple block
                start = self.i
                subj = self._parse_term()
                if self._peek() and self._peek().val == "{":
                    self._parse_named_graph(subj)
                else:
                    self.i = start
                    self._parse_triples()
                    self._expect(".")
        return self.rows

    def _parse_named_graph(self, label):
        self._expect("{")
        prev = self.graph
        self.graph = label[1] if label[0] == "URIRef" else None
        while self._peek() and self._peek().val != "}":
            self._parse_triples()
            if self._peek() and self._peek().val == ".":
                self._next()
        self._expect("}")
        self.graph = prev

    def _parse_triples(self):
        t = self._peek()
        if t.val == "[":
            subj = self._parse_bnode_property_list()
            if self._peek() and self._peek().val not in (".", "}"):
                self._parse_predicate_object_list(subj)
        elif t.val == "(":
            subj = self._parse_collection()
            self._parse_predicate_object_list(subj)
        else:
            subj = self._parse_term()
            self._parse_predicate_object_list(subj)

    def _parse_predicate_object_list(self, subj):
        while True:
            p = self._parse_predicate()
            while True:
                o = self._parse_object()
                self._emit(subj, p, o)
                # RDF-star annotation syntax: `s p o {| p2 o2 ; ... |}` —
                # the triple is ASSERTED (emitted above) and the annotation
                # block's statements hang off its quoted-triple node.
                if self._peek() and self._peek().val == "{|":
                    self._next()
                    qnode = self._quoted_node(subj, p, o)
                    self._parse_predicate_object_list(qnode)
                    self._expect("|}")
                if self._peek() and self._peek().val == ",":
                    self._next()
                    continue
                break
            if self._peek() and self._peek().val == ";":
                self._next()
                # tolerate trailing ';' before '.' or '}' or ']' or '|}'
                if self._peek() and self._peek().val in (".", "]", "}", "|}"):
                    break
                continue
            break

    def _parse_predicate(self) -> tuple:
        t = self._peek()
        if t.kind == "kw" and t.val == "a":
            self._next()
            return ("URIRef", RDF_TYPE)
        term = self._parse_term()
        if term[0] != "URIRef":
            raise ValueError(f"predicate must be IRI, got {term}")
        return term

    def _parse_object(self) -> tuple:
        t = self._peek()
        if t.val == "[":
            return self._parse_bnode_property_list()
        if t.val == "(":
            return self._parse_collection()
        return self._parse_term()

    def _parse_bnode_property_list(self) -> tuple:
        self._expect("[")
        node = self._new_bnode()
        if self._peek() and self._peek().val != "]":
            self._parse_predicate_object_list(node)
        self._expect("]")
        return node

    def _parse_collection(self) -> tuple:
        self._expect("(")
        items = []
        while self._peek() and self._peek().val != ")":
            items.append(self._parse_object())
        self._expect(")")
        if not items:
            return ("URIRef", RDF_NIL)
        head = self._new_bnode()
        cur = head
        for idx, item in enumerate(items):
            self._emit(cur, ("URIRef", RDF_FIRST), item)
            if idx == len(items) - 1:
                self._emit(cur, ("URIRef", RDF_REST), ("URIRef", RDF_NIL))
            else:
                nxt = self._new_bnode()
                self._emit(cur, ("URIRef", RDF_REST), nxt)
                cur = nxt
        return head

    def _resolve_iri_token(self, tok: str) -> str:
        iri = _unescape(tok[1:-1])
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri):
            return self.base + iri
        return iri

    def _expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"unknown prefix {pfx!r} in {pname!r}")
        return self.prefixes[pfx] + local.replace("\\", "")

    def _parse_quoted_triple_body(self) -> tuple:
        """RDF-star quoted triple ``<< s p o >>`` (the ``<<`` token is
        already consumed). Maps to the reference's reified-statement model
        (the CG spec's unstar mapping): one deterministic node carrying
        ``rdf:type rdf:Statement`` + ``rdf:subject/predicate/object``, which
        sparkrdf.reify.flatten_reified later collapses to an edge — quoted
        triples ride the SAME pipeline the reference's reification tests
        exercise (arango_rdf/main.py:3426-3529 semantics)."""
        s = self._parse_object()
        if s[0] == "Literal":
            raise ValueError(f"quoted-triple subject cannot be a literal @tok{self.i}")
        p = self._parse_predicate()
        o = self._parse_object()
        t = self._next()
        if not (t.kind == "qt" and t.val == ">>"):
            raise ValueError(f"expected '>>', got {t!r} @tok{self.i}")
        return self._quoted_node(s, p, o)

    def _quoted_node(self, s, p, o) -> tuple:
        # one reification NODE per quoted triple document-wide (so two
        # annotations of the same quoted triple share a subject), but the
        # four defining quads are (re-)emitted into EVERY named graph the
        # quoted triple appears in — otherwise an annotation inside a later
        # TriG graph would reference a bnode whose definition lives only in
        # the first graph seen
        key = (s, p, o)
        node = self.qt_nodes.get(key)
        if node is None:
            node = self._new_bnode()
            self.qt_nodes[key] = node
        gkey = (self.graph, key)
        if gkey not in self.qt_emitted:
            self.qt_emitted.add(gkey)
            self._emit(node, ("URIRef", RDF_TYPE), ("URIRef", RDF_NS + "Statement"))
            self._emit(node, ("URIRef", RDF_NS + "subject"), s)
            self._emit(node, ("URIRef", RDF_NS + "predicate"), p)
            self._emit(node, ("URIRef", RDF_NS + "object"), o)
        return node

    def _parse_term(self) -> tuple:
        t = self._next()
        if t.kind == "qt" and t.val == "<<":
            return self._parse_quoted_triple_body()
        if t.kind == "iri":
            return ("URIRef", self._resolve_iri_token(t.val))
        if t.kind == "pname":
            return ("URIRef", self._expand_pname(t.val))
        if t.kind == "blank":
            return ("BNode", "l_" + t.val[2:])
        if t.kind in ("str", "long_str"):
            lex = _unescape(t.val[3:-3] if t.kind == "long_str" else t.val[1:-1])
            lang = dt = None
            nxt = self._peek()
            if nxt and nxt.kind == "lang":
                lang = self._next().val[1:]
            elif nxt and nxt.kind == "dtsep":
                self._next()
                dtt = self._next()
                dt = (
                    self._resolve_iri_token(dtt.val)
                    if dtt.kind == "iri"
                    else self._expand_pname(dtt.val)
                )
            return ("Literal", lex, lang, dt)
        if t.kind == "num":
            v = t.val
            if re.search(r"[eE]", v):
                dt = XSD + "double"
            elif "." in v:
                dt = XSD + "decimal"
            else:
                dt = XSD + "integer"
            return ("Literal", v, None, dt)
        if t.kind == "kw" and t.val in ("true", "false"):
            return ("Literal", t.val, None, XSD + "boolean")
        raise ValueError(f"unexpected term token {t!r} @tok{self.i}")


STATEMENT_COLUMNS = ["s_kind", "s", "p", "o_kind", "o", "o_lang", "o_datatype", "sub_graph"]


def parse_ttl(text: str, bnode_prefix: str = "b") -> list[tuple]:
    """Parse Turtle/TriG text → list of statement rows (STATEMENT_COLUMNS)."""
    return TurtleParser(text, bnode_prefix=bnode_prefix).parse()


def parse_ttl_with_prefixes(
    text: str, bnode_prefix: str = "b"
) -> tuple[list[tuple], dict[str, str]]:
    """Like parse_ttl but also returns the declared prefix bindings (for the
    namespaces sink — reference main.py:1178-1193)."""
    p = TurtleParser(text, bnode_prefix=bnode_prefix)
    rows = p.parse()
    return rows, dict(p.declared_prefixes)


def namespaces_df(spark, prefixes: dict[str, str]):
    """(prefix, uri, _key=farmhash(uri)) rows — the reference's namespaces
    collection (main.py:1178-1193)."""
    from sparkrdf.hashing import farmhash_key
    from sparkrdf.localdf import local_rows_df

    rows = [(p, u, farmhash_key(u)) for p, u in sorted(prefixes.items())]
    return local_rows_df(spark, rows, "prefix string, uri string, _key string")


def parse_ttl_file(path: str, bnode_prefix: str | None = None) -> list[tuple]:
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if bnode_prefix is None:
        base = re.sub(r"\W+", "_", path.rsplit("/", 1)[-1].rsplit(".", 1)[0])
        bnode_prefix = f"{base}_b"
    return parse_ttl(text, bnode_prefix=bnode_prefix)


def statements_df(spark, rows: list[tuple]):
    """Statement rows → Spark DataFrame with the canonical schema."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField(c, StringType(), True) for c in STATEMENT_COLUMNS])
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Serialization (writer side — the reference delegates to rdflib's
# `Graph.serialize`; main.py binds prefixes at 332-333/382-388 before it)
# ---------------------------------------------------------------------------

_NT_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _esc_literal(v: str) -> str:
    return "".join(_NT_ESCAPES.get(ch, ch) for ch in v)


def _term_nt(kind, value, lang=None, datatype=None) -> str:
    if kind == "URIRef":
        return f"<{value}>"
    if kind == "BNode":
        return f"_:{value}"
    lit = f'"{_esc_literal(value)}"'
    if lang:
        return f"{lit}@{lang}"
    if datatype:
        return f"{lit}^^<{datatype}>"
    return lit


def nquads_lines(stmts) -> "DataFrame":
    """Statements DataFrame → one N-Quads line per row (``value`` column).

    Line-oriented with no document-level state (no prefix header), so the
    output can be written DISTRIBUTED — ``nquads_lines(df).write.text(path)``
    scales to any size with one narrow projection and zero shuffles; every
    part-file is a valid N-Quads document. This is the scale-path writer;
    :func:`serialize_turtle` is the driver-side pretty form."""
    from pyspark.sql import functions as F

    from sparkrdf.session import ensure_pyfiles

    # the render UDF closes over module-level _term_nt — ship the package so
    # executors not launched with --py-files can unpickle it
    ensure_pyfiles(stmts.sparkSession)

    @F.pandas_udf("string")
    def render(s_kind, s, p, o_kind, o, o_lang, o_dt, sub_graph):
        import pandas as pd

        out = []
        for sk, sv, pv, ok, ov, ol, od, sg in zip(
            s_kind, s, p, o_kind, o, o_lang, o_dt, sub_graph
        ):
            line = (
                f"{_term_nt(sk, sv)} <{pv}> "
                f"{_term_nt(ok, ov, ol, od)}"
            )
            if sg:
                line += f" <{sg}>"
            out.append(line + " .")
        return pd.Series(out)

    return stmts.select(
        render(
            "s_kind", "s", "p", "o_kind", "o", "o_lang", "o_datatype", "sub_graph"
        ).alias("value")
    )


def write_nquads(stmts, path: str) -> None:
    """Distributed N-Quads writer (see :func:`nquads_lines`)."""
    nquads_lines(stmts).write.mode("overwrite").text(path)


def parse_nquads(text: str) -> list[tuple]:
    """Parse N-Quads / N-Triples text → statement rows (STATEMENT_COLUMNS).

    The reading twin of :func:`nquads_lines` / :func:`write_nquads`.
    N-Quads is NOT a TriG subset — a bare 4th graph term after the object
    is invalid TriG, so :func:`parse_ttl` rejects it; this reader accepts
    both 3-term (N-Triples) and 4-term statements.  Blank-node labels are
    kept VERBATIM (``nquads_lines`` writes stored labels verbatim, so the
    write→read pair is the identity; unlike Turtle, N-Quads has no
    anonymous bnodes for labels to collide with); IRIs/literals unescape
    ``\\uXXXX``.
    """
    toks = _tokenize(text)
    i = 0
    rows: list[tuple] = []

    def term() -> tuple:
        nonlocal i
        if i >= len(toks):
            raise ValueError("nquads: unexpected end of input")
        t = toks[i]
        i += 1
        if t.kind == "iri":
            return ("URIRef", _unescape(t.val[1:-1]))
        if t.kind == "blank":
            return ("BNode", t.val[2:])
        if t.kind == "str":
            lex = _unescape(t.val[1:-1])
            lang = dt = None
            if i < len(toks) and toks[i].kind == "lang":
                lang = toks[i].val[1:]
                i += 1
            elif i < len(toks) and toks[i].kind == "dtsep":
                i += 1
                if i >= len(toks) or toks[i].kind != "iri":
                    raise ValueError("nquads: ^^ must be followed by an IRI")
                dt = _unescape(toks[i].val[1:-1])
                i += 1
            return ("Literal", lex, lang, dt)
        raise ValueError(f"nquads: unexpected token {t!r}")

    while i < len(toks):
        s = term()
        p = term()
        o = term()
        g = None
        if i < len(toks) and toks[i].val != ".":
            gt = term()
            if gt[0] == "Literal":
                raise ValueError("nquads: graph label cannot be a literal")
            g = gt[1]
        if i >= len(toks) or toks[i].val != ".":
            raise ValueError(f"nquads: statement not '.'-terminated @tok{i}")
        i += 1
        if s[0] == "Literal":
            raise ValueError("nquads: literal subject")
        if p[0] != "URIRef":
            raise ValueError("nquads: predicate must be an IRI")
        if o[0] == "Literal":
            rows.append((s[0], s[1], p[1], "Literal", o[1], o[2], o[3], g))
        else:
            rows.append((s[0], s[1], p[1], o[0], o[1], None, None, g))
    return rows


def serialize_turtle(stmts, prefixes: dict[str, str] | None = None) -> str:
    """Driver-side Turtle/TriG serialization with prefix compression —
    parity with the reference's rdflib ``serialize`` after prefix binding
    (main.py:332-333, 382-388: bindings come from the namespaces
    collection). Collects: intended for exports that fit on the driver
    (fixtures, samples); use :func:`write_nquads` at scale.

    Round-trips through :func:`parse_ttl`: named-graph statements render as
    TriG ``<g> { ... }`` blocks."""
    prefixes = dict(prefixes or {})

    def compress(iri: str) -> str:
        for pfx, ns in prefixes.items():
            if iri.startswith(ns) and len(iri) > len(ns):
                local = iri[len(ns):]
                # first char must be a word char: a leading '-' or '.' is
                # invalid Turtle PN_LOCAL and would break the parse_ttl
                # round-trip — fall back to <iri> for those
                if re.fullmatch(r"\w[\w\-.]*\w|\w", local):
                    return f"{pfx}:{local}"
        return f"<{iri}>"

    def term(kind, value, lang=None, datatype=None) -> str:
        if kind == "URIRef":
            return compress(value)
        if kind == "BNode":
            return f"_:{value}"
        lit = f'"{_esc_literal(value)}"'
        if lang:
            return f"{lit}@{lang}"
        if datatype:
            return f"{lit}^^{compress(datatype)}"
        return lit

    rows = [tuple(r) for r in stmts.select(*STATEMENT_COLUMNS).collect()]
    lines = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())]
    if lines:
        lines.append("")
    by_graph: dict = {}
    for sk, sv, pv, ok, ov, ol, od, sg in rows:
        by_graph.setdefault(sg, []).append(
            f"{term(sk, sv)} {compress(pv)} {term(ok, ov, ol, od)} ."
        )
    for sg in sorted(by_graph, key=lambda g: (g is not None, g or "")):
        body = sorted(by_graph[sg])
        if sg is None:
            lines.extend(body)
        else:
            lines.append(f"<{sg}> {{")
            lines.extend(f"    {ln}" for ln in body)
            lines.append("}")
    return "\n".join(lines) + "\n"
