"""SPARQL SELECT front end: query STRING → DataFrame.

The algebra operators (sparkrdf.query: bgp_match, bgp_optional, bgp_minus,
bgp_not_exists, bgp_values, bgp_filter, group_solutions, order_solutions)
each expose one SPARQL 1.1 feature programmatically; this module is the
missing user surface — a parser + compiler so the query a reference user
would write as a STRING runs directly:

    sparql_query(stmts, '''
        PREFIX ex: <http://ex.org/>
        SELECT ?d ?n WHERE {
          ?d ex:tokenCount ?n .
          FILTER(?n > 40)
        } ORDER BY DESC(?n) LIMIT 10
    ''')

Supported subset (raises ValueError, never silently mis-executes, on
anything else):

* ``PREFIX`` prologue; ``BASE`` is not supported.
* ``SELECT [DISTINCT] (* | ?v ... | (AGG(?v|*) AS ?alias) |
  (expr AS ?alias) ...)`` — SELECT expressions (§18.4.4) are value
  expressions over the group's bindings and aggregate aliases,
  ``ASK [WHERE] { ... }`` (one row, one boolean ``ask`` column — computed
  as a global aggregate over a LIMIT-1-bounded probe, never a driver-side
  count), and ``CONSTRUCT { template } WHERE { ... }`` (template
  instantiated once per solution, unbound instantiations dropped,
  duplicates collapsed — §16.2 graph semantics; the template may use any
  group feature the SELECT path supports, a superset of the programmatic
  :func:`sparkrdf.query.construct_triples` which takes plain BGPs), and
  ``DESCRIBE <iri>|?v ... [WHERE { ... }]`` (concise bounded description
  via :func:`sparkrdf.query.describe_cbd` — seed statements plus their
  blank-node closures; the full statements schema comes back).
* Group graph pattern with: triple patterns (IRIs, prefixed names, the
  ``a`` keyword, plain/numeric literals, variables), property-path
  predicates (§9.1: ``^`` inverse, ``/`` sequence, ``|`` alternative,
  ``* + ?`` closures, ``!p`` / ``!(p1|p2)`` negated sets, grouping —
  evaluated via :func:`sparkrdf.query.path_expr` and joined on shared
  variables; usable in any group incl. UNION branches and
  OPTIONAL/MINUS/EXISTS bodies, and inside ``GRAPH <g>`` with a CONSTANT
  graph term — a variable graph term over a path is rejected),
  ``FILTER(expr)``
  (the :func:`sparkrdf.query.parse_filter` expression subset),
  ``OPTIONAL { ... }`` (well-designed, any number — applied as sequential
  left joins), ``MINUS { ... }``, ``FILTER [NOT] EXISTS { ... }``
  (anti/semi joins on the shared variables),
  ``GRAPH <g>|?g { ... }`` (compiled to quad patterns), ``VALUES``
  (single-var and multi-var forms, ``UNDEF`` supported),
  ``BIND(expr AS ?v)`` (the §18.4 Extend algebra — arithmetic,
  string/numeric builtins, IF/COALESCE; applied in textual order before
  the group's FILTERs), ``{ SELECT ... }`` subqueries (§12 — evaluated
  independently, only the projection visible, joined on shared
  variables), ``{ A } UNION { B } UNION ...`` blocks (each branch a FULL
  group pattern — paths, FILTER, OPTIONAL, GRAPH, nested groups all work
  inside — multiset-additive per §18.5 with absent variables NULL-padded;
  the block joins the rest of the group on shared variables, so triples
  may surround it), and lone nested group graph patterns ``{ ... }``
  (the 1-branch case).
* Solution modifiers: ``GROUP BY`` + ``HAVING`` (aggregates COUNT /
  COUNT(DISTINCT) / SUM / AVG / MIN / MAX / SAMPLE /
  GROUP_CONCAT(?v; SEPARATOR "s") — SAMPLE picks MIN and GROUP_CONCAT
  concatenates sorted, the deterministic choices inside the spec's
  freedom), ``ORDER BY [ASC|DESC](?v)``, ``LIMIT``, ``OFFSET``.
* Literal patterns match the stored LEXICAL form; ``@lang`` / ``^^dt``
  qualifiers on patterns are rejected (the statements model keeps those in
  separate columns — filter on them directly when needed).

One front end: :func:`_tokenize` is the only SPARQL lexer and
:class:`_Parser` holds the only expression and property-path grammars.
A query is lexed and parsed once; the parsed dict holds ASTs (FILTER,
BIND, HAVING and SELECT expressions, paths, ``(var, "asc"|"desc")``
ORDER BY keys), never source text. The string entry points of
:mod:`sparkrdf.query` (``parse_filter``, ``parse_path`` and through them
``bgp_filter``, ``bgp_extend``, ``compile_value_expr``, ``path_expr``)
run the same lexer and grammar rules on a bare string. OPTIONAL, MINUS,
FILTER [NOT] EXISTS, VALUES, CONSTRUCT and aggregation each have one
body in :mod:`sparkrdf.query`, called from here and from the
programmatic ``bgp_*`` / ``construct_triples`` / ``group_solutions``
wrappers.

Scale shape: this module only PARSES; every compiled plan is the same
DataFrame program the underlying operator documents (pushed-down constant
scans, selectivity-ordered equi-joins, codegen filters, hash aggregates,
TakeOrderedAndProject under LIMIT). Nothing here touches rows.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkrdf.localdf import local_rows_df
from sparkrdf.query import (
    META_SUFFIXES,
    bgp_extend,
    bgp_filter,
    bgp_match,
    compile_value_expr,
    describe_cbd,
    order_solutions,
    path_expr,
    _aggregate,
    _construct,
    _exists,
    _left_join,
    _minus,
    _needs_term_meta,
    _values_join,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_KEYWORDS = {
    "select", "distinct", "where", "filter", "optional", "minus", "union",
    "graph", "values", "not", "exists", "group", "by", "having", "order",
    "asc", "desc", "limit", "offset", "prefix", "as", "undef", "a",
    "count", "sum", "avg", "min", "max", "base", "reduced",
    "ask", "construct", "bind", "sample", "group_concat", "separator",
    "describe", "insert", "delete", "data",
}

_AGG_FNS = {"count", "sum", "avg", "min", "max", "sample", "group_concat"}
_CMP_OPS = ("=", "!=", "<", "<=", ">", ">=")


class _Tok:
    __slots__ = ("kind", "val", "raw")

    def __init__(self, kind, val, raw=None):
        # raw: the source spelling of a keyword (val is lower-cased)
        self.kind, self.val = kind, val
        self.raw = val if raw is None else raw

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.kind}:{self.val!r}"


#: SPARQL 1.1 §19.7 ECHAR: the escapes a quoted literal may carry
_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f", '"': '"', "'": "'", "\\": "\\"}
#: §19.8 IRIREF: no whitespace, no <>"{}|^`\ inside the brackets
_IRIREF = re.compile(r'<([^<>"{}|^`\\\x00-\x20]*)>')
_NUMBER = re.compile(r"[+-]?\d*\.?\d+(?:[eE][+-]?\d+)?")


def _scan_string(text: str, i: int) -> tuple[str, int]:
    """Decode the quoted literal whose opening quote is ``text[i]``: returns
    its value (ECHAR escapes decoded; any other escaped character stands
    for itself) and the offset just past the closing quote."""
    quote, j, n = text[i], i + 1, len(text)
    out = []
    while j < n and text[j] != quote:
        if text[j] == "\\" and j + 1 < n:
            out.append(_ECHAR.get(text[j + 1], text[j + 1]))
            j += 2
        else:
            out.append(text[j])
            j += 1
    if j >= n:
        raise ValueError(f"unterminated string at offset {i} in {text!r}")
    return "".join(out), j + 1


def _ends_operand(t: _Tok) -> bool:
    """Whether ``t`` can end an expression operand: a variable, a literal
    or ``)``. After one, ``+``/``-`` is the binary operator (``?n-1`` is
    ?n minus 1, not ?n followed by -1) and ``<`` opens an IRI only when a
    whole §19.8 IRIREF follows (``?s <p> ?o``), else it compares
    (``?n < 5``)."""
    return (t.kind in ("var", "str", "num")
            or (t.kind == "punct" and t.val == ")")
            or (t.kind == "word" and t.val.lower() in ("true", "false")))


def _tokenize(q: str) -> list[_Tok]:
    """The one SPARQL lexer: query strings, and the FILTER / BIND / path
    strings the :mod:`sparkrdf.query` entry points take."""
    toks: list[_Tok] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        after_operand = bool(toks) and _ends_operand(toks[-1])
        if c.isspace():
            i += 1
        elif c == "#":  # comment to end of line
            j = q.find("\n", i)
            i = n if j < 0 else j + 1
        elif c == "<" and not after_operand:
            j = q.find(">", i)
            if j < 0:
                raise ValueError(f"unterminated <iri> at offset {i}")
            toks.append(_Tok("iri", q[i + 1 : j]))
            i = j + 1
        elif c == "<" and (m := _IRIREF.match(q, i)):
            toks.append(_Tok("iri", m.group(1)))
            i = m.end()
        elif c == "?" or c == "$":
            m = re.match(r"[?$](\w+)", q[i:])
            if not m:
                # a bare '?' is the ZeroOrOne path modifier, not a variable
                if c == "?":
                    toks.append(_Tok("punct", "?"))
                    i += 1
                    continue
                raise ValueError(f"bad variable at offset {i}")
            toks.append(_Tok("var", m.group(1)))
            i += m.end()
        elif c in "\"'":
            val, i = _scan_string(q, i)
            toks.append(_Tok("str", val))
            if i < n and q[i] == "@":
                raise ValueError("@lang literal patterns are not supported; "
                                 "filter on the o_lang column instead")
            if q[i : i + 2] == "^^":
                raise ValueError("^^datatype literal patterns are not supported; "
                                 "filter on the o_datatype column instead")
        elif (m := _NUMBER.match(q, i)) and (
            c.isdigit() or (c in "+-" and not after_operand)
        ):
            toks.append(_Tok("num", m.group(0)))
            i = m.end()
        elif q[i : i + 2] in (">=", "<=", "!=", "&&", "||"):
            toks.append(_Tok("punct", q[i : i + 2]))
            i += 2
        elif c in "{}().;,*=<>!&|/^+-":
            toks.append(_Tok("punct", c))
            i += 1
        else:
            m = re.match(r"[A-Za-z_][A-Za-z0-9_.\-]*(:[A-Za-z0-9_.\-]*)?", q[i:])
            if not m:
                raise ValueError(f"bad token at offset {i}: {q[i:i+20]!r}")
            # §19.8: a name never ends in '.', so 'ex:o.' is ex:o then '.'
            word = m.group(0).rstrip(".")
            if ":" in word:
                toks.append(_Tok("pname", word))
            elif word.lower() in _KEYWORDS:
                toks.append(_Tok("kw", word.lower(), word))
            else:
                toks.append(_Tok("word", word))
            i += len(word)
    return toks


class _Parser:
    """Recursive descent over one token stream. ``verbatim`` parses a bare
    FILTER / path string (:func:`sparkrdf.query.parse_filter`,
    :func:`sparkrdf.query.parse_path`): there a path's bare words and
    prefixed names are IRIs as written."""

    def __init__(self, q: str, verbatim: bool = False):
        self.q = q
        self.toks = _tokenize(q)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.verbatim = verbatim

    # -- token helpers ---------------------------------------------------
    def peek(self) -> _Tok | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def at_kw(self, *kws) -> bool:
        t = self.peek()
        return t is not None and t.kind == "kw" and t.val in kws

    def at_punct(self, ch) -> bool:
        t = self.peek()
        return t is not None and t.kind == "punct" and t.val == ch

    def take(self):
        t = self.peek()
        if t is None:
            raise ValueError(f"unexpected end of input in {self.q!r}")
        self.pos += 1
        return t

    def expect_kw(self, kw):
        t = self.take()
        if t.kind != "kw" or t.val != kw:
            raise ValueError(f"expected {kw.upper()}, got {t!r}")

    def expect_punct(self, ch):
        t = self.take()
        if t.kind != "punct" or t.val != ch:
            raise ValueError(f"expected {ch!r}, got {t!r}")

    # -- terms -----------------------------------------------------------
    def expand(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"unknown prefix {pfx!r} in {pname!r}")
        return self.prefixes[pfx] + local

    def term(self, position: str) -> str:
        """One pattern term → the bgp_match encoding (constant or '?var')."""
        t = self.take()
        if t.kind == "var":
            return "?" + t.val
        if t.kind == "iri":
            return t.val
        if t.kind == "pname":
            return self.expand(t.val)
        if t.kind == "kw" and t.val == "a" and position == "p":
            return RDF_TYPE
        if t.kind in ("str", "num") and position == "o":
            return t.val
        if position == "o" and (signed := self.signed_number(t)):
            return signed
        raise ValueError(f"unexpected term {t!r} in {position} position")

    def signed_number(self, t: _Tok) -> str | None:
        """A sign the lexer read as the binary operator (it follows an
        operand, as in ``?s ?p -5``) plus the number after it."""
        nxt = self.peek()
        if (t.kind == "punct" and t.val in "+-" and nxt is not None
                and nxt.kind == "num" and nxt.val[0] not in "+-"):
            self.take()
            return t.val + nxt.val
        return None

    # -- property paths (§9.1) --------------------------------------------
    def path_term(self):
        """Predicate position: a variable, a plain IRI constant, or a
        ``("path", ast)`` marker the compiler evaluates via
        :func:`sparkrdf.query.path_expr`."""
        t = self.peek()
        if t is not None and t.kind == "var":
            self.take()
            return "?" + t.val
        node = self.path()
        return node[1] if node[0] == "pred" else ("path", node)

    def path(self):
        """A property-path expression → the tuple AST
        :func:`sparkrdf.query.path_expr` evaluates. Precedence mirrors the
        spec: ``|`` < ``/`` < ``^`` < postfix ``* + ?``."""
        node = self._path_seq()
        while self.at_punct("|"):
            self.take()
            node = ("alt", node, self._path_seq())
        return node

    def _path_seq(self):
        node = self._path_elt_or_inverse()
        while self.at_punct("/"):
            self.take()
            node = ("seq", node, self._path_elt_or_inverse())
        return node

    def _path_elt_or_inverse(self):
        if self.at_punct("^"):
            self.take()
            return ("inv", self._path_elt())
        return self._path_elt()

    def _path_elt(self):
        node = self._path_primary()
        while self.at_punct("*") or self.at_punct("+") or self.at_punct("?"):
            node = ({"*": "star", "+": "plus", "?": "opt"}[self.take().val], node)
        return node

    def _path_primary(self):
        if self.at_punct("("):
            self.take()
            node = self.path()
            self.expect_punct(")")
            return node
        if self.at_punct("!"):  # forward negated property set
            self.take()
            if not self.at_punct("("):
                return ("neg", [self._path_iri()])
            self.take()
            iris = [self._path_iri()]
            while self.at_punct("|"):
                self.take()
                iris.append(self._path_iri())
            self.expect_punct(")")
            return ("neg", iris)
        return ("pred", self._path_iri())

    def _path_iri(self) -> str:
        t = self.take()
        if t.kind == "iri":
            return t.val
        if self.verbatim and t.kind in ("pname", "word", "kw"):
            return t.raw
        if t.kind == "pname":
            return self.expand(t.val)
        if t.kind == "kw" and t.val == "a":
            return RDF_TYPE
        raise ValueError(f"expected IRI in property path, got {t!r}")

    # -- expressions (§17.2-§17.4 subset) ---------------------------------
    def expr(self):
        """A FILTER / BIND / SELECT / HAVING expression → the tuple AST
        :class:`sparkrdf.query._ExprCompiler` compiles. Precedence: ``||``
        < ``&&`` < ``!`` < comparison/IN < ``+ -`` < ``* /``."""
        node = self._and()
        while self.at_punct("||"):
            self.take()
            node = ("or", node, self._and())
        return node

    def _and(self):
        node = self._unary()
        while self.at_punct("&&"):
            self.take()
            node = ("and", node, self._unary())
        return node

    def _unary(self):
        if self.at_punct("!"):
            self.take()
            return ("not", self._unary())
        return self._relational()

    def _relational(self):
        left = self._additive()
        t = self.peek()
        if t is not None and t.kind == "punct" and t.val in _CMP_OPS:
            self.take()
            return ("cmp", t.val, left, self._additive())
        if self._at_word("in"):
            self.take()
            return ("in", left, self._args(self._additive))
        if self.at_kw("not"):
            self.take()
            if not self._at_word("in"):
                raise ValueError("expected IN after NOT")
            self.take()
            return ("not", ("in", left, self._args(self._additive)))
        return left

    def _at_word(self, w: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "word" and t.val.lower() == w

    def _args(self, item) -> list:
        """``( item, ... )`` — an IN list or a call's arguments."""
        self.expect_punct("(")
        items = []
        if not self.at_punct(")"):
            items.append(item())
            while self.at_punct(","):
                self.take()
                items.append(item())
        self.expect_punct(")")
        return items

    def _additive(self):
        node = self._multiplicative()
        while self.at_punct("+") or self.at_punct("-"):
            node = ("arith", self.take().val, node, self._multiplicative())
        return node

    def _multiplicative(self):
        node = self._primary()
        while self.at_punct("*") or self.at_punct("/"):
            node = ("arith", self.take().val, node, self._primary())
        return node

    def _primary(self):
        t = self.take()
        if t.kind == "punct" and t.val == "(":
            node = self.expr()
            self.expect_punct(")")
            return node
        if t.kind == "var":
            return ("var", t.val)
        if t.kind == "num":
            return ("num", float(t.val))
        if t.kind == "str":
            return ("str", t.val)
        if t.kind == "iri":  # IRIs compare as plain strings in our model
            return ("str", t.val)
        if t.kind == "pname":
            return ("str", self.expand(t.val))
        if t.kind == "word" and t.val.lower() in ("true", "false"):
            return ("bool", t.val.lower() == "true")
        if t.kind in ("word", "kw") and self.at_punct("("):
            return ("call", t.val.lower(), self._args(self.expr))
        raise ValueError(f"unexpected token {t!r} in expression")

    def bracketted(self):
        """``( expr )`` — a FILTER constraint or a HAVING condition."""
        self.expect_punct("(")
        node = self.expr()
        self.expect_punct(")")
        return node

    def as_expr(self) -> tuple:
        """``expr AS ?alias )`` (the open paren is already consumed) →
        (AST, alias)."""
        node = self.expr()
        self.expect_kw("as")
        alias = self.take()
        if alias.kind != "var":
            raise ValueError("expected ?alias after AS")
        self.expect_punct(")")
        return node, alias.val

    def whole(self, rule):
        """Run one grammar rule over the entire token stream."""
        node = rule()
        if self.peek() is not None:
            raise ValueError(f"trailing tokens from {self.peek()!r} in {self.q!r}")
        return node

    # -- prologue + select -----------------------------------------------
    def prologue(self):
        while self.at_kw("prefix"):
            self.take()
            t = self.take()
            if t.kind != "pname" or not t.val.endswith(":"):
                raise ValueError(f"expected pfx: after PREFIX, got {t!r}")
            iri = self.take()
            if iri.kind != "iri":
                raise ValueError(f"expected <iri> after PREFIX {t.val}")
            self.prefixes[t.val[:-1]] = iri.val
        if self.at_kw("base"):
            raise ValueError("BASE is not supported")

    def parse(self) -> dict:
        self.prologue()
        if self.at_kw("ask"):
            self.take()
            if self.at_kw("where"):
                self.take()
            body = self.group()
            mods = self.modifiers()
            if (mods["group_by"] or mods["having"] or mods["order"]
                    or mods["limit"] is not None or mods["offset"]):
                raise ValueError("ASK takes no solution modifiers")
            return {"form": "ask", "distinct": False, "proj": None,
                    "aggs": {}, "sel_exprs": {}, "body": body, **mods}
        if self.at_kw("describe"):
            self.take()
            seeds_const: list[str] = []
            seeds_vars: list[str] = []
            while True:
                t = self.peek()
                if t is not None and t.kind == "var":
                    self.take()
                    seeds_vars.append(t.val)
                elif t is not None and t.kind == "iri":
                    self.take()
                    seeds_const.append(t.val)
                elif t is not None and t.kind == "pname":
                    self.take()
                    seeds_const.append(self.expand(t.val))
                else:
                    break
            if not seeds_const and not seeds_vars:
                raise ValueError("DESCRIBE needs at least one IRI or variable")
            body = None
            if self.at_kw("where") or self.at_punct("{"):
                if self.at_kw("where"):
                    self.take()
                body = self.group()
            mods = self.modifiers()
            if (mods["group_by"] or mods["having"] or mods["order"]
                    or mods["limit"] is not None or mods["offset"]):
                raise ValueError("DESCRIBE takes no solution modifiers")
            if seeds_vars and body is None:
                raise ValueError("DESCRIBE ?var requires a WHERE group")
            return {"form": "describe", "seeds_const": seeds_const,
                    "seeds_vars": seeds_vars, "distinct": False,
                    "proj": None, "aggs": {}, "sel_exprs": {},
                    "body": body, **mods}
        if self.at_kw("construct"):
            self.take()
            template = self.brace_group_triples()
            if not template:
                raise ValueError("CONSTRUCT requires a non-empty template")
            self.expect_kw("where")
            body = self.group()
            mods = self.modifiers()
            if mods["group_by"] or mods["having"]:
                raise ValueError("CONSTRUCT does not support GROUP BY/HAVING")
            return {"form": "construct", "template": template,
                    "distinct": False, "proj": None, "aggs": {},
                    "sel_exprs": {}, "body": body, **mods}
        return self.parse_select_core(sub=False)

    def parse_select_core(self, sub: bool) -> dict:
        """``SELECT ... WHERE {...} modifiers`` — the shared core of a
        top-level query and a ``{ SELECT ... }`` subquery (§12); when
        ``sub``, the trailing-token check is the caller's (its closing
        brace follows the modifiers)."""
        self.expect_kw("select")
        distinct = False
        if self.at_kw("distinct"):
            self.take()
            distinct = True
        elif self.at_kw("reduced"):
            self.take()  # REDUCED permits (but does not require) dedup: no-op
        proj: list[str] | None = []
        # alias -> (fn, var, distinct, separator)
        aggs: dict[str, tuple[str, str, bool, str]] = {}
        sel_exprs: dict[str, tuple] = {}  # alias -> value-expression AST
        if self.at_punct("*"):
            self.take()
            proj = None
        else:
            while True:
                t = self.peek()
                if t is not None and t.kind == "var":
                    self.take()
                    proj.append(t.val)
                elif t is not None and t.kind == "punct" and t.val == "(":
                    nxt = (self.toks[self.pos + 1]
                           if self.pos + 1 < len(self.toks) else None)
                    after = (self.toks[self.pos + 2]
                             if self.pos + 2 < len(self.toks) else None)
                    is_agg = (
                        nxt is not None and nxt.kind == "kw"
                        and nxt.val in _AGG_FNS
                        and after is not None and after.kind == "punct"
                        and after.val == "("
                    )
                    self.take()
                    if is_agg:
                        alias, spec = self.aggregate_clause()
                        aggs[alias] = spec
                        proj.append(alias)
                    else:
                        # (expr AS ?alias) — a SELECT expression (§18.4.4)
                        node, alias = self.as_expr()
                        sel_exprs[alias] = node
                        proj.append(alias)
                else:
                    break
            if not proj:
                raise ValueError("SELECT needs * or at least one variable")
        if self.at_kw("where"):
            self.take()
        body = self.group()
        mods = self.modifiers(sub=sub)
        return {
            "form": "select",
            "distinct": distinct,
            "proj": proj,
            "aggs": aggs,
            "sel_exprs": sel_exprs,
            "body": body,
            **mods,
        }

    def aggregate_clause(self) -> tuple[str, tuple]:
        """``AGG([DISTINCT] ?v|* [; SEPARATOR "s"]) AS ?alias)`` — the
        open paren is already consumed, the closing one is consumed
        here."""
        fn_tok = self.take()
        if fn_tok.kind != "kw" or fn_tok.val not in _AGG_FNS:
            raise ValueError(f"expected aggregate, got {fn_tok!r}")
        self.expect_punct("(")
        agg_distinct = False
        if self.at_kw("distinct"):
            self.take()
            agg_distinct = True
        if self.at_punct("*"):
            self.take()
            var = "*"
        else:
            v = self.take()
            if v.kind != "var":
                raise ValueError(f"expected ?var in {fn_tok.val}()")
            var = v.val
        sep = " "  # §18.5.1.7: the default GROUP_CONCAT separator
        if self.at_punct(";"):
            self.take()
            self.expect_kw("separator")
            self.expect_punct("=")
            s = self.take()
            if s.kind != "str":
                raise ValueError("SEPARATOR needs a string literal")
            if fn_tok.val != "group_concat":
                raise ValueError("SEPARATOR applies to GROUP_CONCAT only")
            sep = s.val
        self.expect_punct(")")
        self.expect_kw("as")
        alias = self.take()
        if alias.kind != "var":
            raise ValueError("expected ?alias after AS")
        self.expect_punct(")")
        return alias.val, (fn_tok.val, var, agg_distinct, sep)

    # -- update operations (SPARQL 1.1 Update subset) ----------------------
    def parse_update(self) -> list[dict]:
        """``INSERT DATA`` / ``DELETE DATA`` / ``DELETE WHERE`` /
        ``DELETE {t} [INSERT {t}] WHERE {g}`` / ``INSERT {t} WHERE {g}``,
        ';'-separated, applied in order."""
        self.prologue()
        ops: list[dict] = []
        while True:
            if self.at_kw("insert"):
                self.take()
                if self.at_kw("data"):
                    self.take()
                    ops.append({"op": "insert_data",
                                "triples": self.update_block(const=True)})
                else:
                    tmpl = self.update_block(const=False)
                    self.expect_kw("where")
                    ops.append({"op": "modify", "delete": None,
                                "insert": tmpl, "body": self.group()})
            elif self.at_kw("delete"):
                self.take()
                if self.at_kw("data"):
                    self.take()
                    ops.append({"op": "delete_data",
                                "triples": self.update_block(const=True)})
                elif self.at_kw("where"):
                    # DELETE WHERE: the pattern IS the delete template
                    self.take()
                    pats = self.update_block(const=False)
                    ops.append({"op": "modify", "delete": pats,
                                "insert": None, "body": _group_of(pats)})
                else:
                    dt = self.update_block(const=False)
                    ins = None
                    if self.at_kw("insert"):
                        self.take()
                        ins = self.update_block(const=False)
                    self.expect_kw("where")
                    ops.append({"op": "modify", "delete": dt,
                                "insert": ins, "body": self.group()})
            elif self.at_punct(";"):
                self.take()
            elif self.peek() is None:
                break
            else:
                raise ValueError(f"expected an update operation, got "
                                 f"{self.peek()!r}")
        if not ops:
            raise ValueError("empty update request")
        return ops

    def kinded_term(self, position: str) -> tuple[str, str]:
        """One update-block term → (value, kind) with kind iri/lit/var
        (variables encoded ``?name`` like bgp_match patterns)."""
        t = self.take()
        if t.kind == "var":
            return "?" + t.val, "var"
        if t.kind == "iri":
            return t.val, "iri"
        if t.kind == "pname":
            return self.expand(t.val), "iri"
        if t.kind == "kw" and t.val == "a" and position == "p":
            return RDF_TYPE, "iri"
        if t.kind in ("str", "num") and position == "o":
            return t.val, "lit"
        raise ValueError(f"unexpected term {t!r} in {position} position")

    def update_block(self, const: bool) -> list[tuple]:
        """``{ triples }`` for update data/templates: each entry is
        ``((s, kind), (p, kind), (o, kind))``; with ``const`` variables
        are rejected (INSERT/DELETE DATA take ground triples only)."""
        self.expect_punct("{")
        out: list[tuple] = []
        while not self.at_punct("}"):
            s = self.kinded_term("s")
            while True:
                p = self.kinded_term("p")
                if p[1] == "lit":
                    raise ValueError("literal in predicate position")
                while True:
                    o = self.kinded_term("o")
                    out.append((s, p, o))
                    if self.at_punct(","):
                        self.take()
                        continue
                    break
                if self.at_punct(";"):
                    self.take()
                    if self.at_punct(".") or self.at_punct("}"):
                        break
                    continue
                break
            if self.at_punct("."):
                self.take()
        self.take()  # closing brace
        if not out:
            raise ValueError("empty update triple block")
        if const and any(k == "var" for t in out for _, k in t):
            raise ValueError("INSERT/DELETE DATA take ground triples only")
        return out

    # -- group graph pattern ----------------------------------------------
    def triples_block(self, g: str | None = None) -> list[tuple]:
        """Parse triples until the block's closing brace; supports ';' and
        ',' predicate/object lists. Quad-ifies with g when inside GRAPH."""
        pats: list[tuple] = []
        while not self.at_punct("}"):
            s = self.term("s")
            while True:
                p = self.path_term()
                while True:
                    o = self.term("o")
                    pats.append((s, p, o) if g is None else (s, p, o, g))
                    if self.at_punct(","):
                        self.take()
                        continue
                    break
                if self.at_punct(";"):
                    self.take()
                    if self.at_punct(".") or self.at_punct("}"):
                        break  # trailing ;
                    continue
                break
            if self.at_punct("."):
                self.take()
        return pats

    def brace_group_triples(self, g: str | None = None) -> list[tuple]:
        self.expect_punct("{")
        pats = self.triples_block(g)
        self.expect_punct("}")
        return pats

    def group(self) -> dict:
        """One { ... } group → {'patterns': [...], 'filters': [expr AST],
        'optionals': [...], 'minuses': [...], 'not_exists': [...],
        'exists': [...], 'values': (vars, [row dicts]) | None,
        'unions': [[group, ...], ...], 'binds': [(var, expr AST)],
        'subqueries': [parsed query dicts]}."""
        self.expect_punct("{")
        out = {
            "patterns": [],
            "filters": [],
            "optionals": [],
            "minuses": [],
            "not_exists": [],
            "exists": [],
            "values": None,
            "unions": [],
            "binds": [],
            "subqueries": [],
        }
        while not self.at_punct("}"):
            if self.at_punct("{"):
                nxt = (self.toks[self.pos + 1]
                       if self.pos + 1 < len(self.toks) else None)
                if nxt is not None and nxt.kind == "kw" and nxt.val == "select":
                    # { SELECT ... } — a subquery (§12), evaluated
                    # independently and joined on its projected variables
                    self.take()
                    out["subqueries"].append(self.parse_select_core(sub=True))
                    self.expect_punct("}")
                    continue
                # { A } UNION { B } ... — each branch a FULL group pattern
                # (paths / FILTER / OPTIONAL / GRAPH / nested groups all
                # work inside); a lone braced group is the 1-branch case,
                # i.e. a nested group graph pattern joined with the rest
                branches = [self.group()]
                while self.at_kw("union"):
                    self.take()
                    branches.append(self.group())
                out["unions"].append(branches)
            elif self.at_kw("filter"):
                self.take()
                if self.at_kw("not"):
                    self.take()
                    self.expect_kw("exists")
                    out["not_exists"].append(self.group())
                elif self.at_kw("exists"):
                    self.take()
                    out["exists"].append(self.group())
                else:
                    out["filters"].append(self.bracketted())
            elif self.at_kw("optional"):
                self.take()
                out["optionals"].append(self.group())
            elif self.at_kw("minus"):
                self.take()
                out["minuses"].append(self.group())
            elif self.at_kw("graph"):
                self.take()
                g = self.term("s")  # graph term: IRI, pname or var
                out["patterns"].extend(self.brace_group_triples(g))
            elif self.at_kw("values"):
                self.take()
                out["values"] = self.values_clause()
            elif self.at_kw("bind"):
                self.take()
                self.expect_punct("(")
                node, var = self.as_expr()
                out["binds"].append((var, node))
            else:
                out["patterns"].extend(self.triples_block_step())
        self.expect_punct("}")
        return out

    def triples_block_step(self) -> list[tuple]:
        """Parse ONE subject's triples (so FILTER etc. can interleave)."""
        pats: list[tuple] = []
        s = self.term("s")
        while True:
            p = self.path_term()
            while True:
                o = self.term("o")
                pats.append((s, p, o))
                if self.at_punct(","):
                    self.take()
                    continue
                break
            if self.at_punct(";"):
                self.take()
                if self.at_punct(".") or self.at_punct("}"):
                    break
                continue
            break
        if self.at_punct("."):
            self.take()
        return pats

    def values_clause(self):
        t = self.peek()
        if t is not None and t.kind == "var":  # single-var form
            self.take()
            vars_ = [t.val]
            self.expect_punct("{")
            rows = []
            while not self.at_punct("}"):
                rows.append({vars_[0]: self.values_datum()})
            self.take()
            return vars_, rows
        self.expect_punct("(")
        vars_ = []
        while not self.at_punct(")"):
            v = self.take()
            if v.kind != "var":
                raise ValueError("expected ?var in VALUES clause")
            vars_.append(v.val)
        self.take()
        self.expect_punct("{")
        rows = []
        while not self.at_punct("}"):
            self.expect_punct("(")
            row = {}
            for v in vars_:
                row[v] = self.values_datum()
            self.expect_punct(")")
            rows.append(row)
        self.take()
        return vars_, rows

    def values_datum(self):
        t = self.take()
        if t.kind == "kw" and t.val == "undef":
            return None
        if t.kind in ("str", "num", "iri"):
            return t.val
        if t.kind == "pname":
            return self.expand(t.val)
        if signed := self.signed_number(t):
            return signed
        raise ValueError(f"bad VALUES datum {t!r}")

    # -- solution modifiers -----------------------------------------------
    def modifiers(self, sub: bool = False) -> dict:
        group_by: list[str] = []
        having = None  # expression AST
        order: list[tuple[str, str]] = []  # (var, "asc" | "desc")
        limit = offset = None
        if self.at_kw("group"):
            self.take()
            self.expect_kw("by")
            while True:
                t = self.peek()
                if t is None or t.kind != "var":
                    break
                self.take()
                group_by.append(t.val)
            if not group_by:
                raise ValueError("GROUP BY needs at least one variable")
        if self.at_kw("having"):
            self.take()
            having = self.bracketted()
        if self.at_kw("order"):
            self.take()
            self.expect_kw("by")
            while True:
                if self.at_kw("asc", "desc"):
                    d = self.take().val
                    self.expect_punct("(")
                    v = self.take()
                    if v.kind != "var":
                        raise ValueError(f"expected ?var in {d.upper()}()")
                    self.expect_punct(")")
                    order.append((v.val, d))
                    continue
                t = self.peek()
                if t is not None and t.kind == "var":
                    self.take()
                    order.append((t.val, "asc"))
                    continue
                break
            if not order:
                raise ValueError("ORDER BY needs at least one key")
        if self.at_kw("limit"):
            self.take()
            t = self.take()
            if t.kind != "num":
                raise ValueError("LIMIT needs a number")
            limit = int(float(t.val))
        if self.at_kw("offset"):
            self.take()
            t = self.take()
            if t.kind != "num":
                raise ValueError("OFFSET needs a number")
            offset = int(float(t.val))
        if not sub and self.peek() is not None:
            raise ValueError(f"trailing tokens after query: {self.peek()!r}")
        return {
            "group_by": group_by,
            "having": having,
            "order": order,
            "limit": limit,
            "offset": offset,
        }


def sparql_query(
    stmts: DataFrame,
    query: str,
    numeric: tuple = (),
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
    g_col: str = "sub_graph",
) -> DataFrame:
    """Run a SPARQL SELECT string against a statements table (see module
    docstring for the supported subset). ``numeric`` names variables whose
    ORDER BY comparison is by double value rather than lexical form."""
    q = _Parser(query).parse()
    return _compile_query(stmts, q, numeric, s_col, p_col, o_col, g_col)


def _compile_describe(
    stmts: DataFrame,
    q: dict,
    numeric: tuple,
    s_col: str,
    p_col: str,
    o_col: str,
    g_col: str,
) -> DataFrame:
    """``DESCRIBE <iri>|?var ... [WHERE {...}]`` — seeds from the constant
    IRIs plus each variable's bindings in the (DISTINCT-projected) group
    solution, then :func:`sparkrdf.query.describe_cbd`: the seeds'
    statements plus, recursively, their blank-node objects' statements.
    A statements table without an ``o_kind`` column has no identifiable
    blank nodes, so the description is exactly the seeds' outgoing rows."""
    seeds = None
    if q["seeds_vars"]:
        sel = {
            "form": "select", "distinct": True, "proj": q["seeds_vars"],
            "aggs": {}, "sel_exprs": {}, "body": q["body"],
            "group_by": [], "having": None, "order": [],
            "limit": None, "offset": None,
        }
        sol = _compile_query(stmts, sel, numeric, s_col, p_col, o_col, g_col)
        for v in q["seeds_vars"]:
            part = sol.select(F.col(v).alias("n"))
            seeds = part if seeds is None else seeds.unionAll(part)
    if q["seeds_const"]:
        const = local_rows_df(
            stmts.sparkSession, [(c,) for c in q["seeds_const"]], "n string"
        )
        seeds = const if seeds is None else seeds.unionAll(const)
    added_kind = "o_kind" not in stmts.columns
    work = (
        stmts.withColumn("o_kind", F.lit(None).cast("string"))
        if added_kind else stmts
    )
    out = describe_cbd(work, seeds.dropDuplicates(), s_col=s_col, o_col=o_col)
    return out.drop("o_kind") if added_kind else out


def _compile_query(
    stmts: DataFrame,
    q: dict,
    numeric: tuple,
    s_col: str,
    p_col: str,
    o_col: str,
    g_col: str,
) -> DataFrame:
    """Compile one parsed query dict (top-level or subquery) onto the
    algebra operators."""
    if q["form"] == "describe":
        return _compile_describe(stmts, q, numeric, s_col, p_col, o_col, g_col)
    if q["form"] == "construct" and any(
        isinstance(p[1], tuple) for p in q["template"]
    ):
        raise ValueError("property paths are not allowed in a CONSTRUCT template")
    sol = _compile_group(stmts, q["body"], numeric, s_col, p_col, o_col, g_col)

    if q["form"] == "ask":
        # LIMIT-1 bounds the probe (Spark stops scanning after one row);
        # the keyless aggregate yields exactly one row even on empty input
        return sol.limit(1).agg((F.count(F.lit(1)) > F.lit(0)).alias("ask"))
    return _apply_forms(stmts, q, sol, numeric)


def _compile_group(
    stmts: DataFrame,
    body: dict,
    numeric: tuple,
    s_col: str,
    p_col: str,
    o_col: str,
    g_col: str,
) -> DataFrame:
    """Compile one group graph pattern to its solution relation:
    required patterns (incl. property paths and GRAPH quads), subqueries,
    UNION blocks, then OPTIONAL / MINUS / FILTER [NOT] EXISTS sub-groups —
    each a FULL group compiled RECURSIVELY (so FILTER/BIND/paths/nested
    OPTIONAL/UNION work inside them) — then VALUES, BIND, FILTER."""
    cols = dict(s_col=s_col, p_col=p_col, o_col=o_col)

    def sub(group):
        return _compile_group(stmts, group, numeric, s_col, p_col, o_col, g_col)

    path_pats = [p for p in body["patterns"] if isinstance(p[1], tuple)]
    plain_pats = [p for p in body["patterns"] if not isinstance(p[1], tuple)]

    if not body["patterns"] and not body["subqueries"] and not body["unions"]:
        raise ValueError("the group pattern binds no solutions")
    # SPARQL term functions (lang/datatype/isIRI/...) read per-variable
    # term metadata; bind the hidden columns only when this group's own
    # FILTER/BIND expressions need them, and strip them before the
    # solutions leave the group (metadata never escapes into joins,
    # projections or aggregates). Supported placement is therefore a
    # group's FILTER/BIND over variables bound by that group's PLAIN
    # triple/quad patterns; in SELECT expressions, HAVING, or over
    # variables bound only by paths/UNION/VALUES the compiler raises a
    # targeted "needs term metadata" ValueError — a clear error, never a
    # silently wrong result
    meta_needed = any(
        _needs_term_meta(e) for e in body["filters"] + [e for _, e in body["binds"]]
    )
    sol = (bgp_match(stmts, plain_pats, g_col=g_col, term_meta=meta_needed,
                     **cols)
           if plain_pats else None)

    for pat in path_pats:
        # each path pattern evaluates to its (s, o) endpoint relation —
        # pushed-down pred-leaf scans, iterative-doubling closures — then
        # joins the solution on its shared variables like any BGP pattern
        if len(pat) == 4:
            # GRAPH <g> { ... path ... }: a CONSTANT graph restricts the
            # path's statement universe to that graph (a pushed-down
            # pre-filter on the scan); a variable graph term would need
            # one closure per graph binding and is rejected instead
            s, (_, tree), o, g = pat
            if g.startswith("?"):
                raise ValueError(
                    "property paths inside GRAPH with a variable graph "
                    "term are not supported (use a constant graph IRI)"
                )
            path_stmts = stmts.filter(F.col(g_col) == g)
        else:
            s, (_, tree), o = pat
            path_stmts = stmts
        rel = path_expr(path_stmts, tree, **cols)
        if s.startswith("?"):
            rel = rel.withColumnRenamed("s", s[1:])
            if o == s:
                rel = rel.filter(F.col(s[1:]) == F.col("o")).drop("o")
            elif o.startswith("?"):
                rel = rel.withColumnRenamed("o", o[1:])
            else:
                rel = rel.filter(F.col("o") == o).drop("o")
        else:
            rel = rel.filter(F.col("s") == s).drop("s")
            if o.startswith("?"):
                rel = rel.withColumnRenamed("o", o[1:])
            else:
                rel = rel.filter(F.col("o") == o).drop("o")
        if not rel.columns:
            # both endpoints constant: a pure existence test (ASK-shaped)
            sol = rel.limit(1) if sol is None else _exists(sol, rel)
            continue
        if sol is None:
            sol = rel
        else:
            shared = sorted(set(sol.columns) & set(rel.columns))
            if not shared:
                raise ValueError(
                    "a property-path pattern shares no variable with the "
                    "rest of the group"
                )
            sol = sol.join(rel, shared)

    for subq in body["subqueries"]:
        # a subquery evaluates independently (only its projection is
        # visible, §12) and joins the enclosing group on shared variables —
        # the same progressive equi-join every other pattern relation uses
        sub = _compile_query(stmts, subq, numeric, s_col, p_col, o_col, g_col)
        if sol is None:
            sol = sub
            continue
        shared = sorted(set(sol.columns) & set(sub.columns))
        if not shared:
            raise ValueError(
                "a subquery shares no variable with the enclosing group"
            )
        sol = sol.join(sub, shared)

    for branches in body["unions"]:
        # { A } UNION { B } ... — each branch a full recursively-compiled
        # group; the union is multiset-additive (§18.5, duplicates KEPT)
        # with variables absent from a branch NULL-padded (the spec's
        # unbound semantics). The union itself is a zero-shuffle
        # unionByName; it then joins the enclosing group's solutions on
        # the shared variables like any other pattern relation.
        rels = [sub(b) for b in branches]
        urel = rels[0]
        for nxt in rels[1:]:
            urel = urel.unionByName(nxt, allowMissingColumns=True)
        if sol is None:
            sol = urel
            continue
        shared = sorted(set(sol.columns) & set(urel.columns))
        if not shared:
            raise ValueError(
                "a UNION block shares no variable with the rest of the group"
            )
        # the equi-join below is only SPARQL-correct when every branch
        # BINDS the shared variables — a branch leaving one unbound
        # (NULL-padded) would be compatible with anything per §18.5 but
        # a NULL never equi-joins; raise instead of silently dropping
        for b_rel in rels:
            missing = [v for v in shared if v not in b_rel.columns]
            if missing:
                raise ValueError(
                    f"UNION branch leaves {missing} unbound but the "
                    "enclosing group joins on them (unbound-compatible "
                    "joins are not supported — bind the variable in every "
                    "branch or restructure)"
                )
        sol = sol.join(urel, shared)

    for opt in body["optionals"]:
        sol = _left_join(sol, sub(opt))
    for mn in body["minuses"]:
        sol = _minus(sol, sub(mn))
    for ne in body["not_exists"]:
        sol = _exists(sol, sub(ne), negate=True)
    for ex in body["exists"]:
        sol = _exists(sol, sub(ex))
    if body["values"] is not None:
        sol = _values_join(sol, *body["values"])
    if body["binds"]:
        # BIND extends the group's solutions in textual order; applied
        # before FILTER, whose scope is the whole group (§17.2)
        sol = bgp_extend(sol, body["binds"])
    for node in body["filters"]:
        sol = bgp_filter(sol, node)
    if meta_needed:
        sol = sol.drop(*[c for c in sol.columns if c.endswith(META_SUFFIXES)])
    return sol


def _apply_forms(stmts: DataFrame, q: dict, sol: DataFrame,
                 numeric: tuple) -> DataFrame:
    """CONSTRUCT templating / aggregation / projection / solution
    modifiers over a compiled group solution."""
    if q["form"] == "construct":
        return _construct(_modifiers(sol, q, numeric), q["template"])

    aggs, group_by = q["aggs"], q["group_by"]
    sel_exprs = q.get("sel_exprs") or {}
    if aggs or group_by:
        non_agg = [v for v in (q["proj"] or []) if v not in aggs]
        stray = [v for v in non_agg if v not in group_by and v not in sel_exprs]
        if stray:
            raise ValueError(
                f"projected variables {stray} are neither aggregated nor "
                "grouped (SPARQL 1.1 §18.2.4 projection restriction)"
            )
        sol = _aggregate(sol, group_by, aggs)
        if q["having"]:
            sol = bgp_filter(sol, q["having"])
    elif q["having"]:
        raise ValueError("HAVING requires GROUP BY / aggregates")

    # SELECT expressions extend AFTER grouping (§18.4.4) so they can
    # reference aggregate aliases; like BIND they are codegen projections
    for alias, node in sel_exprs.items():
        if alias in sol.columns:
            raise ValueError(f"SELECT expression alias ?{alias} already bound")
        sol = sol.withColumn(alias, compile_value_expr(node, sol.columns))

    if q["proj"] is not None:
        missing = [v for v in q["proj"] if v not in sol.columns]
        if missing:
            raise ValueError(f"SELECT variables {missing} not bound by the group")
        sol = sol.select(*q["proj"])
    if q["distinct"]:
        sol = sol.dropDuplicates()
    return _modifiers(sol, q, numeric)


def _modifiers(sol: DataFrame, q: dict, numeric: tuple) -> DataFrame:
    """ORDER BY / OFFSET / LIMIT."""
    if q["order"]:
        return order_solutions(
            sol, q["order"], limit=q["limit"], offset=q["offset"] or 0,
            numeric=numeric,
        )
    if q["offset"]:
        sol = sol.offset(q["offset"])
    return sol.limit(q["limit"]) if q["limit"] is not None else sol


# --- SPARQL 1.1 Update (a functional subset) ---------------------------


def _group_of(kinded: list[tuple]) -> dict:
    """A bare group dict holding just these patterns (DELETE WHERE)."""
    return {
        "patterns": [tuple(v for v, _ in t) for t in kinded],
        "filters": [], "optionals": [], "minuses": [], "not_exists": [],
        "exists": [], "values": None, "unions": [], "binds": [],
        "subqueries": [],
    }


def _instantiate(sol: DataFrame, template: list[tuple]) -> DataFrame:
    """Instantiate a kinded update template once per solution: one
    zero-shuffle projection per template triple (constants as literals,
    variables from the solution columns), unbound (NULL) instantiations
    dropped per the spec, then ONE distinct. Columns: _s/_p/_o plus
    _sk/_ok (URIRef/Literal for constants, NULL for variable-bound terms
    — lexical forms don't carry their kind)."""
    outs = []
    for s, p, o in template:
        cols = []
        for name, (val, kind) in zip(("_s", "_p", "_o"), (s, p, o)):
            if kind == "var":
                var = val[1:]
                if var not in sol.columns:
                    raise ValueError(
                        f"template variable ?{var} not bound by the WHERE group"
                    )
                cols.append(F.col(var).alias(name))
            else:
                cols.append(F.lit(val).alias(name))
        for name, (val, kind) in zip(("_sk", "_ok"), (s, o)):
            if kind == "var":
                cols.append(F.lit(None).cast("string").alias(name))
            else:
                cols.append(F.lit("URIRef" if kind == "iri" else "Literal")
                            .alias(name))
        outs.append(sol.select(*cols).filter(
            F.col("_s").isNotNull() & F.col("_p").isNotNull()
            & F.col("_o").isNotNull()
        ))
    acc = outs[0]
    for nxt in outs[1:]:
        acc = acc.unionByName(nxt)
    return acc.dropDuplicates(["_s", "_p", "_o"])


def _const_rows(spark, triples: list[tuple]) -> DataFrame:
    rows = [
        (s[0], p[0], o[0],
         "URIRef" if s[1] == "iri" else "Literal",
         "URIRef" if o[1] == "iri" else "Literal")
        for s, p, o in triples
    ]
    return local_rows_df(
        spark, rows, "_s string, _p string, _o string, _sk string, _ok string"
    )


def _into_schema(stmts: DataFrame, rows: DataFrame,
                 s_col: str, p_col: str, o_col: str) -> DataFrame:
    """Project _s/_p/_o/_sk/_ok rows into the statements schema: term
    columns filled, kind columns (s_kind/o_kind, when present) from the
    inferred kinds, every other column NULL of the right type (the graph
    column too — inserts target the default graph)."""
    cols = []
    for f in stmts.schema.fields:
        if f.name == s_col:
            cols.append(F.col("_s").alias(f.name))
        elif f.name == p_col:
            cols.append(F.col("_p").alias(f.name))
        elif f.name == o_col:
            cols.append(F.col("_o").alias(f.name))
        elif f.name == "s_kind":
            cols.append(F.col("_sk").alias(f.name))
        elif f.name == "o_kind":
            cols.append(F.col("_ok").alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return rows.select(*cols)


def sparql_update(
    stmts: DataFrame,
    update: str,
    numeric: tuple = (),
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
    g_col: str = "sub_graph",
) -> DataFrame:
    """Apply a SPARQL 1.1 Update string to a statements table and return
    the NEW statements DataFrame — functional, because Spark DataFrames
    are immutable: an update is a transformation the caller materializes
    (idempotent-merge sink, overwrite, streaming foreachBatch), exactly
    how a lakehouse pipeline consumes graph maintenance.

    Supported operations (';'-separated, applied in order; each WHERE
    evaluates against the running state left by the previous operation,
    while DELETE and INSERT templates of ONE operation both use the same
    pre-operation bindings, per the spec's semantics):

    * ``INSERT DATA { triples }`` / ``DELETE DATA { triples }`` — ground
      triples only.
    * ``DELETE WHERE { patterns }`` — the pattern is the delete template.
    * ``DELETE { t } [INSERT { t }] WHERE { group }`` /
      ``INSERT { t } WHERE { group }`` — the WHERE group supports the
      full SELECT feature set (FILTER, OPTIONAL, BIND, subqueries, ...).

    Model notes, consistent with the engine's documented union-default-
    graph convention: deletes match rows on (s, p, o) across ALL graphs;
    inserts target the default graph (NULL graph column). Inserted rows
    carry inferred s_kind/o_kind for constant terms (URIRef/Literal) when
    those columns exist; variable-bound terms get NULL kinds (a lexical
    form does not carry its kind). Set semantics: an insert adds a
    statement only if no row with its (s, p, o, graph) key exists —
    existing rows are never rewritten or deduped.

    Scale shape: every delete is ONE left-anti join of the statements
    table against a (typically small) instantiated key set; every insert
    is one left-anti (insert-if-absent) + union. Nothing rewrites rows in
    place; the statements scan is never widened.
    """
    ops = _Parser(update).parse_update()
    df = stmts
    key = [s_col, p_col, o_col]
    spark = stmts.sparkSession
    for op in ops:
        if op["op"] == "insert_data":
            rows = _const_rows(spark, op["triples"])
        elif op["op"] == "delete_data":
            rows = _const_rows(spark, op["triples"])
        else:
            sel = {
                "form": "select", "distinct": False, "proj": None,
                "aggs": {}, "sel_exprs": {}, "body": op["body"],
                "group_by": [], "having": None, "order": [],
                "limit": None, "offset": None,
            }
            sol = _compile_query(df, sel, numeric, s_col, p_col, o_col, g_col)
            if op["delete"]:
                dk = (_instantiate(sol, op["delete"])
                      .select(F.col("_s").alias(s_col),
                              F.col("_p").alias(p_col),
                              F.col("_o").alias(o_col)))
                new_df = df.join(dk.dropDuplicates(key), key, "left_anti")
            else:
                new_df = df
            if op["insert"]:
                ins = _into_schema(df, _instantiate(sol, op["insert"]),
                                   s_col, p_col, o_col)
                new_df = new_df.unionByName(
                    ins.join(df.select(*key).dropDuplicates(key), key,
                             "left_anti")
                )
            df = new_df
            continue
        keyed = rows.select(F.col("_s").alias(s_col),
                            F.col("_p").alias(p_col),
                            F.col("_o").alias(o_col))
        if op["op"] == "delete_data":
            df = df.join(keyed, key, "left_anti")
        else:
            ins = _into_schema(df, rows, s_col, p_col, o_col)
            df = df.unionByName(
                ins.join(df.select(*key).dropDuplicates(key), key, "left_anti")
            )
    return df
