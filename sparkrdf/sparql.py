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
    bgp_match,
    compile_value_expr,
    describe_cbd,
    order_solutions,
    parse_filter,
    path_expr,
    _compile_filter,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

#: expressions whose evaluation needs the hidden per-variable term-metadata
#: columns (bgp_match term_meta) — matched against a group's FILTER/BIND text
_META_FN_RE = re.compile(
    r"(?i)\b(lang|datatype|isiri|isuri|isblank|isliteral|isnumeric"
    r"|langmatches|sameterm)\s*\("
)

_KEYWORDS = {
    "select", "distinct", "where", "filter", "optional", "minus", "union",
    "graph", "values", "not", "exists", "group", "by", "having", "order",
    "asc", "desc", "limit", "offset", "prefix", "as", "undef", "a",
    "count", "sum", "avg", "min", "max", "base", "reduced",
    "ask", "construct", "bind", "sample", "group_concat", "separator",
    "describe", "insert", "delete", "data",
}

_AGG_FNS = {"count", "sum", "avg", "min", "max", "sample", "group_concat"}


class _Tok:
    __slots__ = ("kind", "val")

    def __init__(self, kind, val):
        self.kind, self.val = kind, val

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.kind}:{self.val!r}"


def _tokenize(q: str) -> list[_Tok]:
    toks: list[_Tok] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
        elif c == "#":  # comment to end of line
            j = q.find("\n", i)
            i = n if j < 0 else j + 1
        elif c == "<":
            j = q.find(">", i)
            if j < 0:
                raise ValueError(f"unterminated <iri> at offset {i}")
            toks.append(_Tok("iri", q[i + 1 : j]))
            i = j + 1
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
            j = i + 1
            out = []
            while j < n and q[j] != c:
                if q[j] == "\\" and j + 1 < n:
                    out.append({"n": "\n", "t": "\t", "r": "\r"}.get(q[j + 1], q[j + 1]))
                    j += 2
                else:
                    out.append(q[j])
                    j += 1
            if j >= n:
                raise ValueError(f"unterminated string at offset {i}")
            toks.append(_Tok("str", "".join(out)))
            i = j + 1
            if i < n and q[i] == "@":
                raise ValueError("@lang literal patterns are not supported; "
                                 "filter on the o_lang column instead")
            if q[i : i + 2] == "^^":
                raise ValueError("^^datatype literal patterns are not supported; "
                                 "filter on the o_datatype column instead")
        elif c.isdigit() or (c in "+-" and i + 1 < n and q[i + 1].isdigit()):
            m = re.match(r"[+-]?\d*\.?\d+(?:[eE][+-]?\d+)?", q[i:])
            toks.append(_Tok("num", m.group(0)))
            i += m.end()
        elif q[i : i + 2] in (">=", "<=", "!=", "&&", "||"):
            # keep two-char FILTER operators whole so capture_parens can
            # round-trip them into parse_filter's lexer verbatim
            toks.append(_Tok("punct", q[i : i + 2]))
            i += 2
        elif c in "{}().;,*=<>!&|/^+-":
            # FILTER expressions are re-lexed by parse_filter; here we only
            # need structural tokens plus balanced-paren capture ('-' only
            # reaches here as a binary operator — the sign case folds into
            # the numeric literal branch above)
            toks.append(_Tok("punct", c))
            i += 1
        else:
            m = re.match(r"[A-Za-z_][A-Za-z0-9_.\-]*(:[A-Za-z0-9_.\-]*)?", q[i:])
            if not m:
                raise ValueError(f"bad token at offset {i}: {q[i:i+20]!r}")
            word = m.group(0)
            if ":" in word:
                toks.append(_Tok("pname", word))
            elif word.lower() in _KEYWORDS:
                toks.append(_Tok("kw", word.lower()))
            else:
                toks.append(_Tok("word", word))
            i += m.end()
    return toks


class _Parser:
    def __init__(self, q: str):
        self.q = q
        self.toks = _tokenize(q)
        self.pos = 0
        self.prefixes: dict[str, str] = {}

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
            raise ValueError("unexpected end of query")
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
        raise ValueError(f"unexpected term {t!r} in {position} position")

    # -- property paths ----------------------------------------------------
    def path_term(self):
        """Predicate position: a variable, a plain IRI constant, or a
        SPARQL 1.1 property-path expression. Paths are rendered into
        :func:`sparkrdf.query.parse_path` syntax (``<iri>`` atoms, the
        operators verbatim, explicit grouping parens so precedence is
        carried structurally) and returned as a ``("path", src)`` marker
        the compiler evaluates via :func:`sparkrdf.query.path_expr`."""
        t = self.peek()
        if t is not None and t.kind == "var":
            self.take()
            return "?" + t.val
        rendered, plain = self._path_alt()
        return plain if plain is not None else ("path", rendered)

    def _path_alt(self):
        rendered, plain = self._path_seq()
        parts = [rendered]
        while self.at_punct("|"):
            self.take()
            nxt, _ = self._path_seq()
            parts.append(nxt)
        if len(parts) == 1:
            return rendered, plain
        return "(" + "|".join(parts) + ")", None

    def _path_seq(self):
        rendered, plain = self._path_elt()
        parts = [rendered]
        while self.at_punct("/"):
            self.take()
            nxt, _ = self._path_elt()
            parts.append(nxt)
        if len(parts) == 1:
            return rendered, plain
        return "(" + "/".join(parts) + ")", None

    def _path_elt(self):
        inv = False
        if self.at_punct("^"):
            self.take()
            inv = True
        rendered, plain = self._path_primary()
        if inv:
            rendered, plain = "(^" + rendered + ")", None
        if self.at_punct("*") or self.at_punct("+") or self.at_punct("?"):
            mod = self.take().val
            rendered, plain = "(" + rendered + mod + ")", None
        return rendered, plain

    def _path_iri(self) -> str:
        t = self.take()
        if t.kind == "iri":
            return t.val
        if t.kind == "pname":
            return self.expand(t.val)
        if t.kind == "kw" and t.val == "a":
            return RDF_TYPE
        raise ValueError(f"expected IRI in property path, got {t!r}")

    def _path_primary(self):
        t = self.peek()
        if t is not None and t.kind == "punct" and t.val == "!":
            self.take()
            if self.at_punct("("):
                self.take()
                alts = ["<" + self._path_iri() + ">"]
                while self.at_punct("|"):
                    self.take()
                    alts.append("<" + self._path_iri() + ">")
                self.expect_punct(")")
                return "!(" + "|".join(alts) + ")", None
            return "!<" + self._path_iri() + ">", None
        if t is not None and t.kind == "punct" and t.val == "(":
            self.take()
            rendered, _ = self._path_alt()
            self.expect_punct(")")
            return rendered, None
        iri = self._path_iri()
        return "<" + iri + ">", iri

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
        sel_exprs: dict[str, str] = {}  # alias -> value-expression source
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
                        src, alias = self.capture_as_expr()
                        sel_exprs[alias] = src
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

    def capture_as_expr(self) -> tuple[str, str]:
        """Capture ``expr AS ?alias )`` (the open paren is already
        consumed): the expression source up to the LAST depth-0 ``AS``,
        rendered for parse_filter's lexer, plus the alias."""
        depth = 1
        toks: list[_Tok] = []
        while depth:
            t = self.take()
            if t.kind == "punct" and t.val == "(":
                depth += 1
            elif t.kind == "punct" and t.val == ")":
                depth -= 1
                if not depth:
                    break
            toks.append(t)
        depth = 0
        as_at = None
        for i, t in enumerate(toks):
            if t.kind == "punct" and t.val == "(":
                depth += 1
            elif t.kind == "punct" and t.val == ")":
                depth -= 1
            elif depth == 0 and t.kind == "kw" and t.val == "as":
                as_at = i
        if as_at is None or as_at != len(toks) - 2:
            raise ValueError("expected (expression AS ?alias)")
        alias = toks[-1]
        if alias.kind != "var":
            raise ValueError("expected ?alias after AS")
        src = " ".join(self.render_tok(t) for t in toks[:as_at])
        if not src:
            raise ValueError("empty expression before AS")
        return src, alias.val

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

    def capture_parens(self) -> str:
        """Capture the source text of a balanced (...) — handed to
        parse_filter, which has its own lexer."""
        self.expect_punct("(")
        depth = 1
        parts: list[str] = []
        while depth:
            t = self.take()
            if t.kind == "punct" and t.val == "(":
                depth += 1
            elif t.kind == "punct" and t.val == ")":
                depth -= 1
                if not depth:
                    break
            parts.append(self.render_tok(t))
        return " ".join(parts)

    def render_tok(self, t: _Tok) -> str:
        if t.kind == "var":
            return "?" + t.val
        if t.kind == "str":
            escaped = t.val.replace("\\", "\\\\").replace('"', '\\"')
            return f'"{escaped}"'
        if t.kind == "iri":
            return f'"{t.val}"'  # IRIs compare as plain strings in our model
        if t.kind == "pname":
            return f'"{self.expand(t.val)}"'
        return str(t.val)

    def group(self) -> dict:
        """One { ... } group → {'patterns': [...], 'filters': [...],
        'optionals': [...], 'minuses': [...], 'not_exists': [...],
        'values': (vars, rows) | None, 'unions': [[group, ...], ...],
        'binds': [(var, expr_src)], 'subqueries': [parsed query dicts]}."""
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
                    out["filters"].append(self.capture_parens())
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
                src, var = self.capture_as_expr()
                out["binds"].append((var, src))
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
            return rows
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
        return rows

    def values_datum(self):
        t = self.take()
        if t.kind == "kw" and t.val == "undef":
            return None
        if t.kind in ("str", "num"):
            return t.val
        if t.kind == "iri":
            return t.val
        if t.kind == "pname":
            return self.expand(t.val)
        raise ValueError(f"bad VALUES datum {t!r}")

    # -- solution modifiers -----------------------------------------------
    def modifiers(self, sub: bool = False) -> dict:
        group_by: list[str] = []
        having: str | None = None
        order: list[str] = []
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
            having = self.capture_parens()
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
                    order.append(f"{d}(?{v.val})")
                    continue
                t = self.peek()
                if t is not None and t.kind == "var":
                    self.take()
                    order.append(f"?{t.val}")
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


def _anti_compatible(left: DataFrame, right: DataFrame, spec: str) -> DataFrame:
    shared = sorted(set(left.columns) & set(right.columns))
    if not shared:
        if spec == "minus":
            return left  # disjoint domains: MINUS removes nothing
        probe = right.limit(1).select(F.lit(1).alias("_ne"))
        return (
            left.join(F.broadcast(probe), how="left")
            .filter(F.col("_ne").isNull())
            .drop("_ne")
        )
    return left.join(right.select(*shared).dropDuplicates(shared), shared, "left_anti")


def _semi_compatible(left: DataFrame, right: DataFrame) -> DataFrame:
    """FILTER EXISTS: keep solutions with a compatible row in ``right`` —
    a left-semi join on the shared variables (deduped right side, so
    multiplicities never inflate); with no shared variable it degrades to
    a broadcast 1-row non-emptiness probe, like its NOT EXISTS twin."""
    shared = sorted(set(left.columns) & set(right.columns))
    if not shared:
        probe = right.limit(1).select(F.lit(1).alias("_pe"))
        return (
            left.join(F.broadcast(probe), how="left")
            .filter(F.col("_pe").isNotNull())
            .drop("_pe")
        )
    return left.join(right.select(*shared).dropDuplicates(shared), shared, "left_semi")


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
        _META_FN_RE.search(e)
        for e in list(body["filters"]) + [src for _, src in body["binds"]]
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
            s, (_, path_src), o, g = pat
            if g.startswith("?"):
                raise ValueError(
                    "property paths inside GRAPH with a variable graph "
                    "term are not supported (use a constant graph IRI)"
                )
            path_stmts = stmts.filter(F.col(g_col) == g)
        else:
            s, (_, path_src), o = pat
            path_stmts = stmts
        rel = path_expr(path_stmts, path_src, **cols)
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
            probe = rel.limit(1).select(F.lit(1).alias("_pe"))
            if sol is None:
                sol = probe.drop("_pe")
            else:
                sol = (sol.join(F.broadcast(probe), how="left")
                       .filter(F.col("_pe").isNotNull()).drop("_pe"))
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
        rels = [
            _compile_group(stmts, b, numeric, s_col, p_col, o_col, g_col)
            for b in branches
        ]
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
        right = _compile_group(stmts, opt, numeric, s_col, p_col, o_col, g_col)
        shared = sorted(set(sol.columns) & set(right.columns))
        if not shared:
            raise ValueError(
                "OPTIONAL group shares no variable with the required group "
                "(not well-designed)"
            )
        sol = sol.join(right, shared, "left")
    for mn in body["minuses"]:
        sol = _anti_compatible(
            sol, _compile_group(stmts, mn, numeric, s_col, p_col, o_col, g_col),
            "minus",
        )
    for ne in body["not_exists"]:
        sol = _anti_compatible(
            sol, _compile_group(stmts, ne, numeric, s_col, p_col, o_col, g_col),
            "not_exists",
        )
    for ex in body["exists"]:
        sol = _semi_compatible(
            sol, _compile_group(stmts, ex, numeric, s_col, p_col, o_col, g_col)
        )
    if body["values"]:
        rows = body["values"]
        vars_ = sorted({k for row in rows for k in row})
        missing = [v for v in vars_ if v not in sol.columns]
        if missing:
            raise ValueError(f"VALUES variables {missing} not bound by the group")
        spark = stmts.sparkSession
        inline = local_rows_df(
            spark,
            [tuple(row.get(v) for v in vars_) for row in rows],
            ", ".join(f"`__v_{v}` string" for v in vars_),
        )
        pred = None
        for v in vars_:
            c = F.col(f"__v_{v}").isNull() | (F.col(f"__v_{v}") == F.col(v))
            pred = c if pred is None else pred & c
        sol = sol.join(F.broadcast(inline), pred).drop(
            *[f"__v_{v}" for v in vars_]
        )
    if body["binds"]:
        # BIND extends the group's solutions in textual order; applied
        # before FILTER, whose scope is the whole group (§17.2)
        sol = bgp_extend(sol, body["binds"])
    for fexpr in body["filters"]:
        sol = sol.filter(_compile_filter(parse_filter(fexpr), sol.columns))
    if meta_needed:
        sol = sol.drop(*[c for c in sol.columns if c.endswith(META_SUFFIXES)])
    return sol


def _apply_forms(stmts: DataFrame, q: dict, sol: DataFrame,
                 numeric: tuple) -> DataFrame:
    """CONSTRUCT templating / aggregation / projection / solution
    modifiers over a compiled group solution."""
    if q["form"] == "construct":
        if q["order"]:
            sol = order_solutions(
                sol, q["order"], limit=q["limit"], offset=q["offset"] or 0,
                numeric=numeric,
            )
        else:
            if q["offset"]:
                sol = sol.offset(q["offset"])
            if q["limit"] is not None:
                sol = sol.limit(q["limit"])
        outs = []
        for s, p, o in q["template"]:
            tcols = []
            for name, term in zip(("s", "p", "o"), (s, p, o)):
                if term.startswith("?"):
                    var = term[1:]
                    if var not in sol.columns:
                        raise ValueError(
                            f"template variable ?{var} not bound by the group"
                        )
                    tcols.append(F.col(var).alias(name))
                else:
                    tcols.append(F.lit(term).alias(name))
            outs.append(sol.select(*tcols).filter(
                F.col("s").isNotNull() & F.col("p").isNotNull()
                & F.col("o").isNotNull()
            ))
        acc = outs[0]
        for nxt in outs[1:]:
            acc = acc.unionByName(nxt)
        # CONSTRUCT output is a GRAPH: duplicates collapse (§16.2) — the
        # same single dedup exchange every statement producer ends with
        return acc.dropDuplicates(["s", "p", "o"])

    aggs, group_by = q["aggs"], q["group_by"]
    sel_exprs = q.get("sel_exprs") or {}
    if aggs or group_by:
        fns = {
            "count": lambda c, d, sep: (
                F.count_distinct(F.col(c)) if d
                else (F.count(F.lit(1)) if c == "*" else F.count(c))
            ),
            "sum": lambda c, d, sep: F.sum(F.col(c).try_cast("double")),
            "avg": lambda c, d, sep: F.avg(F.col(c).try_cast("double")),
            "min": lambda c, d, sep: F.min(c),
            "max": lambda c, d, sep: F.max(c),
            # the spec lets SAMPLE pick ANY group member — MIN so repeated
            # runs and re-partitions agree (determinism over arbitrariness)
            "sample": lambda c, d, sep: F.min(c),
            # the spec fixes no GROUP_CONCAT order — sorted, same reason;
            # still one partial-aggregatable exchange
            "group_concat": lambda c, d, sep: F.array_join(
                F.array_sort(F.collect_set(c) if d else F.collect_list(c)),
                sep,
            ),
        }
        exprs = []
        for alias, (fn, var, dist, sep) in aggs.items():
            if var == "*" and fn != "count":
                raise ValueError(f"{fn.upper()}(*) is not valid SPARQL")
            if var != "*" and var not in sol.columns:
                raise ValueError(f"aggregate variable ?{var} not bound")
            if dist and fn not in ("count", "group_concat"):
                raise ValueError(
                    "DISTINCT inside aggregates supports COUNT and "
                    "GROUP_CONCAT only"
                )
            exprs.append(fns[fn](var, dist, sep).alias(alias))
        bad = [g for g in group_by if g not in sol.columns]
        if bad:
            raise ValueError(f"GROUP BY variables {bad} not bound")
        non_agg = [v for v in (q["proj"] or []) if v not in aggs]
        stray = [v for v in non_agg if v not in group_by and v not in sel_exprs]
        if stray:
            raise ValueError(
                f"projected variables {stray} are neither aggregated nor "
                "grouped (SPARQL 1.1 §18.2.4 projection restriction)"
            )
        if not exprs:
            raise ValueError("GROUP BY requires at least one aggregate in SELECT")
        sol = sol.groupBy(*group_by).agg(*exprs)
        if q["having"]:
            sol = sol.filter(
                _compile_filter(parse_filter(q["having"]), sol.columns)
            )
    elif q["having"]:
        raise ValueError("HAVING requires GROUP BY / aggregates")

    # SELECT expressions extend AFTER grouping (§18.4.4) so they can
    # reference aggregate aliases; like BIND they are codegen projections
    for alias, src in sel_exprs.items():
        if alias in sol.columns:
            raise ValueError(f"SELECT expression alias ?{alias} already bound")
        sol = sol.withColumn(alias, compile_value_expr(src, sol.columns))

    if q["proj"] is not None:
        missing = [v for v in q["proj"] if v not in sol.columns]
        if missing:
            raise ValueError(f"SELECT variables {missing} not bound by the group")
        sol = sol.select(*q["proj"])
    if q["distinct"]:
        sol = sol.dropDuplicates()
    if q["order"]:
        sol = order_solutions(
            sol, q["order"], limit=q["limit"], offset=q["offset"] or 0,
            numeric=numeric,
        )
    else:
        if q["offset"]:
            sol = sol.offset(q["offset"])
        if q["limit"] is not None:
            sol = sol.limit(q["limit"])
    return sol


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
