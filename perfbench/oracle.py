"""Independent expected output for a sample of pages.

Rebuilt without Spark: ``pages.page_row`` for the page columns, Python ``re``
with ``extract.ner.mention_pattern`` for mentions, the gazetteer tables for
linking, and the vendored ``hashing.farmhash_key`` for IRIs and RPT keys.
The checks compare these against what the Spark job wrote and require
precision = recall = 1.0 (equal multisets).
"""

from __future__ import annotations

import re
from collections import Counter

from sparkrdf.extract.gazetteer import PAGE, PREDICATES, RDF_TYPE
from sparkrdf.extract.link import scored_gazetteer
from sparkrdf.extract.ner import mention_pattern
from sparkrdf.extract.pipeline import CLS_WEBPAGE, XSD
from sparkrdf.hashing import edge_key, farmhash_key
from sparkrdf.pages import page_row

_MENTION = re.compile(mention_pattern())
_LINK = {surface: (ent, cls) for surface, ent, cls, _label, _score in scored_gazetteer()}


def page_iri(i: int) -> str:
    return PAGE + farmhash_key(page_row(i)[0])


def expected_statements(indexes) -> Counter:
    """(s, p, o_kind, o, o_datatype) statements whose subject is one of the
    sample pages or an entity those pages mention."""
    out: Counter = Counter()
    entities = {}
    for i in indexes:
        url, ts, _html, text, lang = page_row(i)
        s = PAGE + farmhash_key(url)
        out[(s, RDF_TYPE, "URIRef", CLS_WEBPAGE, None)] += 1
        out[(s, PREDICATES["url"], "Literal", url, None)] += 1
        out[(s, PREDICATES["lang"], "Literal", lang, None)] += 1
        out[(s, PREDICATES["fetchedAt"], "Literal", ts.strftime("%Y-%m-%dT%H:%M:%SZ"), XSD + "dateTime")] += 1
        out[(s, PREDICATES["tokenCount"], "Literal", str(len(re.split(r"\s+", text))), XSD + "integer")] += 1
        linked = {_LINK[m.group(1)] for m in _MENTION.finditer(text)}
        for ent, cls in linked:
            out[(s, PREDICATES["mentions"], "URIRef", ent, None)] += 1
            entities[ent] = cls
    for ent, cls in entities.items():
        out[(ent, RDF_TYPE, "URIRef", cls, None)] += 1
    return out


def expected_edge_keys(stmts: Counter) -> Counter:
    """RPT ``_key`` of each expected statement: farmhash of the joined
    farmhash term keys."""
    return Counter(
        {edge_key(farmhash_key(s), farmhash_key(p), farmhash_key(o)): n for (s, p, _k, o, _d), n in stmts.items()}
    )


def subject_vertex_ids(stmts: Counter, name: str) -> list[str]:
    """``_from`` values of the expected statements' subjects."""
    return sorted({f"{name}_URIRef/{farmhash_key(s)}" for (s, _p, _k, _o, _d) in stmts})


def check_statements(statements_df, stmts: Counter) -> list[str]:
    """Statements table rows with a sampled subject must equal ``stmts``."""
    from pyspark.sql import functions as F

    subjects = sorted({k[0] for k in stmts})
    rows = (
        statements_df.filter(F.col("s").isin(subjects))
        .select("s", "p", "o_kind", "o", "o_datatype")
        .collect()
    )
    got = Counter(tuple(r) for r in rows)
    return _diff("statements", stmts, got)


def check_edges(edges_df, stmts: Counter, name: str) -> list[str]:
    """Edge keys leaving the sampled subjects must equal the expected keys."""
    from pyspark.sql import functions as F

    rows = edges_df.filter(F.col("_from").isin(subject_vertex_ids(stmts, name))).select("_key").collect()
    got = Counter(r[0] for r in rows)
    return _diff("edge keys", expected_edge_keys(stmts), got)


def _diff(what: str, want: Counter, got: Counter) -> list[str]:
    if want == got:
        return []
    hit = sum((want & got).values())
    p = hit / max(sum(got.values()), 1)
    r = hit / max(sum(want.values()), 1)
    missing = list((want - got).elements())[:3]
    extra = list((got - want).elements())[:3]
    return [f"{what}: precision={p:.4f} recall={r:.4f} missing={missing} extra={extra}"]
