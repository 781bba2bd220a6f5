"""Entity linking: dictionary candidates + deterministic-embedding scoring.

The gazetteer is tiny → broadcast hash join (never shuffles the mention
stream). Where a surface has multiple candidate entities, the winner is the
highest cosine similarity between a hashed-character-trigram embedding of the
surface and of the entity label — deterministic (no model weights in this
environment; the embedding is the real vectorized computation a learned
encoder would slot into).

Scale note: the deterministic embedding depends only on (surface,
entity_label), so scoring collapses to the DISTINCT dictionary pairs —
computed once on the driver and broadcast — and candidate selection is a
plain max over ≤|gazetteer| rows. No per-row Python, no window over the
mention stream (an earlier per-row pandas-UDF version spent ~40 s at 800k
pages embedding 6.5M rows that had ≤40 distinct inputs). A context-sensitive
encoder would instead batch per distinct (surface, context-window) — still
Arrow-batched, still never a row-at-a-time UDF.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from sparkrdf.extract.gazetteer import entity_rows
from sparkrdf.hashing import fingerprint64
from sparkrdf.localdf import local_rows_df

EMB_DIM = 64


def embed_text(s: str) -> np.ndarray:
    """Hashed char-trigram embedding, L2-normalized. Deterministic."""
    v = np.zeros(EMB_DIM, dtype=np.float64)
    s = (s or "").lower()
    for i in range(len(s) - 2):
        h = fingerprint64(s[i : i + 3])
        v[h % EMB_DIM] += 1.0 if (h >> 32) & 1 else -1.0
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


def scored_gazetteer():
    """(surface, entity_iri, class_iri, entity_label, score) — cosine scored,
    best candidate per surface already selected (deterministic tie-break)."""
    best: dict[str, tuple] = {}
    for surface, ent, cls, label in entity_rows():
        score = float(np.dot(embed_text(surface), embed_text(label)))
        cand = (surface, ent, cls, label, round(score, 6))
        cur = best.get(surface)
        # highest score wins; ties broken by entity IRI ascending
        if cur is None or cand[4] > cur[4] or (cand[4] == cur[4] and cand[1] < cur[1]):
            best[surface] = cand
    return sorted(best.values())


def link_mentions(spark, mentions):
    """mentions(url, surface, n, first_off) →
    links(url, surface, n, entity_iri, class_iri, entity_label, score)."""
    gaz = local_rows_df(
        spark,
        scored_gazetteer(),
        "surface string, entity_iri string, class_iri string, entity_label string, score double",
    )
    return mentions.join(F.broadcast(gaz), "surface", "inner")
