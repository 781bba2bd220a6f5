"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators over the driver testdata tables;
``oracle_sql()`` gives the DuckDB-equivalent SQL. Farmhash keys are not
SQL-expressible, so KG queries either (a) use ``adb:key`` overrides for
variable subjects (``d{doc_id}``) and bake the *fixed* gazetteer constants
into the oracle strings at generation time, or (b) project key columns away.
Queries whose semantics are not SQL-expressible (IVF probing, binary image
decode) have no oracle entry → driver records rows-only; the pages pipeline
IS oracled by materializing its synthesized input to parquet and running
both engines over the same file (see ``q_kg_pages_pipeline``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve module-globally

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkrdf import dockg
from sparkrdf import terms as T
from sparkrdf.dedupe import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_P,
    SIMHASH_BITS,
    exact_dedup,
    minhash_bands,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_groups,
    simhash_near_pairs,
)
from sparkrdf.hashing import farmhash_key
from sparkrdf.pgt import pgt_transform
from sparkrdf.rpt import rpt_transform
from sparkrdf.similarity import blocked_near_dup, brute_force_topk, ivf_topk
from sparkrdf.textops import (
    BPE_TOKEN_RE,
    LANG_ORDER,
    LANG_STOPWORDS,
    PII_EMAIL_RE,
    PII_IPV4_RE,
    PII_PHONE_RE,
    bpe_ish_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)

# ---------------------------------------------------------------------------
# shared constants for oracle generation
# ---------------------------------------------------------------------------

_GAZ = dockg.DOC_GAZETTEER
_ENT_KEY = {t: farmhash_key(dockg.entity_iri(t)) for t, _ in _GAZ}
_CLS_KEY = {c: farmhash_key(dockg.class_iri(c)) for _, c in _GAZ}
_CLS_KEY["Document"] = farmhash_key(dockg.CLS_DOCUMENT)
_PRED = {
    "mentions": dockg.P_MENTIONS,
    "type": T.RDF_TYPE,
    "lang": dockg.P_LANG,
    "tokenCount": dockg.P_TOKENS,
}

_GAZ_VALUES = ", ".join(
    f"('{t}', '{dockg.entity_iri(t)}', '{dockg.class_iri(c)}', '{c}', "
    f"'{_ENT_KEY[t]}', '{_CLS_KEY[c]}')"
    for t, c in _GAZ
)

_DOC_CTES = f"""
gaz(term, ent, cls, cls_label, ent_key, cls_key) AS (VALUES {_GAZ_VALUES}),
docs AS (
  SELECT doc_id, text, lang, 'doc://' || doc_id AS s,
         ' ' || lower(text) || ' ' AS padded,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS VARCHAR) AS ntok
  FROM documents),
mentions AS (
  SELECT d.s, d.doc_id, g.ent, g.cls, g.cls_label, g.ent_key, g.cls_key
  FROM docs d JOIN gaz g ON d.padded LIKE '% ' || g.term || ' %')
"""

_RDF_TYPE = T.RDF_TYPE
_XSD_INT = T.XSD + "integer"


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Small single-file parquet reads arrive as ONE partition (a parquet
    file splits at row-group granularity), which serializes every CPU-heavy
    expression tree downstream onto one core. Spread rows across the
    cluster's task slots — the production input is thousands of files and
    parallelizes naturally; this makes the test-scale input behave the same.
    The shuffle moved is the small table itself (milliseconds)."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# ---------------------------------------------------------------------------
# KG queries
# ---------------------------------------------------------------------------


def q_kg_doc_triples(spark, sf_dir):
    t = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return t.select(
        F.col("s").alias("subj"), F.col("p").alias("pred"), F.col("o").alias("obj")
    )


def q_kg_rpt_edges(spark, sf_dir):
    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    edges = rpt_transform(stmts, "KG")["edges"]
    return edges.filter(~F.col("_to").startswith("KG_Literal/")).select(
        "collection", "_from", "_to", "_uri", "_label"
    )


def q_kg_rpt_ctx_edges(spark, sf_dir):
    """M7 contextualization on the RPT path, oracle-checked: untyped
    predicates gain rdf:Property typing edges and typed subjects/objects
    introspect rdfs:domain/range edges onto their predicates
    (reference main.py:3972-4130)."""
    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    edges = rpt_transform(stmts, "KG", contextualize_graph=True)["edges"]
    return edges.filter(~F.col("_to").startswith("KG_Literal/")).select(
        "collection", "_from", "_to", "_uri", "_label"
    )


def q_kg_rpt_vertices(spark, sf_dir):
    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    v = rpt_transform(stmts, "KG")["vertices"]
    return v.select(
        "collection", "_uri", "_label", "_rdftype", "_value", "_lang", "_datatype"
    ).dropDuplicates()


def q_kg_pgt_vertices(spark, sf_dir):
    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    v = pgt_transform(stmts, "KG")["vertices"]
    return v.select("collection", "_uri", "_label", "_rdftype", "properties")


def q_kg_pgt_edges(spark, sf_dir):
    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    e = pgt_transform(stmts, "KG")["edges"]
    return e.select("collection", "_from", "_to", "_uri", "_label")


def q_kg_lpg_edges(spark, sf_dir):
    """LPG model (single Node/Edge collections, sparkrdf/pgt.py
    lpg_transform): every statement lands in 'Edge' with the predicate kept
    as _label; resource endpoints move to 'Node', Class pins stay."""
    from sparkrdf.pgt import lpg_transform

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    e = lpg_transform(stmts, "KG")["edges"]
    return e.select("collection", "_from", "_to", "_uri", "_label")


def q_kg_pgt_ctx_edges(spark, sf_dir):
    """M7 on the PGT path: type edges land in collection 'type' with
    Property/Class endpoints; introspection edges in 'domain'/'range'."""
    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    e = pgt_transform(stmts, "KG", contextualize_graph=True)["edges"]
    return e.select("collection", "_from", "_to", "_uri", "_label")


def q_kg_pgt_edge_defs(spark, sf_dir):
    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir), with_adb_keys=True)
    d = pgt_transform(stmts, "KG")["edge_definitions"]
    froms = d.select(
        "edge_collection", F.lit("from").alias("side"), F.explode("from_cols").alias("col")
    )
    tos = d.select(
        "edge_collection", F.lit("to").alias("side"), F.explode("to_cols").alias("col")
    )
    return froms.unionByName(tos)


# phrase dictionary for the oracle-checked NER stage over `documents`:
# vocabulary of the driver's synthetic text, with overlapping phrases so
# leftmost-longest resolution is actually exercised ("sort table" beats
# "table", which beats nothing once consumed)
DOC_NER_DICT = [
    "hash value", "sort table", "table part", "window", "table",
    "merge", "spark", "hash", "part", "scan",
]


def q_kg_doc_mentions(spark, sf_dir):
    """The pipeline's dictionary-NER stage (Arrow-batched mapInPandas regex,
    sparkrdf/extract/ner.py) over the documents table. Oracle: DuckDB
    regexp_extract_all with the identical longest-first alternation —
    verified to reproduce Python re's leftmost-first scan exactly.
    first_off is projected away (substring position is not recoverable via
    regexp_extract_all); n is the attributed non-overlapping match count."""
    from sparkrdf.extract.ner import detect_mentions

    m = detect_mentions(
        _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
        id_col="doc_id", text_col="text",
    )
    return m.select("doc_id", "surface", F.col("n").cast("int").alias("n"))


def q_kg_doc_mentions_jvm(spark, sf_dir):
    """The all-JVM NER variant (regexp_extract_all inside codegen — the
    flagship pipeline's path, sparkrdf/extract/ner.py detect_mentions_jvm)
    against the same DuckDB oracle: three regex engines, one answer."""
    from sparkrdf.extract.ner import detect_mentions_jvm

    m = detect_mentions_jvm(
        _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
        id_col="doc_id", text_col="text",
    )
    return m.select("doc_id", "surface", F.col("n").cast("int").alias("n"))


def q_kg_entity_resolution(spark, sf_dir):
    """Cross-document entity resolution (sparkrdf/extract/resolve.py):
    suffix-coreference folds within-document short forms ("table" after
    "sort table") into their long form, then one hash aggregate builds the
    corpus-wide canonical entity table. Oracle: the identical rule in pure
    SQL — normalize, last-token left join per document, min-long-form
    tie-break, aggregate."""
    from sparkrdf.extract.ner import detect_mentions_jvm
    from sparkrdf.extract.resolve import entity_table

    m = detect_mentions_jvm(
        _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
        id_col="doc_id", text_col="text",
    )
    return entity_table(m, id_col="doc_id")


#: the pages pipeline's materialized input — synthesized once per run
#: (deterministic, idempotent overwrite) so Spark and the DuckDB oracle read
#: the exact same parquet file. Fixed n=2000 → a static path the oracle SQL
#: string can bake in.
PAGES_MAT_PATH = "/tmp/sparkrdf_materialized_pages2000.parquet"


def q_kg_pages_pipeline(spark, sf_dir):
    """The real Common-Crawl-style pipeline (binary html → triples).

    Pages are synthesized deterministically, the page IRI is minted
    (farmhash — the one non-SQL-expressible step, itself Guava-pinned in
    test_hashing), and the table is materialized to PAGES_MAT_PATH; both
    this query and the DuckDB oracle then run over that same file, so the
    statement generation (metadata explode, NER, linking, canonical
    predicates) is fully value-checked."""
    from sparkrdf.extract.mint import with_page_iri
    from sparkrdf.extract.pipeline import extract_triples
    from sparkrdf.pages import synthesize_pages

    pages = with_page_iri(synthesize_pages(spark, 2000))
    pages.select("url", "warc_ts", "text", "lang", "page_iri").coalesce(
        1
    ).write.mode("overwrite").parquet(PAGES_MAT_PATH)
    # the materialized fixture is ONE file = ONE scan partition; spread it
    # so the extraction regex work parallelizes (row-identical output)
    mat = _spread(spark, spark.read.parquet(PAGES_MAT_PATH))
    t = extract_triples(spark, mat)
    return t.select(
        F.col("s").alias("subj"), F.col("p").alias("pred"), F.col("o").alias("obj")
    )


# ---------------------------------------------------------------------------
# dedup / text / similarity queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir)).select(
        "fp", F.col("n_dups").cast("long").alias("n_dups"), F.col("keep_id").alias("keep_id")
    )


def q_dedup_minhash_bands(spark, sf_dir):
    return minhash_bands(_docs(spark, sf_dir)).select(
        F.col("id").alias("id"), F.col("band_idx").cast("int").alias("band_idx"), "band_hash"
    )


def q_dedup_minhash_pairs(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: distributed hash-to-min connected components over
    the verified Jaccard pair graph. Oracle: DuckDB recursive-CTE transitive
    closure — an independent definition of connectivity."""
    from sparkrdf.dedupe import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), threshold=0.5)


def q_text_cluster_split(spark, sf_dir):
    """Contamination-safe split (sparkrdf/curate.py cluster_split):
    near-duplicate clusters keyed by their canonical id so a whole family
    lands in one split — splitting raw ids leaks paraphrases across the
    train/test boundary (Lee et al. 2022). Oracle: the recursive-CTE
    transitive closure + the identical md5 bucket arithmetic on the
    canonical key."""
    from sparkrdf.curate import cluster_split

    return cluster_split(_docs(spark, sf_dir), threshold=0.5)


def q_dedup_simhash(spark, sf_dir):
    return simhash_groups(_docs(spark, sf_dir)).select(
        "sig", F.col("n").cast("long").alias("n"), "keep_id"
    )


def q_dedup_simhash_h3(spark, sf_dir):
    """Hamming ≤ 3 near-dup pairs via lossless bit-band blocking; the oracle
    is the brute-force all-pairs definition, so the hash-match proves the
    banding loses nothing."""
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("tokens"),
        bpe_ish_count(F.col("text")).cast("long").alias("bpe_tokens"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_guess"),
        fingerprint(F.col("text")).alias("fp"),
    )


def q_text_hash_split(spark, sf_dir):
    """Deterministic train/val/test split — pure function of doc_id, no
    shuffle, reproducible across engines (the md5-bucket parity proven by
    the dedup oracles)."""
    from sparkrdf.textops import hash_split

    return hash_split(_docs(spark, sf_dir)).select("doc_id", "split")


def q_text_pack_bins(spark, sf_dir):
    """Sequence packing: sharded concat-then-chunk token-bin assignment.
    Oracle: identical window SQL in DuckDB."""
    from sparkrdf.textops import pack_documents

    return pack_documents(_docs(spark, sf_dir), budget_tokens=2048, n_shards=8)


def q_text_ngram_topk(spark, sf_dir):
    """Corpus top-20 word bigrams, deterministic (count desc, gram asc)
    tie-break — occurrence-level counting (not per-doc distinct)."""
    from sparkrdf.textops import ngram_topk

    return ngram_topk(_docs(spark, sf_dir), n=2, k=20)


def q_text_token_histogram(spark, sf_dir):
    """Token-length distribution in power-of-two buckets — the scalable
    histogram form of a length-percentile report."""
    from sparkrdf.textops import token_histogram

    return token_histogram(_docs(spark, sf_dir))


def q_text_quality_filter(spark, sf_dir):
    """Gopher/C4-style per-doc quality gate: rule flags + keep decision,
    pure codegen projection (the 100 TB shape: filter fused into the scan)."""
    from sparkrdf.textops import quality_filter

    return quality_filter(_docs(spark, sf_dir))


def q_text_repetition(spark, sf_dir):
    """Within-doc repetition signals (top-bigram fraction, duplicated-trigram
    fraction) — the Gopher repetition filters as uniform-key aggregates."""
    from sparkrdf.textops import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per-doc distinct word-3-gram overlap with a
    deterministic held-out "eval set" (doc_id % 17 == 0). Benchmark grams are
    deduped and broadcast (eval sets are tiny vs a 100 TB corpus), so the
    corpus scan never shuffles for the join; only matched grams reach the
    per-doc aggregation."""
    from sparkrdf.textops import decontaminate

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    return decontaminate(corpus, bench, n=3)


def q_corpus_rollup(spark, sf_dir):
    """Doc counts + token totals by ROLLUP(lang, source) — per-cell,
    per-lang and grand-total rows from ONE aggregation pass (Catalyst
    expands the grouping sets; still a single shuffle with map-side
    partials). Oracle: GROUP BY ROLLUP in DuckDB."""
    from sparkrdf.textops import token_count

    d = _docs(spark, sf_dir)
    return (
        d.rollup("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
        )
    )


def q_text_tfidf_topk(spark, sf_dir):
    """Top-5 TF-IDF terms per document — explode + two partial-combined
    hash aggregates + a term-key join; scores rounded before ranking so
    the tie-break is engine-exact."""
    from sparkrdf.textops import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=5)


def q_text_cap_per_domain(spark, sf_dir):
    """Hard cap: at most 50 documents per (lang, source), ordered by
    doc_id — deterministic domain budget enforcement."""
    from sparkrdf.textops import cap_per_key

    return cap_per_key(_docs(spark, sf_dir), ["lang", "source"], 50, "doc_id").select(
        "doc_id", "lang", "source"
    )


def q_text_boilerplate(spark, sf_dir):
    """CCNet-style cross-corpus line-level boilerplate scrub: drop every
    line whose normalized form appears in >= 3 distinct documents, rejoin
    survivors in order — one line-df aggregate + left_anti join."""
    from sparkrdf.textops import boilerplate_scrub

    return boilerplate_scrub(_docs(spark, sf_dir), min_docs=3)


def q_text_unigram_lp(spark, sf_dir):
    """Corpus-internal unigram log-prob per document (the cheap KenLM
    perplexity stand-in) — vocab aggregate + occurrence join + per-doc
    mean, rounded to 6 d.p. before compare."""
    from sparkrdf.textops import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def q_text_dup_grams(spark, sf_dir):
    """Cross-document duplicate 5-gram fraction per doc (span-dedup
    signal) — one (doc,gram) aggregate + one gram-keyed window, exact
    integer ratio rounded to 6 d.p."""
    from sparkrdf.textops import cross_doc_dup_grams

    return cross_doc_dup_grams(_docs(spark, sf_dir), n=5, min_docs=2)


def q_text_weighted_sample(spark, sf_dir):
    """Deterministic per-domain downsampling (domain mixing): keep 100% of
    src0, 50% of src1, 25% of src2, 10% of everything else — one codegen'd
    CASE + filter directly above the scan, zero shuffles."""
    from sparkrdf.textops import weighted_sample

    d = _docs(spark, sf_dir)
    kept = weighted_sample(
        d, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.1
    )
    return kept.select("doc_id", "source")


def _pii_injected() -> "F.Column":
    """Deterministic PII injection from doc_id — the synthetic corpus
    contains none; the SAME expression exists in the oracle SQL so the
    scrub is value-checked byte-for-byte."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail.example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call 555-0199 or ping 10.0."),
                (did % 256).cast("string"),
                F.lit(".1 ok"),
            ),
        ).otherwise(F.lit("")),
    )


def q_text_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4 / phone fragments) with per-category
    counts over deterministically PII-injected docs."""
    from sparkrdf.textops import pii_scrub

    d = _docs(spark, sf_dir)
    return pii_scrub(d.withColumn("text", _pii_injected()))


def q_corpus_curate(spark, sf_dir):
    """The composed curation pipeline (quality filter → PII scrub → exact
    dedup → deterministic split) end-to-end. Input is PII-injected and has
    exact duplicates planted (every 10th doc cloned under id+1e6 AFTER
    injection, so clone text is byte-identical and the dedup stage must
    collapse it to the original id)."""
    from sparkrdf.curate import curate_corpus

    inj = _docs(spark, sf_dir).withColumn("text", _pii_injected())
    clones = inj.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return curate_corpus(inj.unionByName(clones)).select(
        "doc_id", "text", "lang", "source", "fp", "n_tokens", "split"
    )


def _synth_url() -> "F.Column":
    """Deterministic messy URL from doc_id — scheme/host case, default port,
    www, trailing slash, utm params, unsorted query, fragment; residues
    chosen so distinct doc_ids collide post-canonicalization."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("HTTPS://WWW.Site"),
        (did % 17).cast("string"),
        F.lit(".Example.COM:443/a/b"),
        (did % 5).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z="),
        (did % 3).cast("string"),
        F.lit("&a=1"),
        F.when(did % 4 == 0, F.concat(F.lit("#s"), did.cast("string"))).otherwise(
            F.lit("")
        ),
    )


def q_web_url_canon(spark, sf_dir):
    """RFC-3986 syntax normalization + tracking-param strip, one codegen
    projection (sparkrdf.weburl) over deterministically synthesized messy
    URLs."""
    from sparkrdf.weburl import url_canon

    return url_canon(_docs(spark, sf_dir).withColumn("url", _synth_url()))


def q_web_url_dedup(spark, sf_dir):
    """Canonical-URL duplicate groups (n_docs, deterministic keep_id) — the
    first dedup pass of a web corpus, a single hash aggregate."""
    from sparkrdf.weburl import url_dedup_groups

    return url_dedup_groups(_docs(spark, sf_dir).withColumn("url", _synth_url()))


def q_corpus_profile(spark, sf_dir):
    """Per-(lang, source) corpus statistics: doc counts, exact distinct
    fingerprints, token totals, mean length."""
    from sparkrdf.textops import corpus_profile

    return corpus_profile(_docs(spark, sf_dir))


def q_sim_knn_join(spark, sf_dir):
    """Distributed kNN self-join (sparkrdf/similarity.py knn_join): every
    embedding's top-3 cosine neighbors WITHIN its IVF cell — one
    cell-keyed equi-join (Σ cell² work, AQE-split) + one id_a-keyed
    window; the operator that builds a similarity graph from an embedding
    table. The exhaustive config and cross-cell recall are pinned by
    pytest. Oracle: the identical same-cell join + windowed top-k in
    DuckDB."""
    from sparkrdf.similarity import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn_join(emb, k=3, cell_col="label")


def q_sim_topk(spark, sf_dir):
    return brute_force_topk(_emb(spark, sf_dir), query_id=0, k=10).select(
        "vec_id", "score"
    )


def q_sim_blocked_near_dup(spark, sf_dir):
    return blocked_near_dup(_emb(spark, sf_dir), threshold=0.35)


def q_sim_ivf_topk(spark, sf_dir):
    """IVF probe path (n_probe=2) with a full value oracle: DuckDB rebuilds
    the per-label centroids (unnest + AVG by position), ranks cells by
    centroid cosine with the same (desc, cell asc) tie-break, and searches
    exactly inside the probed cells."""
    return ivf_topk(_emb(spark, sf_dir), query_id=0, k=10, n_probe=2)


def q_sim_ivf_exhaustive(spark, sf_dir):
    """IVF with n_probe >= |cells| degenerates to exact search, so the
    whole two-stage machinery (centroid build, cell probe, in-cell exact
    scan) is oracle-checked against the brute-force SQL as well."""
    return ivf_topk(_emb(spark, sf_dir), query_id=0, k=10, n_probe=10**6)


def q_sim_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN (label-free bucketed cosine search). Full
    value oracle: the deterministic planes are baked into both engines, so
    signatures, candidate buckets (hamming probe) and the exact rescoring
    all reproduce in DuckDB."""
    from sparkrdf.similarity import lsh_cosine_topk

    return lsh_cosine_topk(_emb(spark, sf_dir), query_id=0, k=10, max_hamming=3)


# ---------------------------------------------------------------------------
# relational queries (SURVEY §2.8 standard categories)
# ---------------------------------------------------------------------------


def q_mm_image_features(spark, sf_dir):
    """Multimodal plumbing: synthesized deterministic binary images →
    Arrow-batched decode + feature extraction (width/height/luma/phash).
    No oracle: binary container decode is not SQL-expressible; correctness
    is pinned by tests/test_multimodal.py (determinism + corrupt-row
    survival + resize/frame-sample composition)."""
    from sparkrdf.multimodal import image_features, synthesize_media

    n = max(200, int(2000 * _sf_of(sf_dir) * 100))
    media = synthesize_media(spark, n, kind="image")
    return image_features(media).select(
        "doc_id", "width", "height", "channels", "phash", "ok"
    )


def q_mm_audio_features(spark, sf_dir):
    """Multimodal audio plumbing: synthesized deterministic binary audio →
    Arrow-batched decode + (sample_rate, duration, RMS, zero-crossings).

    FULL value oracle, unlike the image/video queries: the synthetic audio
    payload is a deterministic sine of the row id, so DuckDB recomputes the
    int16 samples from first principles (same FP op order, TRUNC-toward-zero
    cast) — proving the binary encode → Arrow decode → feature pipeline
    end-to-end, not just row counts. RMS is integer-exact (sum of exact
    int squares < 2^53, any summation order), so only the sin→int16
    truncation boundary could ever diverge (probed: 0/2000 mismatches)."""
    from sparkrdf.multimodal import audio_features, synthesize_media

    # fixed n (not sf-scaled): the oracle recomputes the same 2000 synthetic
    # rows, so query and oracle must agree on n at every sf
    media = synthesize_media(spark, 2000, kind="audio")
    return audio_features(media).select(
        "doc_id", "sample_rate", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 3).alias("rms"), "zero_crossings", "ok",
    )


def q_mm_video_frames(spark, sf_dir):
    """Multimodal video plumbing: binary video → frame sampling (1→many
    flatMap) → per-frame image features, the full decode pipeline
    composition. No oracle (binary decode); pinned by
    tests/test_multimodal.py frame-sample composition tests."""
    from sparkrdf.multimodal import image_features, sample_frames, synthesize_media

    n = max(100, int(500 * _sf_of(sf_dir) * 100))
    media = synthesize_media(spark, n, kind="video")
    frames = sample_frames(media, every_n=2)
    return image_features(
        frames.withColumn(
            "frame_id", F.concat_ws(":", "doc_id", F.col("frame_idx").cast("string"))
        ),
        id_col="frame_id",
        bin_col="frame",
    ).select(
        F.col("doc_id").alias("frame_id"), "width", "height", "channels", "phash", "ok"
    )


def _sf_of(sf_dir):
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return 0.01


_GOT_DUMP = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "data", "adb", "got_dump"
)
_GOT_NS = "http://adb/GameOfThrones"


def q_adb_dump_vertices(spark, sf_dir):
    """arangodump source (sparkrdf.adbdump): vendored GoT Characters
    collection → property docs. Value oracle: DuckDB reads the same JSONL
    dump directly; typed attributes (bool, int, list) must survive the
    system/dynamic split with Python-faithful types."""
    from sparkrdf.adbdump import read_arangodump

    v = read_arangodump(spark, _GOT_DUMP, graph_ns=_GOT_NS)["vertices"]
    return v.filter(F.col("collection") == "Characters").select(
        "collection",
        "_key",
        F.get_json_object("properties", "$.name").alias("name"),
        F.get_json_object("properties", "$.surname").alias("surname"),
        F.get_json_object("properties", "$.alive").cast("boolean").alias("alive"),
        F.get_json_object("properties", "$.age").cast("bigint").alias("age"),
        F.json_array_length(
            F.get_json_object("properties", "$.traits")
        ).cast("bigint").alias("n_traits"),
    )


def q_adb_dump_edges(spark, sf_dir):
    """arangodump source: GoT ChildOf edge collection → edge docs with the
    collection IRI as predicate and metadata packed into properties."""
    from sparkrdf.adbdump import read_arangodump

    e = read_arangodump(spark, _GOT_DUMP, graph_ns=_GOT_NS)["edges"]
    return e.select(
        "collection",
        "_key",
        "_from",
        "_to",
        F.col("_uri").alias("pred_uri"),
        F.get_json_object("properties", "$.foo").alias("foo"),
    )


def q_rel_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    # Aggregates are rendered as BIGINT cents on both engine and oracle sides:
    # decimal-typed outputs hash-mismatched under the driver's renderer even
    # with both sides pinned to DECIMAL(38,2) (values proven equal locally —
    # VERDICT r2 W1); integers hash identically under any renderer.
    cents = lambda c: F.round(F.sum(dec(c)) * 100).cast("bigint")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            cents("l_quantity").alias("sum_qty_cents"),
            cents("l_extendedprice").alias("sum_base_price_cents"),
            F.count("*").alias("count_order"),
        )
    )


def q_rel_join_rollup(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("total_cents"),
        )
    )


def q_rel_window_topk(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


def q_rel_anti_join(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey")


def q_evt_hourly(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("total_value_cents"),
        )
    )


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min idle gap) over the events table —
    the batch twin of a stateful-streaming session window. One shuffle on
    user_id; lag, running sum and the session aggregate all share it.
    Oracle: identical lag+cumsum window SQL in DuckDB."""
    from sparkrdf.eventops import sessionize

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(e, gap_minutes=30)


def q_evt_funnel(spark, sf_dir):
    """Ordered conversion funnel, ClickHouse-windowFunnel semantics
    (sparkrdf/eventops.py funnel): view → click → purchase per user,
    greedy-earliest chain, later steps within 24h of the first view.
    len(steps) user-keyed min-aggregates + joins, one shared partitioning.
    Oracle: the same per-step MIN chain as DuckDB CTEs."""
    from sparkrdf.eventops import funnel

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(e, ["view", "click", "purchase"], within_minutes=1440)


def q_evt_interval_merge(spark, sf_dir):
    """Gaps-and-islands interval coalescing (sparkrdf/eventops.py
    coalesce_intervals): per-user validity intervals [ts, ts + value
    minutes] (exact decimal arithmetic) merged where overlapping/touching —
    the temporal-KG normalization pass. One user-key shuffle shared by the
    running-max window, island sum and aggregate. Oracle: identical window
    algebra in DuckDB."""
    from sparkrdf.eventops import coalesce_intervals, epoch_us

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = e.select(
        "user_id",
        epoch_us("ts").alias("start_us"),
        (
            epoch_us("ts")
            + (F.col("value").cast("decimal(18,2)") * 60_000_000).cast("long")
        ).alias("end_us"),
    )
    return coalesce_intervals(iv)


def _comention(spark, sf_dir):
    """Distinct co-mention edges (u < v) from the JVM NER stage."""
    from sparkrdf.extract.ner import detect_mentions_jvm
    from sparkrdf.graphops import comention_edges

    m = detect_mentions_jvm(
        _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
        id_col="doc_id", text_col="text",
    )
    return comention_edges(m, doc_col="doc_id", ent_col="surface")


def q_graph_comention_edges(spark, sf_dir):
    """Entity co-occurrence graph: distinct (u < v) pairs of entities
    mentioned in the same document — per-doc self-join, work bounded by
    mentions-per-doc², never corpus²."""
    return _comention(spark, sf_dir)


def q_graph_degree_stats(spark, sf_dir):
    """Per-vertex degree of the co-mention graph — the skew diagnostic that
    seeds the triangle orientation."""
    from sparkrdf.graphops import degree_stats

    return degree_stats(_comention(spark, sf_dir))


def q_evt_error_attribution(spark, sf_dir):
    """As-of join: each error event attributed to the latest click of the
    same user at-or-before it (union+window, ONE shuffle on user_id — no
    inequality join). Oracle: the independent nested-loop formulation
    (LEFT JOIN + QUALIFY row_number)."""
    from sparkrdf.eventops import epoch_us
    from sparkrdf.joins import asof_join

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), epoch_us("ts").alias("err_us")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        epoch_us("ts").alias("click_us"),
    )
    return asof_join(
        errors, clicks,
        on=["user_id"], left_us="err_us", right_us="click_us",
        right_cols=["click_id", "click_us"], tiebreak="click_id",
    )


def q_evt_nearby_pairs(spark, sf_dir):
    """Range join: pairs of events from different users within 60 s of each
    other — band-bucketed equi-join (right side replicated into adjacent
    60 s buckets), never an |L|×|R| inequality join. Oracle: the plain
    inequality join in DuckDB."""
    from sparkrdf.eventops import epoch_us
    from sparkrdf.joins import range_join

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = e.select(
        F.col("event_id").alias("a_id"),
        F.col("user_id").alias("a_user"),
        epoch_us("ts").alias("a_us"),
    )
    b = e.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        epoch_us("ts").alias("b_us"),
    )
    return (
        range_join(a, b, "a_us", "b_us", 60_000_000)
        .filter((F.col("a_id") < F.col("b_id")) & (F.col("a_user") != F.col("b_user")))
        .select("a_id", "b_id", (F.col("b_us") - F.col("a_us")).alias("gap_us"))
    )


def q_kg_bgp_match(spark, sf_dir):
    """Basic-graph-pattern query over the doc-KG triple set: documents of
    type Document mentioning an entity of class Operator — three filtered
    scans of one statements table joined on their shared variables (the
    constant terms push down into the scan). Oracle: the same conjunctive
    join in DuckDB over the triples CTEs."""
    from sparkrdf.query import bgp_match

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return bgp_match(
        stmts,
        [
            ("?d", _RDF_TYPE, dockg.CLS_DOCUMENT),
            ("?d", dockg.P_MENTIONS, "?e"),
            ("?e", _RDF_TYPE, dockg.class_iri("Operator")),
        ],
    )


def q_kg_bgp_graph(spark, sf_dir):
    """SPARQL GRAPH (named-graph quad patterns, sparkrdf/query.py
    bgp_match 4-tuples): doc-subject statements are scoped into a
    per-language graph ``graph://{lang}``, entity-class statements into
    ``graph://meta``; the query binds the graph of each mention
    (``GRAPH ?g {{ ?d mentions ?e }}``) and joins the entity's class from
    the meta graph. One left join attaches graphs; the quad patterns are
    the same pushed-down filtered scans as triples. Oracle: the identical
    graph-tagged join in DuckDB."""
    from sparkrdf.query import bgp_match

    docs = _docs(spark, sf_dir)
    stmts = dockg.doc_triples(spark, docs)
    graphs = docs.select(
        F.concat(F.lit(dockg.DOC_PREFIX), F.col("doc_id").cast("string")).alias("s"),
        F.concat(F.lit("graph://"), F.col("lang")).alias("_g"),
    )
    quads = stmts.join(graphs, "s", "left").withColumn(
        "sub_graph", F.coalesce(F.col("_g"), F.lit("graph://meta"))
    ).drop("_g")
    return bgp_match(
        quads,
        [
            ("?d", dockg.P_MENTIONS, "?e", "?g"),
            ("?e", _RDF_TYPE, "?c", "graph://meta"),
        ],
    )


def _nary_mention_stmts(spark, sf_dir):
    """Doc-KG statements with mentions remodeled as n-ary blank-node
    structures (doc --hasMention--> _:m --entity/surface--> ...) — the
    bnode-bearing fixture the DESCRIBE queries recurse over. Returns
    (statements, docs)."""
    docs = _docs(spark, sf_dir)
    stmts = dockg.doc_triples(spark, docs)
    men = stmts.filter(F.col("p") == dockg.P_MENTIONS)
    bn = F.concat(F.lit("m:"), F.col("s"), F.lit("|"), F.col("o"))
    nul = F.lit(None).cast("string")

    def row(s_kind, s, p, o_kind, o):
        return men.select(
            F.lit(s_kind).alias("s_kind"),
            s.alias("s"),
            F.lit(p).alias("p"),
            F.lit(o_kind).alias("o_kind"),
            o.alias("o"),
            nul.alias("o_lang"),
            nul.alias("o_datatype"),
            nul.alias("sub_graph"),
        )

    nary = (
        row("URIRef", F.col("s"), dockg.P_HAS_MENTION, "BNode", bn)
        .unionByName(row("BNode", bn, dockg.P_ENT, "URIRef", F.col("o")))
        .unionByName(
            row(
                "BNode",
                bn,
                dockg.P_SURFACE,
                "Literal",
                F.regexp_extract(F.col("o"), r"entity/(.*)$", 1),
            )
        )
    )
    # left LAZY deliberately: consumers filter on constant predicates, and
    # Catalyst statically prunes non-matching union branches — an eager
    # checkpoint here was measured SLOWER for both the term-function BGP
    # (pays a full materialization its 3 pruned pattern scans never needed)
    # and DESCRIBE (whose loop already persists its own narrow projection)
    all_stmts = stmts.filter(F.col("p") != dockg.P_MENTIONS).unionByName(nary)
    return all_stmts, docs


def q_kg_describe(spark, sf_dir):
    """SPARQL DESCRIBE via Concise Bounded Description (sparkrdf/query.py
    describe_cbd): doc mentions are remodeled as n-ary blank-node
    structures (doc --hasMention--> _:m --entity/surface--> ...), and the
    German-language documents are described — their own statements plus,
    recursively, their mention bnodes' statements; IRI objects stop the
    recursion per the CBD spec. Frontier semi-joins per round, one final
    left-semi against the accumulated subject set. Oracle: the de-doc
    rows + their bnode rows spelled directly in DuckDB."""
    from sparkrdf.query import describe_cbd

    all_stmts, docs = _nary_mention_stmts(spark, sf_dir)
    seeds = docs.filter(F.col("lang") == "de").select(
        F.concat(F.lit(dockg.DOC_PREFIX), F.col("doc_id").cast("string")).alias("n")
    )
    return describe_cbd(all_stmts, seeds).select("s", "p", "o_kind", "o")


def q_kg_sparql_describe(spark, sf_dir):
    """``DESCRIBE ?d WHERE {...}`` via the string front end
    (sparkrdf/sparql.py → sparkrdf/query.py describe_cbd): the seed set
    comes from the WHERE group's DISTINCT ?d bindings (the de-language
    docs), then the same CBD bnode recursion q_kg_describe drives
    programmatically. Oracle: identical to kg_describe — string-level
    parse ≡ programmatic evaluation."""
    from sparkrdf.sparql import sparql_query

    all_stmts, _ = _nary_mention_stmts(spark, sf_dir)
    out = sparql_query(all_stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        DESCRIBE ?d WHERE {{ ?d kgp:lang "de" }}
    """)
    return out.select("s", "p", "o_kind", "o")


def q_kg_sparql_exists(spark, sf_dir):
    """``FILTER EXISTS`` via the string front end: documents that DO have
    an Operator-class mention — a left-semi join of the lang solutions
    against the deduped exists-group bindings (the positive twin of
    kg_bgp_not_exists' anti-join). Oracle: WHERE EXISTS in DuckDB."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d ?l WHERE {{
          ?d kgp:lang ?l .
          FILTER EXISTS {{ ?d kgp:mentions ?e .
                           ?e a <{dockg.class_iri("Operator")}> }}
        }}
    """)


def q_kg_rdfxml_triples(spark, sf_dir):
    """RDF/XML document ingestion (sparkrdf/rdfxml.py rdfxml_statements):
    per-part RDF/XML documents are rendered in-query (deterministic
    fixture covering typed nodes, xml:lang literals, rdf:resource links,
    rdf:datatype literals, and a parseType="Resource" blank node), then
    the from-scratch parser recovers the statement rows inside
    mapInPandas — zero shuffle, one Arrow-batched map per file split,
    per-document bnode prefixes derived from the url so labels are
    collision-free with no coordination (the reference ingests this
    format via rdflib Graph.parse, arango_rdf/main.py load_rdf family).
    Oracle: the statement rows written directly from the part columns,
    including the deterministic bnode labels."""
    from sparkrdf.rdfxml import rdfxml_statements

    # _spread: the single-file parquet read arrives as ONE partition, which
    # would run the whole per-document Python parse on one core (guide §6 —
    # production inputs are thousands of files and parallelize naturally)
    part = _spread(spark, spark.read.parquet(f"{sf_dir}/part.parquet"))
    key = F.col("p_partkey").cast("string")
    xml = F.concat(
        F.lit('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
              ' xmlns:kgp="http://kg.example.org/prop/"'
              ' xmlns:kgc="http://kg.example.org/class/">'
              '<kgc:Part rdf:about="urn:part:'), key,
        F.lit('"><kgp:name xml:lang="en">'), F.col("p_name"),
        F.lit('</kgp:name><kgp:brand rdf:resource="urn:brand:'),
        F.col("p_brand"),
        F.lit('"/><kgp:dims rdf:parseType="Resource">'
              '<kgp:size rdf:datatype="http://www.w3.org/2001/XMLSchema'
              '#integer">'), F.col("p_size").cast("string"),
        F.lit("</kgp:size></kgp:dims></kgc:Part></rdf:RDF>"),
    )
    docs = part.select(
        F.concat(F.lit("https://data.example.org/part/"), key).alias("url"),
        xml.alias("xml"),
    )
    return rdfxml_statements(docs)


def q_kg_jsonld_doc_triples(spark, sf_dir):
    """Standalone JSON-LD document ingestion (sparkrdf/jsonldoc.py
    jsonld_statements): per-order JSON-LD documents with an inline
    @context are rendered in-query (deterministic fixture covering term
    definitions, @type:"@id" coercion, compact IRIs, JSON-native integer
    typing, a nested @id node object, and a nested ANONYMOUS node whose
    bnode label is a pure function of the url), then the expansion-core
    parser recovers statement rows inside mapInPandas — zero shuffle
    (the reference ingests the format via rdflib Graph.parse
    format="json-ld"). Oracle: the statement rows written directly from
    the orders columns, including the deterministic bnode labels."""
    from sparkrdf.jsonldoc import jsonld_statements

    # _spread: single-partition parquet would run the per-document Python
    # expansion single-core (measured 6.0 s -> ~0.9 s on local[32])
    orders = _spread(spark, spark.read.parquet(f"{sf_dir}/orders.parquet"))
    key = F.col("o_orderkey").cast("string")
    j = F.concat(
        F.lit('{"@context":{"kg":"http://kg.example.org/prop/",'
              '"status":"kg:status",'
              '"cust":{"@id":"kg:customer","@type":"@id"}},'
              '"@id":"urn:order:'), key,
        F.lit('","@type":"http://kg.example.org/class/Order",'
              '"status":"'), F.col("o_orderstatus"),
        F.lit('","cust":{"@id":"urn:cust:'),
        F.col("o_custkey").cast("string"),
        F.lit('","kg:prio":'), key,
        F.lit('},"kg:meta":{"kg:priority":"'), F.col("o_orderpriority"),
        F.lit('"}}'),
    )
    docs = orders.select(
        F.concat(F.lit("https://data.example.org/order/"), key).alias("url"),
        j.alias("json"),
    )
    return jsonld_statements(docs)


def q_kg_table_triples(spark, sf_dir):
    """Web-table relational fact extraction (sparkrdf/extract/tables.py
    table_triples): per-nation HTML pages are rendered in-query from the
    customer table (deterministic fixture), then the extractor recovers
    per-customer (subject, header-predicate, cell) triples — the WebTables
    pattern. The extraction is one whole-stage-codegen projection
    (regexp tables→rows→cells + arrays_zip), no Python, no shuffle; the
    only exchange is the fixture's groupBy render. Oracle: the triples
    written directly from the customer columns."""
    from sparkrdf.extract.tables import table_triples

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    row_html = F.concat(
        F.lit("<tr><td>"), F.col("c_name"),
        F.lit("</td><td>"), F.col("c_mktsegment"),
        F.lit("</td><td>"), F.col("c_acctbal").cast("string"),
        F.lit("</td></tr>"),
    )
    pages = (
        cust.groupBy("c_nationkey")
        .agg(
            F.concat(
                F.lit(
                    "<html><body><table>"
                    "<tr><th>name</th><th>segment</th><th>acctbal</th></tr>"
                ),
                F.array_join(F.sort_array(F.collect_list(row_html)), ""),
                F.lit("</table></body></html>"),
            ).alias("html")
        )
        .select(
            F.concat(
                F.lit("https://data.example.org/nation/"),
                F.col("c_nationkey").cast("string"),
            ).alias("url"),
            "html",
        )
    )
    return table_triples(pages)


def q_kg_jsonld_triples(spark, sf_dir):
    """JSON-LD structured-data extraction (sparkrdf/extract/jsonld.py
    jsonld_triples): per-supplier pages carrying a schema.org ld+json
    block are rendered in-query (deterministic fixture), then the
    extractor recovers @id-subject triples — @type to rdf:type, keys
    resolved against the @context, numbers as their raw JSON text. All
    whole-stage codegen (regexp + built-in from_json + explodes), no
    Python, no shuffle. Oracle: the triples written directly from the
    supplier columns."""
    from sparkrdf.extract.jsonld import jsonld_triples

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    key = F.col("s_suppkey").cast("string")
    j = F.concat(
        F.lit('{"@context":"https://schema.org","@id":"urn:supplier:'),
        key,
        F.lit('","@type":"Organization","name":"'),
        F.col("s_name"),
        F.lit('","nation":'),
        F.col("s_nationkey").cast("string"),
        F.lit(',"balance":'),
        F.col("s_acctbal").cast("string"),
        F.lit("}"),
    )
    pages = sup.select(
        F.concat(F.lit("https://data.example.org/supplier/"), key).alias("url"),
        F.concat(
            F.lit('<html><head><script type="application/ld+json">'),
            j,
            F.lit("</script></head></html>"),
        ).cast("binary").alias("html"),
    )
    return jsonld_triples(pages)


def q_kg_page_meta(spark, sf_dir):
    """Head-metadata triples (sparkrdf/extract/metatags.py meta_triples)
    over the SAME materialized Common-Crawl-style pages table the web_*
    queries read: every page's <title> (and any OpenGraph/meta tags)
    becomes a per-page statement — the zero-cost structured channel a
    crawl KG starts from. One codegen projection per tag family, no
    shuffle. Oracle: the identical regex over the same parquet in
    DuckDB."""
    from sparkrdf.extract.metatags import meta_triples

    return meta_triples(_links_input(spark))


def q_kg_bgp_not_exists(spark, sf_dir):
    """SPARQL FILTER NOT EXISTS (sparkrdf/query.py bgp_not_exists):
    documents that do NOT mention any Operator-class entity — the left
    BGP anti-joined on the shared variable against the negated group
    (deduped, key-wide, AQE-broadcastable). The divergence from MINUS on
    disjoint variables is pinned by pytest. Oracle: the same NOT EXISTS
    correlated predicate in DuckDB."""
    from sparkrdf.query import bgp_not_exists

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return bgp_not_exists(
        stmts,
        [("?d", _RDF_TYPE, dockg.CLS_DOCUMENT)],
        [
            ("?d", dockg.P_MENTIONS, "?e"),
            ("?e", _RDF_TYPE, dockg.class_iri("Operator")),
        ],
    )


def q_kg_bgp_agg(spark, sf_dir):
    """SPARQL 1.1 aggregation (sparkrdf/query.py group_solutions): per
    document, COUNT of its mention solutions and the MIN entity, HAVING
    count ≥ 2 — the BGP join tree feeding ONE map-side-combinable hash
    aggregate, HAVING a post-aggregation filter. Oracle: identical
    GROUP BY / HAVING in DuckDB."""
    from sparkrdf.query import group_solutions

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return group_solutions(
        stmts,
        [("?d", dockg.P_MENTIONS, "?e")],
        group_by=["d"],
        aggregates={"n_ment": ("count", "*"), "first_ent": ("min", "e")},
        having="n_ment >= 2",
    )


def q_kg_bgp_filter(spark, sf_dir):
    """SPARQL FILTER expressions (sparkrdf/query.py bgp_filter): documents
    BGP-bound to their tokenCount and lang, filtered by a value expression
    mixing numeric coercion (?n > 40 — lexical forms compared as doubles),
    regex(), string equality and || — compiled to ONE codegen Filter, no
    UDF. Oracle: the same predicate written directly over the docs CTE."""
    from sparkrdf.query import bgp_filter, bgp_match

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    sol = bgp_match(
        stmts, [("?d", dockg.P_TOKENS, "?n"), ("?d", dockg.P_LANG, "?l")]
    )
    return bgp_filter(sol, '?n > 40 && (regex(?l, "^e") || ?l = "de")')


def q_kg_bgp_order(spark, sf_dir):
    """SPARQL ORDER BY/LIMIT solution modifiers (sparkrdf/query.py
    order_solutions): documents by tokenCount numerically descending,
    top 25, with the deterministic ?d ascending tie-break — plans as
    TakeOrderedAndProject (per-partition heap + single merge), never a
    global sort. Oracle: the same ORDER BY/LIMIT in DuckDB."""
    from sparkrdf.query import bgp_match, order_solutions

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    sol = bgp_match(stmts, [("?d", dockg.P_TOKENS, "?n")])
    return order_solutions(sol, ["desc(?n)", "?d"], limit=25, numeric=("n",))


def q_kg_sparql_select(spark, sf_dir):
    """SPARQL SELECT as a QUERY STRING (sparkrdf/sparql.py sparql_query —
    the parser+compiler over the algebra operators, the surface a
    reference user hands to rdflib's .query()): prologue PREFIX,
    predicate-object list, FILTER with numeric coercion/regex/||, ORDER BY
    DESC + tie-break + LIMIT. Compiles to the identical single Catalyst
    plan the programmatic operators produce (pushed constant scans, one
    codegen Filter, TakeOrderedAndProject). Oracle: the same predicate
    and ordering written directly over the docs CTE."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d ?n ?l WHERE {{
          ?d kgp:tokenCount ?n ; kgp:lang ?l .
          FILTER(?n > 40 && (regex(?l, "^e") || ?l = "de"))
        }} ORDER BY DESC(?n) ?d LIMIT 25
    """, numeric=("n",))


def q_kg_sparql_agg(spark, sf_dir):
    """SPARQL GROUP BY/HAVING via the string front end (sparkrdf/sparql.py):
    mentions per document with COUNT(*)/MIN aggregates and a HAVING
    cutoff — one map-side-combinable hash aggregate; exactly the plan
    q_kg_bgp_agg builds programmatically. Oracle: identical GROUP BY in
    DuckDB."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d (COUNT(*) AS ?n_ment) (MIN(?e) AS ?first_ent)
        WHERE {{ ?d kgp:mentions ?e . }}
        GROUP BY ?d HAVING(?n_ment >= 2)
    """)


def q_kg_sparql_path(spark, sf_dir):
    """Property-path PREDICATES in the SPARQL string front end
    (sparkrdf/sparql.py path_term → sparkrdf/query.py path_expr): the
    same §9.1 algebra kg_path_expr exercises programmatically —
    ``^mentions/mentions/(a|lang)?`` — written as a query string; the
    parser's path grammar (the one parse_path uses) builds the path AST
    and the endpoint relation joins like any BGP pattern. Oracle:
    identical to kg_path_expr."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?src ?dst WHERE {{
          ?src ^kgp:mentions/kgp:mentions/(a|kgp:lang)? ?dst
        }}
    """)


def q_kg_sparql_union(spark, sf_dir):
    """UNION joined with surrounding triples in the SPARQL string front
    end (sparkrdf/sparql.py group() → _compile_group): each branch a FULL
    recursively-compiled group (round-5 upgrade from triples-only,
    whole-body-only branches), multiset-unioned zero-shuffle and
    equi-joined with the enclosing mention pattern on the shared ?e.
    Oracle: mention pairs whose entity class is either branch's class."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT DISTINCT ?d ?e WHERE {{
          ?d kgp:mentions ?e .
          {{ ?e a <{dockg.class_iri("Operator")}> }}
          UNION
          {{ ?e a <{dockg.class_iri("Structure")}> }}
        }}
    """)


def q_kg_sparql_ask(spark, sf_dir):
    """SPARQL ASK via the string front end (sparkrdf/sparql.py): is there
    any document mentioning an Operator-class entity? Plans as a
    LIMIT-1-bounded probe of the BGP join feeding one keyless aggregate —
    Spark stops the scan at the first solution; never a driver-side
    count. Oracle: the same EXISTS in DuckDB."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        ASK {{ ?d kgp:mentions ?e . ?e a <{dockg.class_iri("Operator")}> }}
    """)


def q_kg_sparql_construct(spark, sf_dir):
    """SPARQL CONSTRUCT via the string front end (sparkrdf/sparql.py): the
    mention graph inverted into mentionedIn edges plus the entity's class
    assertion — the solution relation computed ONCE, each template row a
    zero-shuffle projection, one final (s,p,o) distinct (§16.2 graph
    semantics). Oracle: the two projections unioned in DuckDB."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        CONSTRUCT {{ ?e kgp:mentionedIn ?d . ?e a ?c }}
        WHERE {{ ?d kgp:mentions ?e . ?e a ?c }}
    """)


def q_kg_sparql_graph(spark, sf_dir):
    """SPARQL GRAPH quads via the string front end (sparkrdf/sparql.py):
    the same per-language named-graph dataset as q_kg_bgp_graph, queried
    with ``GRAPH ?g {{...}}`` + a constant-graph block — parsed from the
    string into the identical 4-tuple quad patterns. Oracle: the
    graph-tagged join spelled directly."""
    from sparkrdf.sparql import sparql_query

    docs = _docs(spark, sf_dir)
    stmts = dockg.doc_triples(spark, docs)
    graphs = docs.select(
        F.concat(F.lit(dockg.DOC_PREFIX), F.col("doc_id").cast("string")).alias("s"),
        F.concat(F.lit("graph://"), F.col("lang")).alias("_g"),
    )
    quads = stmts.join(graphs, "s", "left").withColumn(
        "sub_graph", F.coalesce(F.col("_g"), F.lit("graph://meta"))
    ).drop("_g")
    return sparql_query(quads, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d ?e ?g ?c WHERE {{
          GRAPH ?g {{ ?d kgp:mentions ?e }}
          GRAPH <graph://meta> {{ ?e a ?c }}
        }}
    """)


def q_kg_sparql_bind(spark, sf_dir):
    """SPARQL BIND + IN via the string front end (sparkrdf/sparql.py →
    sparkrdf/query.py bgp_extend / compile_value_expr): two Extend
    assignments (string builtins, arithmetic) and a FILTER mixing IN with
    a comparison over the bound value — all compiled to codegen Project +
    Filter expressions, zero UDFs, zero extra shuffles. Oracle: the same
    expressions written directly over the docs CTE."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d ?n ?tag ?score WHERE {{
          ?d kgp:tokenCount ?n ; kgp:lang ?l .
          BIND(concat(ucase(?l), ":", ?d) AS ?tag)
          BIND(?n * 2 + 1 AS ?score)
          FILTER(?l IN ("en", "de") && ?score > 21)
        }}
    """)


def q_kg_sparql_term_fns(spark, sf_dir):
    """SPARQL term functions via the string front end (sparkrdf/query.py
    bgp_match term_meta + _ExprCompiler): isBlank/isIRI/isLiteral kind
    tests, isNumeric, datatype() and lang() accessors and langMatches —
    evaluated against hidden per-variable term-metadata columns the BGP
    binds only when a group's FILTER/BIND needs them (and strips before
    solutions leave the group). All codegen Filter/Project expressions,
    zero UDFs. Oracle: the mention-bnode rows with the constant
    datatype/lang values spelled directly."""
    from sparkrdf.sparql import sparql_query

    all_stmts, _ = _nary_mention_stmts(spark, sf_dir)
    return sparql_query(all_stmts, f"""
        SELECT ?d ?m ?dt ?lv WHERE {{
          ?d <{dockg.P_HAS_MENTION}> ?m .
          ?d <{dockg.P_TOKENS}> ?n .
          ?d <{dockg.P_LANG}> ?l .
          FILTER (isblank(?m) && isiri(?d) && !isliteral(?d)
                  && isnumeric(?n) && !langmatches(lang(?l), "*"))
          BIND(datatype(?n) AS ?dt)
          BIND(lang(?l) AS ?lv)
        }}
    """)


def q_graph_scc(spark, sf_dir):
    """Strongly connected components of the DIRECTED host link graph
    (sparkrdf/graphops.py scc — Forward-Backward-Trim coloring): the web
    bow-tie decomposition's core primitive, the directed companion to
    graph_wcc. Trim peels the IN/OUT tendrils as singleton SCCs, forward
    min-label coloring partitions the remainder, per-class backward
    reachability from each root collects exact SCCs. Oracle: a DuckDB
    recursive-CTE pairwise reachability closure + mutual-reachability
    MIN — the independent textbook definition."""
    from sparkrdf.graphops import scc
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return scc(g.select("src_host", "dst_host"),
               src="src_host", dst="dst_host")


def q_kg_skolemized(spark, sf_dir):
    """Skolemization (sparkrdf/terms.py skolemize — rdflib
    Graph.skolemize parity, RDF 1.1 §3.5): every blank node of the n-ary
    mention structures becomes a stable
    ``/.well-known/genid/`` IRI — the transform that lets bnodes survive
    exports, MERGE sinks and snapshot diffs; deskolemize inverts it
    exactly (pytest). One codegen projection, zero shuffle. Oracle: the
    mention rows with the Skolem prefix concatenated directly."""
    from sparkrdf.terms import skolemize

    all_stmts, _ = _nary_mention_stmts(spark, sf_dir)
    nary = all_stmts.filter(
        F.col("p").isin(dockg.P_HAS_MENTION, dockg.P_ENT, dockg.P_SURFACE)
    )
    return skolemize(nary).select(
        "s_kind", "s", "p", "o_kind", "o"
    )


def q_graph_nf(spark, sf_dir):
    """Neighborhood function of the directed host graph (sparkrdf/
    graphops.py neighborhood_function — HyperANF/HyperBall, Boldi-Vigna):
    ordered pairs within distance t, the basis of effective-diameter
    measurement. This query runs the EXACT frontier-BFS verification
    config the sketch path is pinned against (pytest asserts the
    HLL mode within tolerance of this); the scale path carries one
    mergeable O(2^lg_k)-byte HLL sketch per node and one edge join +
    hll_union_agg per round. Oracle: DuckDB recursive min-distance
    closure with cumulative counts."""
    from sparkrdf.graphops import neighborhood_function
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return neighborhood_function(
        g.select("src_host", "dst_host"),
        src="src_host", dst="dst_host", max_t=4, exact=True,
    )


def q_graph_harmonic(spark, sf_dir):
    """Harmonic centrality of the directed host graph (sparkrdf/
    graphops.py harmonic_centrality — Boldi-Vigna "Axioms for
    centrality": Σ 1/d over incoming distances, depth-capped; the
    centrality that stays well-defined on disconnected web graphs).
    Exact verification config here (frontier BFS over the reversed
    graph); the scale path is HyperBall in-ball sketches with the
    per-round increment /t accumulation, pinned by pytest. Oracle: the
    same Σ 1/d over a DuckDB recursive min-distance closure."""
    from sparkrdf.graphops import harmonic_centrality
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return harmonic_centrality(
        g.select("src_host", "dst_host"),
        src="src_host", dst="dst_host", max_t=4, exact=True,
    )


_PPR_SEEDS = ("site1.example.org", "site2.example.org", "site3.example.org")


def q_web_node2vec_walks(spark, sf_dir):
    """node2vec biased walks over the host graph (sparkrdf/graphops.py
    node2vec_walks — Grover-Leskovec second-order walks with exact
    INTEGER class weights w_return/w_common/w_far, so the cumulative
    draw is integer arithmetic and every hop is engine-reproducible).
    First hop uniform, then candidates weighted by their distance to the
    previous node; one Σ-out-degree candidate join + one per-state
    cumsum window per step. Oracle: the identical md5/cumsum arithmetic
    unrolled in DuckDB."""
    from sparkrdf.graphops import node2vec_walks
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return node2vec_walks(
        g.select("src_host", "dst_host"),
        src="src_host", dst="dst_host", walk_len=3, walks_per_node=2,
    )


def q_web_host_ppr(spark, sf_dir):
    """Personalized PageRank over the directed weighted host graph
    (sparkrdf/graphops.py personalized_pagerank — Haveliwala topic-
    sensitive PR): restart into a 3-host seed set; dangling walks restart
    AT the seeds so rank mass stays inside the seed-reachable region and
    unreachable hosts score exactly 0. Same plan budget as
    pagerank_directed (|V|-row shuffle/round, broadcast dangling
    aggregate, broadcast seed teleport). Oracle: the 10 iterations
    unrolled in DuckDB with the identical teleport algebra."""
    from sparkrdf.graphops import personalized_pagerank
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    seeds = spark.createDataFrame([(s,) for s in _PPR_SEEDS], "n string")
    return personalized_pagerank(g, seeds)


def q_graph_closeness(spark, sf_dir):
    """Bounded Wasserman-Faust closeness of the directed host graph
    (sparkrdf/graphops.py closeness_centrality): (r−1)… normalized
    reach-ratio × inverse mean distance over outgoing paths ≤ 4 — the
    verification-grade exact config (the HyperBall harmonic mode is the
    scale estimator). Oracle: the same formula over the DuckDB recursive
    min-distance closure."""
    from sparkrdf.graphops import closeness_centrality
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return closeness_centrality(
        g.select("src_host", "dst_host"),
        src="src_host", dst="dst_host", max_t=4,
    )


def q_evt_retention(spark, sf_dir):
    """Cohort retention matrix (sparkrdf/eventops.py retention_cohorts):
    users bucketed by first-activity week (fixed epoch boundaries —
    stable under incremental recomputation), counted at every later
    active week offset. One dedup + one per-user MIN + one count, all
    map-side combinable on the same user-keyed shuffle — no windows, no
    self-joins. Oracle: the identical epoch-week arithmetic in DuckDB."""
    from sparkrdf.eventops import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev)


def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the LPA partition over the undirected host
    graph (sparkrdf/graphops.py modularity ∘ label_propagation): the
    community-quality score that makes LPA outputs comparable across
    crawls. Two label joins + two map-side aggregates + one 1-row
    result. Oracle: the identical formula over the LPA oracle's own
    unrolled labels."""
    from sparkrdf.graphops import label_propagation, modularity
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    e = g.select("src_host", "dst_host")
    return modularity(
        e, label_propagation(e, src="src_host", dst="dst_host"),
        src="src_host", dst="dst_host",
    )


def q_graph_betweenness(spark, sf_dir):
    """Betweenness centrality of the directed host graph (sparkrdf/
    graphops.py betweenness — level-synchronous Brandes, depth-capped at
    4, sources sampled deterministically by md5 % 4 so the oracle can
    restrict to the IDENTICAL sample): σ path counts accumulate forward
    level by level, dependencies δ flow backward one level per join.
    Oracle: the same forward/backward recurrences unrolled in DuckDB."""
    from sparkrdf.graphops import betweenness
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return betweenness(
        g.select("src_host", "dst_host"),
        src="src_host", dst="dst_host", max_t=4, source_mod=4,
    )


def q_web_crawl_delays(spark, sf_dir):
    """Crawl-delay extraction (sparkrdf/robots.py crawl_delays): per-host
    robots bodies with agent-specific AND '*' groups rendered in-query;
    the specific agent's group shadows '*' per RFC 9309 group selection,
    several delay lines keep the MAX, non-numeric values drop. The
    output is the per-host rate dimension frontier_waves schedules
    against. Oracle: the parity policy restated as CASE logic."""
    from sparkrdf.robots import crawl_delays

    pages = _links_input(spark)
    hosts = pages.select(
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host")
    ).distinct()
    body = F.when(
        F.length("host") % 2 == 0,
        F.lit("User-agent: bot\nCrawl-delay: 2\n\n"
              "User-agent: *\nCrawl-delay: 10\nCrawl-delay: 7\n"),
    ).otherwise(
        F.lit("User-agent: *\nCrawl-delay: 5\nCrawl-delay: bogus\n")
    )
    return crawl_delays(hosts.select("host", body.alias("body")), agent="bot")


def q_web_sitemap_index(spark, sf_dir):
    """Sitemap-index recursion (sparkrdf/weblinks.py sitemap_index_refs):
    per-nation <sitemapindex> files rendered in-query from the orders
    table reference one child sitemap per order; the extractor recovers
    (path, loc, lastmod) — the discovery step that feeds children back
    through sitemap_urls. Codegen regexp only. Oracle: the refs written
    directly from the orders columns."""
    from sparkrdf.weblinks import sitemap_index_refs

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    entry = F.concat(
        F.lit("<sitemap><loc>https://data.example.org/sm/"),
        F.col("o_orderkey").cast("string"),
        F.lit(".xml</loc><lastmod>"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("</lastmod></sitemap>"),
    )
    idx = (
        orders.withColumn("nk", F.col("o_custkey") % 10)
        .groupBy("nk")
        .agg(
            F.concat(
                F.lit("<sitemapindex>"),
                F.array_join(F.sort_array(F.collect_list(entry)), ""),
                F.lit("</sitemapindex>"),
            ).alias("body")
        )
        .select(
            F.concat(F.lit("https://data.example.org/smidx/"),
                     F.col("nk").cast("string")).alias("path"),
            "body",
        )
    )
    return sitemap_index_refs(idx)


def q_web_frontier_waves(spark, sf_dir):
    """Crawl politeness scheduling (sparkrdf/weburl.py frontier_waves):
    every frontier URL gets a per-host fetch wave (≤ per_wave requests
    per host per wave) — the dataset-side half of crawl rate-limiting.
    The per-host sequence is computed WITHOUT a per-host window (hot
    hosts never become one task's sort): range-partition + partition-id
    row_number + broadcast cumulative offset, then seq = global rank −
    per-host min. Oracle: a plain ROW_NUMBER per host in DuckDB."""
    from sparkrdf.weburl import frontier_waves

    return frontier_waves(_links_input(spark).select("url"), per_wave=4)


def q_kg_sparql_hash_fns(spark, sf_dir):
    """SPARQL §17.5 hash functions via the string front end: MD5/SHA256
    over document IRIs — the deterministic IRI-minting/skolemization
    primitive (mint a stable key from any lexical) — plus STRLEN; all
    JVM builtins inside one codegen Project, zero UDFs, zero shuffles
    beyond the BGP itself. Oracle: DuckDB's own md5()/sha256()."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d ?h ?h2 WHERE {{
          ?d kgp:lang ?l .
          BIND(md5(?d) AS ?h)
          BIND(sha256(concat(?d, "|", ?l)) AS ?h2)
        }}
    """)


def q_kg_sparql_subquery(spark, sf_dir):
    """SPARQL subquery (§12) via the string front end: an inner
    ``{ SELECT ?d (COUNT(*) AS ?m) ... GROUP BY ?d }`` evaluated
    independently (only its projection visible) and equi-joined to the
    outer lang pattern, then filtered on the aggregate — one hash
    aggregate + one AQE-sized join, the same plan a hand-written
    aggregate-then-join produces. Oracle: the join spelled directly."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d ?l ?m WHERE {{
          ?d kgp:lang ?l .
          {{ SELECT ?d (COUNT(*) AS ?m)
             WHERE {{ ?d kgp:mentions ?e }} GROUP BY ?d }}
          FILTER(?m >= 2)
        }}
    """)


def q_kg_sparql_group_concat(spark, sf_dir):
    """GROUP_CONCAT / SAMPLE aggregates (§18.5.1) via the string front
    end: per document the sorted '|'-joined mention list, a SAMPLE and
    the count — one partial-aggregatable exchange (collect_list partials
    merge map-side). SAMPLE picks MIN and GROUP_CONCAT sorts — the
    deterministic choices inside the spec's freedom, so distributed
    re-partitions agree. Oracle: string_agg(... ORDER BY) + MIN."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d (GROUP_CONCAT(?e; SEPARATOR="|") AS ?ents)
               (SAMPLE(?e) AS ?one) (COUNT(?e) AS ?n_ment)
        WHERE {{ ?d kgp:mentions ?e }} GROUP BY ?d
    """)


def q_kg_sparql_expr_select(spark, sf_dir):
    """SELECT expressions (§18.4.4) via the string front end:
    ``(strlen(?l) AS ?langlen)``, a 1-based substr key extraction and an
    IF bucket — projection-position value expressions compiled to codegen
    Project columns after the group evaluates, no UDF. Oracle: the same
    CASE/substr/length projections in DuckDB."""
    from sparkrdf.sparql import sparql_query

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return sparql_query(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        SELECT ?d (strlen(?l) AS ?langlen) (substr(?d, 7) AS ?key)
               (if(?n > 30, "long", "short") AS ?bucket)
        WHERE {{ ?d kgp:tokenCount ?n ; kgp:lang ?l . }}
    """)


def q_kg_sparql_update(spark, sf_dir):
    """SPARQL 1.1 Update (sparkrdf/sparql.py sparql_update): a
    DELETE/INSERT WHERE predicate migration (tokenCount → sizeTokens for
    long documents) followed by an INSERT DATA — functional graph
    maintenance: one anti-join for the delete, one insert-if-absent
    anti-join + union per insert, statements never rewritten in place.
    Oracle: the migrated statement set spelled as unions in DuckDB."""
    from sparkrdf.sparql import sparql_update

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    out = sparql_update(stmts, f"""
        PREFIX kgp: <{dockg.KG}prop/>
        DELETE {{ ?d kgp:tokenCount ?n }}
        INSERT {{ ?d kgp:sizeTokens ?n }}
        WHERE {{ ?d kgp:tokenCount ?n . FILTER(?n > 40) }} ;
        INSERT DATA {{ <{dockg.KG}meta> kgp:version 2 }}
    """)
    return out.select("s", "p", "o")


def q_kg_bgp_extend(spark, sf_dir):
    """Programmatic BIND — the §18.4 Extend algebra operator
    (sparkrdf/query.py bgp_extend): a numeric density expression and a
    concat label added to a BGP's solutions, then a NOT IN + arithmetic
    FILTER; everything whole-stage-codegen over the solution columns.
    Oracle: identical expressions over the docs CTE."""
    from sparkrdf.query import bgp_extend, bgp_filter, bgp_match

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    sol = bgp_match(
        stmts, [("?d", dockg.P_TOKENS, "?n"), ("?d", dockg.P_LANG, "?l")]
    )
    sol = bgp_extend(sol, [
        ("density", "?n / strlen(?d)"),
        ("label", 'concat(?l, "/", str(?n))'),
    ])
    return bgp_filter(sol, '?l NOT IN ("zz") && ?density >= 0')


def q_kg_warc_records(spark, sf_dir):
    """WARC container ingestion (sparkrdf/warc.py warc_records): one WARC
    container per nation is rendered in-query from the customer table
    (spec framing — Content-Length bodies, CRLF separators), then the
    Arrow-batched splitter recovers every record. File-level parallelism,
    payload bytes untouched through Arrow. Oracle: the records written
    directly from the customer columns."""
    from sparkrdf.warc import warc_records

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    payload = F.concat(F.col("c_name"), F.lit(","), F.col("c_mktsegment"))
    url = F.concat(
        F.lit("https://data.example.org/customer/"),
        F.col("c_custkey").cast("string"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
        payload,
        F.lit("\r\n\r\n"),
    )
    containers = (
        cust.groupBy("c_nationkey")
        .agg(F.array_join(F.sort_array(F.collect_list(record)), "").alias("c"))
        .select(
            F.concat(F.lit("nation-"), F.col("c_nationkey").cast("string"),
                     F.lit(".warc")).alias("path"),
            F.col("c").cast("binary").alias("content"),
        )
    )
    out = warc_records(containers)
    return out.filter(F.col("ok")).select(
        "url", "warc_ts", F.col("payload").cast("string").alias("body")
    )


def q_kg_warc_gz(spark, sf_dir):
    """Gzipped WARC ingestion (sparkrdf/warc.py split_warc gzip branch):
    the same per-nation containers as kg_warc_records, but shipped as
    .warc.gz — gzip-compressed in-query by an Arrow-batched pandas UDF,
    then recovered by the magic-detecting member decompressor inside the
    same warc_records operator. (Member-per-record layout — Common Crawl's
    actual shape — is pinned by tests/test_warc.py; this gate uses a
    whole-container member.) Oracle: the records written directly from the
    customer columns."""
    import gzip

    from sparkrdf.session import ensure_pyfiles
    from sparkrdf.warc import warc_records

    ensure_pyfiles(spark)

    @F.pandas_udf("binary")
    def gz(col: pd.Series) -> pd.Series:
        return col.apply(lambda b: gzip.compress(bytes(b), mtime=0))

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    payload = F.concat(F.col("c_name"), F.lit(","), F.col("c_mktsegment"))
    url = F.concat(
        F.lit("https://data.example.org/customer/"),
        F.col("c_custkey").cast("string"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
        payload,
        F.lit("\r\n\r\n"),
    )
    containers = (
        cust.groupBy("c_nationkey")
        .agg(F.array_join(F.sort_array(F.collect_list(record)), "").alias("c"))
        .select(
            F.concat(F.lit("nation-"), F.col("c_nationkey").cast("string"),
                     F.lit(".warc.gz")).alias("path"),
            gz(F.col("c").cast("binary")).alias("content"),
        )
    )
    out = warc_records(containers)
    return out.filter(F.col("ok")).select(
        "url", "warc_ts", F.col("payload").cast("string").alias("body")
    )


def q_kg_http_responses(spark, sf_dir):
    """The full crawl-ingestion path end-to-end (sparkrdf/warc.py): WARC
    containers whose record payloads are raw HTTP messages (as Common
    Crawl ships them) → warc_records container split → http_responses
    message split → (url, status, content_type, body). Both splitters are
    Arrow-batched at file/record granularity; bytes flow through Arrow
    untouched. Oracle: the rows written directly from the customer
    columns."""
    from sparkrdf.warc import http_responses, warc_records

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    doc = F.concat(F.col("c_name"), F.lit(","), F.col("c_mktsegment"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"), doc
    )
    url = F.concat(
        F.lit("https://data.example.org/customer/"),
        F.col("c_custkey").cast("string"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    containers = (
        cust.groupBy("c_nationkey")
        .agg(F.array_join(F.sort_array(F.collect_list(record)), "").alias("c"))
        .select(
            F.concat(F.lit("nation-"), F.col("c_nationkey").cast("string"),
                     F.lit(".warc")).alias("path"),
            F.col("c").cast("binary").alias("content"),
        )
    )
    recs = warc_records(containers).filter(F.col("ok"))
    return http_responses(recs).filter(F.col("ok")).select(
        "url", "status", "content_type", F.col("body").cast("string").alias("doc")
    )


def q_kg_bgp_optional(spark, sf_dir):
    """SPARQL OPTIONAL (sparkrdf/query.py bgp_optional): every document,
    left-join-extended with its mentioned entities where any exist, NULL-
    padded where none do — the well-designed left-outer BGP case. Oracle:
    the same two filtered scans LEFT JOINed in DuckDB."""
    from sparkrdf.query import bgp_optional

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return bgp_optional(
        stmts,
        [("?d", _RDF_TYPE, dockg.CLS_DOCUMENT)],
        [("?d", dockg.P_MENTIONS, "?e")],
    )


def q_kg_bgp_union(spark, sf_dir):
    """SPARQL UNION (sparkrdf/query.py bgp_union): documents mentioning an
    Operator entity (binding ?d, ?e) unioned with ALL documents (binding
    only ?d — ?e NULL-padded), bag semantics. Oracle: the same two branch
    queries UNION ALLed in DuckDB with an explicit NULL column."""
    from sparkrdf.query import bgp_union

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return bgp_union(
        stmts,
        [
            [
                ("?d", dockg.P_MENTIONS, "?e"),
                ("?e", _RDF_TYPE, dockg.class_iri("Operator")),
            ],
            [("?d", _RDF_TYPE, dockg.CLS_DOCUMENT)],
        ],
    )


def q_kg_bgp_minus(spark, sf_dir):
    """SPARQL MINUS (sparkrdf/query.py bgp_minus): documents with NO
    Operator-class mention — left-anti join on the shared variable ?d.
    Oracle: NOT EXISTS over the same mention subquery."""
    from sparkrdf.query import bgp_minus

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return bgp_minus(
        stmts,
        [("?d", _RDF_TYPE, dockg.CLS_DOCUMENT)],
        [
            ("?d", dockg.P_MENTIONS, "?e"),
            ("?e", _RDF_TYPE, dockg.class_iri("Operator")),
        ],
    )


def q_kg_bgp_values(spark, sf_dir):
    """SPARQL VALUES (sparkrdf/query.py bgp_values): mention solutions
    (?d, ?e, ?cls, ?lang) restricted by an inline table — (Operator, 'en')
    plus (Structure, UNDEF); UNDEF matches any language. Oracle: the same
    disjunction as a WHERE clause over the joined CTEs."""
    from sparkrdf.query import bgp_values

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return bgp_values(
        stmts,
        [
            ("?d", dockg.P_MENTIONS, "?e"),
            ("?e", _RDF_TYPE, "?cls"),
            ("?d", dockg.P_LANG, "?lang"),
        ],
        [
            {"cls": dockg.class_iri("Operator"), "lang": "en"},
            {"cls": dockg.class_iri("Structure"), "lang": None},
        ],
    )


def q_kg_construct(spark, sf_dir):
    """SPARQL CONSTRUCT (sparkrdf/query.py construct_triples): invert every
    mention edge into (?e kg:mentionedIn ?d) and type each mentioned entity
    kgc:Entity — template instantiation per solution, then the output-graph
    set collapse. Oracle: UNION ALL of the two template projections wrapped
    in SELECT DISTINCT."""
    from sparkrdf.query import construct_triples

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return construct_triples(
        stmts,
        [("?d", dockg.P_MENTIONS, "?e"), ("?d", _RDF_TYPE, dockg.CLS_DOCUMENT)],
        [
            ("?e", dockg.KG + "prop/mentionedIn", "?d"),
            ("?e", _RDF_TYPE, dockg.CLS_ENTITY),
        ],
    )


def q_kg_summary_graph(spark, sf_dir):
    """Graph summarization (sparkrdf/graphops.py quotient_graph): the doc
    KG's mention edges rolled up to (source class, predicate, object class)
    with triple and distinct-endpoint counts — the induced schema diagram.
    Node→class map = min rdf:type per node. Oracle: the identical
    coalesce/rollup in DuckDB."""
    from sparkrdf.graphops import quotient_graph

    t = (
        dockg.doc_triples(spark, _docs(spark, sf_dir))
        .filter(F.col("o_kind") == "URIRef")
        .select("s", "p", "o")
    )
    groups = (
        t.filter(F.col("p") == _RDF_TYPE)
        .groupBy(F.col("s").alias("n"))
        .agg(F.min("o").alias("g"))
    )
    return quotient_graph(t.filter(F.col("p") != _RDF_TYPE), groups)


def q_kg_bisim_sigs(spark, sf_dir):
    """k-bisimulation structural signatures (sparkrdf/graphops.py
    bisim_signatures, k=2) over the doc-KG IRI triples — nodes hash equal
    iff indistinguishable by any outgoing path of length ≤ 2; the structure
    index that refines characteristic sets. Oracle: the identical md5 /
    sorted-distinct-token fold unrolled as DuckDB CTEs."""
    from sparkrdf.graphops import bisim_signatures

    t = (
        dockg.doc_triples(spark, _docs(spark, sf_dir))
        .filter(F.col("o_kind") == "URIRef")
        .select("s", "p", "o")
    )
    return bisim_signatures(t, k=2)


def q_graph_khop(spark, sf_dir):
    """Bounded BFS (k=3, ANY direction) from the Operator class IRI over
    the IRI-object triples of the doc KG — the AQL `FOR v IN 1..3 ANY`
    traversal as frontier-joins: class → operator entities → documents
    mentioning them → everything else those documents mention. Oracle:
    levels unrolled as DuckDB CTEs with NOT IN visited sets."""
    from sparkrdf.query import khop

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    iri_edges = (
        stmts.filter(F.col("o_kind") == "URIRef").select("s", "o").distinct()
    )
    return khop(iri_edges, dockg.class_iri("Operator"), 3, src="s", dst="o")


def q_kg_path_closure(spark, sf_dir):
    """Transitive closure (SPARQL p+ / unbounded AQL traversal) of the doc
    KG's IRI-object triples via iterative doubling (sparkrdf/query.py
    path_closure) — path length doubles per round, run until a round adds
    nothing. Oracle: DuckDB recursive-CTE closure over the same edge set —
    an independent one-edge-at-a-time definition of reachability."""
    from sparkrdf.query import path_closure

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    # path_closure reads its input twice (gate count, then collect or the
    # doubling loop): one barrier instead of two doc-KG derivations
    iri_edges = (
        stmts.filter(F.col("o_kind") == "URIRef")
        .select("s", "o")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return path_closure(iri_edges)


def q_kg_path_expr(spark, sf_dir):
    """Full SPARQL 1.1 property-path algebra (sparkrdf/query.py path_expr):
    ``^mentions/mentions/(rdf:type|lang)?`` over the doc KG — inverse,
    sequence, alternative, and the set-valued ZeroOrOnePath whose
    zero-length arm connects every graph node to itself. Sequence is an
    AQE-sized equi-join (bag semantics, mirroring SQL joins); the ``?``
    node is a distinct union with the node table. Oracle: the same algebra
    spelled as explicit DuckDB joins/UNIONs over an inline triple bag."""
    from sparkrdf.query import path_expr

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    expr = (
        f"^<{dockg.P_MENTIONS}>/<{dockg.P_MENTIONS}>"
        f"/(<{T.RDF_TYPE}>|<{dockg.P_LANG}>)?"
    )
    out = path_expr(stmts, expr)
    return out.select(F.col("s").alias("src"), F.col("o").alias("dst"))


def q_graph_pagerank(spark, sf_dir):
    """PageRank (10 power iterations, d=0.85) over the co-mention graph —
    edges+degrees built once and kept partitioned on the source key; each
    iteration shuffles only the |V|-row rank table. Oracle: the identical
    iteration unrolled as DuckDB CTEs, both sides rounded to 6 d.p."""
    from sparkrdf.graphops import pagerank

    return pagerank(_comention(spark, sf_dir))


def q_graph_triangles(spark, sf_dir):
    """Triangle enumeration over the co-mention graph via degree-ordered
    node-iterator++ — hubs generate no wedges (their edges point into them),
    so per-vertex work is bounded by oriented out-degree (≤ √m). Oracle:
    the same orientation algebra as DuckDB tuple-comparison CTEs."""
    from sparkrdf.graphops import triangles

    return triangles(_comention(spark, sf_dir))


#: materialized (url, html-as-text) pages input for the link-graph queries —
#: same contract as PAGES_MAT_PATH: deterministic n=2000 synthesis, written
#: idempotently, read by BOTH engines so the extraction is value-checked.
LINKS_MAT_PATH = "/tmp/sparkrdf_materialized_pagelinks2000.parquet"


_LINKS_READY: set[str] = set()  # applicationIds that already materialized


def _links_input(spark):
    """Materialize the deterministic 2000-page fixture ONCE per Spark
    application (the content is a pure function of nothing — same bytes
    every time), so the ~10 web_*/meta queries that share it pay the
    synthesis+write once instead of each. The oracle reads the same files."""
    from sparkrdf.pages import synthesize_pages

    app = spark.sparkContext.applicationId
    success = os.path.join(LINKS_MAT_PATH, "_SUCCESS")
    if app not in _LINKS_READY or not os.path.exists(success):
        pages = synthesize_pages(spark, 2000).select(
            "url", F.col("html").cast("string").alias("html")
        )
        pages.coalesce(1).write.mode("overwrite").parquet(LINKS_MAT_PATH)
        _LINKS_READY.add(app)
    # NOTE: deliberately NOT _spread: a repartition of the 2000-row fixture
    # was measured to COST more across the ~12 link-graph queries than the
    # extraction parallelism it buys (each query pays the extra exchange;
    # the per-page regex is not the bottleneck at this row count)
    return spark.read.parquet(LINKS_MAT_PATH)


def q_web_link_hosts(spark, sf_dir):
    """Web link-graph extraction (sparkrdf/weblinks.py): anchors out of the
    raw HTML (codegen regexp_extract_all), host parsing, self-link drop,
    one hash aggregate → weighted host→host edge table. Oracle: the
    identical regex algebra in DuckDB over the same materialized pages."""
    from sparkrdf.weblinks import extract_links, host_link_graph

    return host_link_graph(extract_links(_links_input(spark)))


def q_web_host_rank(spark, sf_dir):
    """Directed weighted PageRank with dangling-mass redistribution
    (sparkrdf/graphops.py pagerank_directed) over the extracted host graph
    — host authority, the canonical web-graph computation. Oracle: the
    identical 10 iterations unrolled as MATERIALIZED DuckDB CTEs including
    the per-iteration dangling term."""
    from sparkrdf.graphops import pagerank_directed
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return pagerank_directed(g)


def q_graph_lpa(spark, sf_dir):
    """Deterministic synchronous label propagation (sparkrdf/graphops.py
    label_propagation, 4 rounds, min-label tie-break) over the undirected
    host link graph — community detection whose output is diffable between
    crawls. Oracle: the 4 rounds unrolled as DuckDB CTEs (count + ROW_NUMBER
    argmax with the identical tie order)."""
    from sparkrdf.graphops import label_propagation
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return label_propagation(g.select("src_host", "dst_host"), iters=4,
                             src="src_host", dst="dst_host")


def q_graph_adamic_adar(spark, sf_dir):
    """Neighborhood-overlap link prediction (sparkrdf/graphops.py
    adamic_adar): common-neighbor / Jaccard / Adamic–Adar scores for every
    non-adjacent host pair sharing a neighbor — the candidate generator for
    edge completion. Oracle: the identical wedge/degree/anti-exists algebra
    in DuckDB, both sides rounded 9 d.p."""
    from sparkrdf.graphops import adamic_adar
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return adamic_adar(g.select("src_host", "dst_host"),
                       src="src_host", dst="dst_host")


def q_graph_clustering(spark, sf_dir):
    """Per-node local clustering coefficient over the co-mention graph
    (sparkrdf/graphops.py clustering_coefficient): triangle counts from the
    degree-oriented enumerator, joined to degrees. Oracle: the naive
    wedge-close count per node in DuckDB (adjacency self-join + closing
    edge), identical rounding."""
    from sparkrdf.graphops import clustering_coefficient

    return clustering_coefficient(_comention(spark, sf_dir))


def q_web_host_reciprocity(spark, sf_dir):
    """Per-host reciprocity over the directed host link graph
    (sparkrdf/graphops.py reciprocity): fraction of each host's out-links
    whose reverse link exists — the mutual-citation / link-farm signal.
    Oracle: the same reversed self-join + per-source rollup in DuckDB."""
    from sparkrdf.graphops import reciprocity
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return reciprocity(g.select("src_host", "dst_host"),
                       src="src_host", dst="dst_host")


def q_graph_ktruss(spark, sf_dir):
    """3-truss of the undirected host link graph (sparkrdf/graphops.py
    ktruss): iterative triangle-support peel to a fixpoint — every
    surviving edge sits in ≥1 triangle of the SURVIVING subgraph, the
    cohesive-core extractor stricter than k-core. Converges in 2 rounds on
    this input; the operator peels until a round drops nothing.
    Oracle: the peel unrolled 4 rounds in DuckDB (rounds past the fixpoint
    are no-ops, so any unroll ≥ the convergence round is exact)."""
    from sparkrdf.graphops import ktruss
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return ktruss(g, 3, src="src_host", dst="dst_host")


def q_graph_coreness(spark, sf_dir):
    """Full k-core decomposition of the undirected host graph
    (sparkrdf/graphops.py coreness): per-node core numbers via the
    distributed h-index iteration (Lü et al. 2016) — monotone local
    updates, no sequential peeling order, converges here in 5 rounds
    (explicit changed-count). Oracle: the same
    h-index algebra (ROW_NUMBER window + max(least)) unrolled 6 rounds in
    DuckDB — rounds past the fixpoint are no-ops."""
    from sparkrdf.graphops import coreness
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return coreness(g, src="src_host", dst="dst_host")


def q_graph_wcc(spark, sf_dir):
    """Weakly-connected components of the host link graph — the SAME
    distributed hash-to-min + pointer-jumping machinery the dedup
    clustering uses (sparkrdf/dedupe.py connected_components), gated here
    on a second, independent graph: component = MIN reachable host.
    Oracle: a DuckDB recursive-CTE reachability closure + per-node MIN —
    the independent one-edge-at-a-time definition of connectivity."""
    from sparkrdf.dedupe import connected_components
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    e = (
        g.select(
            F.least("src_host", "dst_host").alias("id_a"),
            F.greatest("src_host", "dst_host").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates()
    )
    return connected_components(e).withColumnRenamed("node", "n")


def q_web_robots_filter(spark, sf_dir):
    """robots.txt admission over the crawl URL set (sparkrdf/robots.py):
    per-host robots bodies (deterministic parity-dependent policies with a
    longest-match Allow override) parsed into a rules table, every page
    URL decided by RFC 9309 longest-prefix-match. Rules are
    dimension-sized (broadcast); the URL stream shuffles once on the
    decision window. Oracle: the admission policy restated directly as
    path CASE logic in DuckDB — an independent definition of the same
    verdicts."""
    from sparkrdf.robots import filter_allowed, parse_robots

    pages = _links_input(spark)
    urls = pages.select("url")
    hosts = urls.select(
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host")
    ).distinct()
    body = F.when(
        F.length("host") % 2 == 0,
        F.lit("User-agent: *\nDisallow: /page/1\nAllow: /page/12\n"),
    ).otherwise(F.lit("User-agent: *\nDisallow: /page/9\n"))
    rules = parse_robots(hosts.select("host", body.alias("body")))
    return filter_allowed(urls, rules)


def q_web_sitemap_urls(spark, sf_dir):
    """Sitemap discovery (sparkrdf/weblinks.py sitemap_urls): per-nation
    sitemap XML rendered in-query from the orders table (loc per order,
    lastmod from o_orderdate), parsed back into (path, loc, lastmod)
    entries — codegen regexp only, no shuffle beyond the fixture groupBy.
    Oracle: the entries written directly from the orders columns."""
    from sparkrdf.weblinks import sitemap_urls

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    entry = F.concat(
        F.lit("<url><loc>https://data.example.org/order/"),
        F.col("o_orderkey").cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("</lastmod></url>"),
    )
    sitemaps = (
        orders.groupBy("o_custkey")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(F.sort_array(F.collect_list(entry)), ""),
                F.lit("</urlset>"),
            ).alias("body")
        )
        .select(
            F.concat(
                F.lit("sitemap-"), F.col("o_custkey").cast("string"), F.lit(".xml")
            ).alias("path"),
            "body",
        )
    )
    return sitemap_urls(sitemaps)


def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the undirected host link
    graph (sparkrdf/graphops.py assortativity): Pearson correlation of
    endpoint degrees over the symmetrized edge list — negative on
    hub-and-spoke web topologies. One degree aggregation, two AQE-sized
    joins, one codegen corr aggregate. Oracle: identical formulation via
    DuckDB's corr."""
    from sparkrdf.graphops import assortativity
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return assortativity(g, src="src_host", dst="dst_host")


def q_web_host_sssp(spark, sf_dir):
    """Bounded weighted SSSP (sparkrdf/graphops.py sssp_bounded, 6
    Bellman–Ford rounds) over the host graph with cost 1/n_links — heavily
    linked hosts are "close"; the weighted companion to khop. Source = the
    lexicographically smallest host (deterministic). Oracle: the identical
    relax/min rounds unrolled as MATERIALIZED DuckDB CTEs."""
    from sparkrdf.graphops import sssp_bounded
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    e = g.select(
        "src_host", "dst_host", (F.lit(1.0) / F.col("n_links")).alias("w")
    )
    src = e.agg(F.min("src_host")).collect()[0][0]
    return sssp_bounded(e, src, k=6, src="src_host", dst="dst_host", w_col="w")


def q_web_host_hits(spark, sf_dir):
    """HITS hubs/authorities (sparkrdf/graphops.py hits) over the extracted
    host graph — the companion web-authority algorithm to PageRank: hosts
    that link to good authorities become hubs and vice versa. Oracle: the
    identical 10 iterations (auth then hub, L1-normalized, 12 d.p. rounded
    per normalization) unrolled as MATERIALIZED DuckDB CTEs."""
    from sparkrdf.graphops import hits
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return hits(g)


def q_web_host_walks(spark, sf_dir):
    """Deterministic random-walk corpus (sparkrdf/graphops.py random_walks)
    over the extracted host graph — the DeepWalk/node2vec input generator,
    md5-hashed hops instead of an RNG so the corpus is reproducible
    engine-to-engine and resume-safe. Oracle: every hop recomputed in
    DuckDB (identical md5-index arithmetic, neighbor ordering, sink
    stopping), steps unrolled as MATERIALIZED CTEs."""
    from sparkrdf.graphops import random_walks
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    return random_walks(g, walk_len=3, walks_per_node=2, seed=7,
                        src="src_host", dst="dst_host")


def q_web_walk_skipgrams(spark, sf_dir):
    """Skip-gram (center, context) training pairs from the walk corpus
    (sparkrdf/graphops.py walk_skipgrams) — the examples DeepWalk feeds a
    word2vec objective; self-join keyed on the walk identity, window=2.
    Oracle: identical position-window join over the identical (md5-hop)
    walks in DuckDB."""
    from sparkrdf.graphops import random_walks, walk_skipgrams
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    walks = random_walks(g, walk_len=3, walks_per_node=2, seed=7,
                         src="src_host", dst="dst_host")
    return walk_skipgrams(walks, window=2)


def q_web_walk_negatives(spark, sf_dir):
    """Deterministic negative sampling (sparkrdf/graphops.py
    negative_samples): k=2 hashed-uniform vocab draws per skip-gram pair,
    accidental positives kept (standard word2vec practice — exclusion
    would make the sample count data-dependent). Oracle: the identical
    md5-index arithmetic against the same name-sorted vocab."""
    from sparkrdf.graphops import negative_samples, random_walks, walk_skipgrams
    from sparkrdf.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_links_input(spark)))
    walks = random_walks(g, walk_len=3, walks_per_node=2, seed=7,
                         src="src_host", dst="dst_host")
    pairs = walk_skipgrams(walks, window=2)
    vocab = (
        g.select(F.col("src_host").alias("n"))
        .unionAll(g.select(F.col("dst_host").alias("n")))
        .distinct()
    )
    return negative_samples(pairs, vocab, k=2, seed=7)


def q_graph_npmi_edges(spark, sf_dir):
    """NPMI-weighted co-occurrence edges (sparkrdf/graphops.py npmi_edges):
    the association statistic that turns raw co-mention counts into
    popularity-normalized candidate-relation scores. Oracle: the identical
    integer marginals + single ln() expression in DuckDB, rounded 6 d.p."""
    from sparkrdf.extract.ner import detect_mentions_jvm
    from sparkrdf.graphops import npmi_edges

    m = detect_mentions_jvm(
        _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
        id_col="doc_id", text_col="text",
    )
    return npmi_edges(m, doc_col="doc_id", ent_col="surface")


def q_graph_kcore(spark, sf_dir):
    """Bipartite k-core (k=5, 8 peeling rounds) of the document↔entity
    mention graph — the dense-subcorpus extraction primitive: documents
    survive only while they mention ≥5 surviving entities and vice versa,
    degrees recomputed each round. Oracle: the identical peeling rounds
    unrolled as DuckDB CTEs (fixed round count makes the definition
    closed-form; peeling is idempotent after convergence)."""
    from sparkrdf.extract.ner import detect_mentions_jvm
    from sparkrdf.graphops import kcore

    m = detect_mentions_jvm(
        _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
        id_col="doc_id", text_col="text",
    )
    bip = m.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("u"),
        F.col("surface").alias("v"),
    ).distinct()
    return kcore(bip, k=5, rounds=8)


def q_kg_triple_support(spark, sf_dir):
    """Knowledge fusion (sparkrdf/extract/fuse.py): per-document assertions
    — (entity, rdf:type, Mention) for every mention plus
    (entity, relatedTo, entity) for every within-document co-mention —
    aggregated into evidence-scored triples: distinct-provenance support,
    the subject's total evidence mass, and their ratio (Knowledge-Vault
    style extraction confidence). Oracle: the same two aggregates + join
    in DuckDB over the identical assertion set."""
    from sparkrdf.extract.fuse import triple_support
    from sparkrdf.extract.ner import detect_mentions_jvm

    m = (
        detect_mentions_jvm(
            _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
            id_col="doc_id", text_col="text",
        )
        .select("doc_id", "surface")
        .distinct()
        # three consumers below (types + both co-mention sides): one
        # barrier instead of three NER scans
        .localCheckpoint(eager=True)
    )
    ent = F.concat(F.lit(dockg.KG + "entity/"), F.col("surface"))
    types = m.select(
        F.col("doc_id").alias("doc"),
        ent.alias("s"),
        F.lit(_RDF_TYPE).alias("p"),
        F.lit(dockg.KG + "class/Mention").alias("o"),
    )
    a, b = m.alias("a"), m.alias("b")
    rels = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.surface") < F.col("b.surface")),
    ).select(
        F.col("a.doc_id").alias("doc"),
        F.concat(F.lit(dockg.KG + "entity/"), F.col("a.surface")).alias("s"),
        F.lit(dockg.KG + "prop/relatedTo").alias("p"),
        F.concat(F.lit(dockg.KG + "entity/"), F.col("b.surface")).alias("o"),
    )
    return triple_support(types.unionByName(rels), prov_col="doc")


def q_kg_canonical_triples(spark, sf_dir):
    """Entity canonicalization (sparkrdf/extract/fuse.py
    canonicalize_triples): corpus-wide sameAs pairs from the per-document
    suffix-coreference resolver (a short form folds into its long form)
    are transitively closed into components, every entity maps to its
    component's MIN IRI, and the co-mention triple table is rewritten
    through that map — aliases collapse into one canonical fact. Oracle:
    the identical suffix rule, a recursive-CTE closure, and the same
    coalesce-rewrite + DISTINCT in DuckDB."""
    from sparkrdf.extract.fuse import canonicalize_triples
    from sparkrdf.extract.ner import detect_mentions_jvm
    from sparkrdf.extract.resolve import resolve_entities

    m = detect_mentions_jvm(
        _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
        id_col="doc_id", text_col="text",
    )
    r = resolve_entities(m, id_col="doc_id")
    ent = lambda c: F.concat(F.lit(dockg.KG + "entity/"), c)  # noqa: E731
    pairs = (
        r.filter(F.col("form") != F.col("entity_key"))
        .select(ent(F.col("form")).alias("id_a"), ent(F.col("entity_key")).alias("id_b"))
        .distinct()
    )
    forms = r.select("doc_id", "form").distinct()
    a, b = forms.alias("a"), forms.alias("b")
    triples = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.form") < F.col("b.form")),
    ).select(
        ent(F.col("a.form")).alias("s"),
        F.lit(dockg.KG + "prop/relatedTo").alias("p"),
        ent(F.col("b.form")).alias("o"),
    ).distinct()
    return canonicalize_triples(triples, pairs)


def _relatedness_triples(spark, sf_dir):
    """Distinct (entity, kg:relatedTo, entity) co-mention triples from the
    JVM NER stage — the positive set for the embedding-training queries."""
    from sparkrdf.extract.ner import detect_mentions_jvm

    m = (
        detect_mentions_jvm(
            _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
            id_col="doc_id", text_col="text",
        )
        .select("doc_id", "surface")
        .distinct()
        # the co-mention self-join references this twice: one barrier
        # instead of two NER scans
        .localCheckpoint(eager=True)
    )
    ent = lambda c: F.concat(F.lit(dockg.KG + "entity/"), c)  # noqa: E731
    a, b = m.alias("a"), m.alias("b")
    return a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.surface") < F.col("b.surface")),
    ).select(
        ent(F.col("a.surface")).alias("s"),
        F.lit(dockg.KG + "prop/relatedTo").alias("p"),
        ent(F.col("b.surface")).alias("o"),
    ).distinct()


def q_kg_triple_negatives(spark, sf_dir):
    """KG-embedding training negatives (sparkrdf/graphops.py
    corrupt_triples): per positive co-mention triple, 2 deterministic
    corruptions (even j replaces the subject, odd j the object) drawn
    md5-uniform from the name-sorted entity vocabulary, then the standard
    'filtered' anti-join removes corruptions that are true triples. Oracle:
    the identical index/draw/CASE/anti-exists algebra in DuckDB."""
    from sparkrdf.graphops import corrupt_triples

    return corrupt_triples(_relatedness_triples(spark, sf_dir), k=2, seed=11, filtered=True)


def q_kg_lp_ranks(spark, sf_dir):
    """Link-prediction ranking eval, filtered protocol (sparkrdf/graphops.py
    lp_rank_eval): per positive co-mention triple, 4 deterministic
    corruptions scored by the popularity baseline (subject-degree(head) +
    object-degree(tail)), rank of the positive under the total order
    (score DESC, head ASC, tail ASC). Oracle: the negatives algebra
    extended with the identical degree/CASE/rank aggregation."""
    from sparkrdf.graphops import lp_rank_eval

    return lp_rank_eval(_relatedness_triples(spark, sf_dir), k=4, seed=11)


def q_kg_rdfs_entailed(spark, sf_dir):
    """ρDF entailment materialization (sparkrdf/reason.py
    rdfs_materialize): the doc-KG's IRI-object triples forward-chained
    under dockg.DOC_ONTOLOGY — sub-property generalization (rdfs7), then
    domain/range typing through the generalized predicates (rdfs2/3), then
    sub-class inheritance over asserted AND derived type triples (rdfs9).
    Both hierarchy closures are ontology-sized broadcasts; the rules are
    map-only. Oracle: recursive-CTE closures + the same rule algebra."""
    from sparkrdf.reason import rdfs_materialize

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    inst = stmts.filter(F.col("o_kind") == "URIRef").select("s", "p", "o")
    onto = spark.createDataFrame(dockg.DOC_ONTOLOGY, "s string, p string, o string")
    return rdfs_materialize(inst, onto)


def q_kg_owl_entailed(spark, sf_dir):
    """OWL-lite property-axiom materialization (sparkrdf/reason.py
    owl_materialize) over the doc-KG's IRI-object triples plus asserted
    co-mention kg:relatedTo edges: relatedTo is declared symmetric AND
    transitive (its entailment is the co-mention component relation,
    self-loops included) and kg:mentions gets its inverse
    kg:mentionedIn materialized. Axioms broadcast; the only closure runs
    over the entity-graph edges (sparkrdf/query.py path_closure per p).
    Oracle: recursive-CTE closure over the symmetrized relation + the
    inverse projection, unioned distinct."""
    from sparkrdf.reason import owl_materialize

    stmts = dockg.doc_triples(spark, _docs(spark, sf_dir))
    # three consumers (the union arm + both co-mention self-join sides):
    # one barrier instead of three doc-KG derivations
    inst = (
        stmts.filter(F.col("o_kind") == "URIRef")
        .select("s", "p", "o")
        .localCheckpoint(eager=True)
    )
    men = inst.filter(F.col("p") == dockg.P_MENTIONS)
    # owl_materialize checkpoints its input: without that barrier the
    # first sym_inv pass runs this self-join three times (measured 3.7 ->
    # 4.0 s), which costs more than the one barrier.
    co = (
        men.alias("a")
        .join(men.alias("b"), F.col("a.s") == F.col("b.s"))
        .filter(F.col("a.o") < F.col("b.o"))
        .select(
            F.col("a.o").alias("s"),
            F.lit(dockg.P_RELATED).alias("p"),
            F.col("b.o").alias("o"),
        )
        .dropDuplicates()
    )
    onto = spark.createDataFrame(dockg.DOC_OWL, "s string, p string, o string")
    return owl_materialize(inst.unionByName(co), onto)


def q_kg_rdfs_delta(spark, sf_dir):
    """Incremental entailment maintenance (sparkrdf/reason.py
    rdfs_materialize_delta): the corpus is split into an already-closed
    snapshot (doc_id % 10 != 0) and a crawl delta (% 10 == 0); the
    operator materializes ONLY the delta and anti-joins the existing
    closure — exact because every ρDF instance rule has a single instance
    antecedent, so closure(old ∪ Δ) = closure(old) ∪ closure(Δ). Output
    is MERGE-sink-shaped (the rows the closure gains). Oracle: both
    closures spelled independently in DuckDB, EXCEPTed."""
    from sparkrdf.reason import rdfs_materialize, rdfs_materialize_delta

    docs = _docs(spark, sf_dir)
    onto = spark.createDataFrame(dockg.DOC_ONTOLOGY, "s string, p string, o string")

    def iri_triples(d):
        stmts = dockg.doc_triples(spark, d)
        return stmts.filter(F.col("o_kind") == "URIRef").select("s", "p", "o")

    # the two materializations are independent: build them on concurrent
    # driver threads so the second's jobs back-fill the first's stragglers
    # (guide §2.6); the delta-sized anti-join then runs as before
    from sparkrdf.session import run_concurrently

    old_triples = iri_triples(docs.filter(F.col("doc_id") % 10 != 0))
    new_triples = iri_triples(docs.filter(F.col("doc_id") % 10 == 0))
    closure, new = run_concurrently(
        lambda: rdfs_materialize(old_triples, onto).localCheckpoint(eager=True),
        lambda: rdfs_materialize(new_triples, onto).localCheckpoint(eager=True),
    )
    return rdfs_materialize_delta(closure, new_triples, onto, delta_closure=new)


def q_kg_char_sets(spark, sf_dir):
    """Characteristic sets (Neumann & Moerkotte 2011; sparkrdf/reason.py
    characteristic_sets): subjects grouped by their exact predicate set —
    the star-join cardinality statistic + schemaless-crawl schema summary.
    Two map-side-combinable hash aggregates, no joins. Oracle: string_agg
    (DISTINCT ... ORDER BY) per subject, then the set-keyed rollup."""
    from sparkrdf.reason import characteristic_sets

    t = dockg.doc_triples(spark, _docs(spark, sf_dir)).select("s", "p", "o").dropDuplicates()
    return characteristic_sets(t)


def q_kg_shape_violations(spark, sf_dir):
    """SHACL-lite cardinality validation (sparkrdf/reason.py
    shape_violations): class-targeted min/max-count property shapes
    (dockg.DOC_SHAPES) over the doc-KG — zero-assertion min violations
    included via the pre-aggregated left join, NULL max = unbounded.
    Oracle: the identical focus/count/CASE algebra in DuckDB."""
    from sparkrdf.reason import shape_violations

    t = dockg.doc_triples(spark, _docs(spark, sf_dir)).select("s", "p", "o").dropDuplicates()
    shapes = spark.createDataFrame(
        dockg.DOC_SHAPES,
        "shape_id string, target_class string, path string, "
        "min_count int, max_count int",
    )
    return shape_violations(t, shapes)


def q_kg_predicate_profile(spark, sf_dir):
    """Schema induction (sparkrdf/graphops.py predicate_profile): per-
    predicate usage statistics over the constructed doc-KG — triple count,
    distinct subjects/objects, max per-subject fanout and the functional-
    property flag that drives scalar-vs-array PGT collapse. Oracle: the
    identical two-stage aggregate in DuckDB."""
    from sparkrdf.graphops import predicate_profile

    t = dockg.doc_triples(spark, _docs(spark, sf_dir))
    return predicate_profile(t)


def q_kg_snapshot_diff(spark, sf_dir):
    """Incremental crawl delta (sparkrdf/compare.py snapshot_diff): two
    overlapping crawl snapshots (doc_id % 10 excludes a different decile
    from each) are materialized into triple sets and symmetrically diffed
    — each triple present in exactly one snapshot comes back tagged
    added/removed, ready for a MERGE-shaped sink. Oracle: the same two
    EXCEPTs over the identically-filtered triple derivation."""
    from sparkrdf.compare import snapshot_diff

    d = _docs(spark, sf_dir)
    old_t = dockg.doc_triples(spark, d.filter(F.col("doc_id") % 10 != 9)).select(
        "s", "p", "o"
    )
    new_t = dockg.doc_triples(spark, d.filter(F.col("doc_id") % 10 != 0)).select(
        "s", "p", "o"
    )
    return snapshot_diff(old_t, new_t)


def q_kg_entity_temporal(spark, sf_dir):
    """Temporal fact scoping (sparkrdf/eventops.py observation_ranges):
    every page observation of a linked entity carries the crawl timestamp;
    per entity this collapses to (first_seen, last_seen, n_prov) — the
    validity interval a temporal KG stores. Runs over the same
    deterministic materialized pages table as kg_pages_pipeline (written
    idempotently here too, so query order doesn't matter). Oracle: the
    identical mention→link CTEs + one MIN/MAX/COUNT-DISTINCT aggregate."""
    from sparkrdf.eventops import observation_ranges
    from sparkrdf.extract.link import link_mentions
    from sparkrdf.extract.mint import with_page_iri
    from sparkrdf.extract.ner import detect_mentions_jvm
    from sparkrdf.pages import synthesize_pages

    pages = with_page_iri(synthesize_pages(spark, 2000))
    pages.select("url", "warc_ts", "text", "lang", "page_iri").coalesce(
        1
    ).write.mode("overwrite").parquet(PAGES_MAT_PATH)
    mat = spark.read.parquet(PAGES_MAT_PATH)
    links = link_mentions(spark, detect_mentions_jvm(mat))
    # warc_ts is NOT derivable from url (unlike page_iri), so the mention
    # stream joins back to pages once — mention-granular left side, page
    # table right side, plain equi-join on url
    obs = links.join(mat.select("url", "warc_ts", "page_iri"), "url").select(
        "entity_iri", "warc_ts", "page_iri"
    )
    out = observation_ranges(obs, ["entity_iri"], ts_col="warc_ts", prov_col="page_iri")
    fmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    return out.select(
        "entity_iri",
        F.date_format("first_seen", fmt).alias("first_seen"),
        F.date_format("last_seen", fmt).alias("last_seen"),
        F.col("n_prov"),
    )


def q_kg_source_trust(spark, sf_dir):
    """Truth discovery (sparkrdf/extract/fuse.py source_trust): the
    AverageLog fixed point (Pasternack & Roth 2010) jointly scoring source
    reliability and fact confidence over per-source co-mention assertions
    (source = the documents table's publisher column). Two rounds + a
    final confidence pass, every score rounded 9 d.p. — the oracle unrolls
    the identical iteration in DuckDB CTEs."""
    from sparkrdf.extract.fuse import source_trust
    from sparkrdf.extract.ner import detect_mentions_jvm

    m = (
        detect_mentions_jvm(
            _docs(spark, sf_dir), dictionary=DOC_NER_DICT,
            id_col="doc_id", text_col="text",
        )
        .select("doc_id", "surface")
        .distinct()
    )
    ms = m.join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
    ent = lambda c: F.concat(F.lit(dockg.KG + "entity/"), c)  # noqa: E731
    a, b = ms.alias("a"), ms.alias("b")
    asserts = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.surface") < F.col("b.surface")),
    ).select(
        F.col("a.source").alias("source"),
        ent(F.col("a.surface")).alias("s"),
        F.lit(dockg.KG + "prop/relatedTo").alias("p"),
        ent(F.col("b.surface")).alias("o"),
    )
    return source_trust(asserts, prov_col="source", rounds=2)


def q_er_fuzzy_pairs(spark, sf_dir):
    """Entity matching over part names (sparkrdf/er.py): exact-duplicate
    collapse first (fuzzy-pairing raw records would re-derive every pair
    inside each exact-duplicate group quadratically — the standard ER
    pipeline always dedups to distinct FORMS before pairwise scoring; the
    part table has 64 distinct names over 20k rows), then rarest-token
    blocking + exact character-bigram Jaccard over the distinct forms,
    each represented by its smallest part key. Oracle: the identical block
    assignment (ROW_NUMBER over (freq, token)) and gram algebra in DuckDB."""
    from sparkrdf.er import fuzzy_pairs

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    forms = part.groupBy("p_name").agg(F.min("p_partkey").alias("id")).select(
        "id", F.col("p_name").alias("name")
    )
    return fuzzy_pairs(forms, threshold=0.5)


def q_er_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (sparkrdf/er.py sorted_neighborhood,
    Hernández-Stolfo merge/purge): documents ranked by their lowercased
    32-char text prefix (distributed rank: range partition + per-partition
    row_number + offset broadcast — no single-partition sort), candidate
    pairs within 3 rank positions via the band-bucket range join. Oracle:
    global ROW_NUMBER + rank-distance self-join in DuckDB."""
    from sparkrdf.er import sorted_neighborhood

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.substring(F.lower(F.col("text")), 1, 32).alias("pfx"),
    )
    return sorted_neighborhood(docs, ["pfx"], window=3)


def q_corpus_kmeans(spark, sf_dir):
    """Lloyd's k-means over the embedding table (2 assignment steps, 1
    centroid update, init = per-label means — the IVF coarse quantizer as
    seed). Oracle: the identical unrolled iteration in DuckDB; centroids
    rounded 9 d.p. per update and distances 9 d.p. before the argmin so
    partial-aggregation float drift can never flip an assignment."""
    from sparkrdf.similarity import kmeans_assign

    return kmeans_assign(_emb(spark, sf_dir), n_assign=2)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → KG triples → RPT edge table (sf0.001)."""
    return q_kg_rpt_edges(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_doc_triples": q_kg_doc_triples,
        "kg_rpt_edges": q_kg_rpt_edges,
        "kg_rpt_ctx_edges": q_kg_rpt_ctx_edges,
        "kg_rpt_vertices": q_kg_rpt_vertices,
        "kg_pgt_vertices": q_kg_pgt_vertices,
        "kg_pgt_edges": q_kg_pgt_edges,
        "kg_lpg_edges": q_kg_lpg_edges,
        "kg_pgt_ctx_edges": q_kg_pgt_ctx_edges,
        "kg_pgt_edge_defs": q_kg_pgt_edge_defs,
        "kg_doc_mentions": q_kg_doc_mentions,
        "kg_doc_mentions_jvm": q_kg_doc_mentions_jvm,
        "kg_entity_resolution": q_kg_entity_resolution,
        "kg_pages_pipeline": q_kg_pages_pipeline,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_bands": q_dedup_minhash_bands,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "text_cluster_split": q_text_cluster_split,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_h3": q_dedup_simhash_h3,
        "text_stats": q_text_stats,
        "text_ngram_topk": q_text_ngram_topk,
        "text_token_histogram": q_text_token_histogram,
        "text_hash_split": q_text_hash_split,
        "text_pack_bins": q_text_pack_bins,
        "text_quality_filter": q_text_quality_filter,
        "text_repetition": q_text_repetition,
        "text_pii_scrub": q_text_pii_scrub,
        "text_decontaminate": q_text_decontaminate,
        "text_weighted_sample": q_text_weighted_sample,
        "text_tfidf_topk": q_text_tfidf_topk,
        "text_cap_per_domain": q_text_cap_per_domain,
        "text_boilerplate": q_text_boilerplate,
        "text_unigram_lp": q_text_unigram_lp,
        "text_dup_grams": q_text_dup_grams,
        "corpus_rollup": q_corpus_rollup,
        "web_url_canon": q_web_url_canon,
        "web_url_dedup": q_web_url_dedup,
        "corpus_profile": q_corpus_profile,
        "corpus_curate": q_corpus_curate,
        "sim_topk": q_sim_topk,
        "sim_knn_join": q_sim_knn_join,
        "sim_blocked_near_dup": q_sim_blocked_near_dup,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_ivf_exhaustive": q_sim_ivf_exhaustive,
        "sim_lsh_topk": q_sim_lsh_topk,
        "mm_image_features": q_mm_image_features,
        "mm_audio_features": q_mm_audio_features,
        "mm_video_frames": q_mm_video_frames,
        "adb_dump_vertices": q_adb_dump_vertices,
        "adb_dump_edges": q_adb_dump_edges,
        "rel_pricing_summary": q_rel_pricing_summary,
        "rel_join_rollup": q_rel_join_rollup,
        "rel_window_topk": q_rel_window_topk,
        "rel_anti_join": q_rel_anti_join,
        "evt_hourly": q_evt_hourly,
        "events_sessionize": q_events_sessionize,
        "graph_comention_edges": q_graph_comention_edges,
        "graph_degree_stats": q_graph_degree_stats,
        "graph_triangles": q_graph_triangles,
        "graph_pagerank": q_graph_pagerank,
        "graph_npmi_edges": q_graph_npmi_edges,
        "graph_kcore": q_graph_kcore,
        "web_link_hosts": q_web_link_hosts,
        "web_host_rank": q_web_host_rank,
        "web_host_hits": q_web_host_hits,
        "web_host_walks": q_web_host_walks,
        "web_walk_skipgrams": q_web_walk_skipgrams,
        "web_walk_negatives": q_web_walk_negatives,
        "kg_triple_support": q_kg_triple_support,
        "kg_canonical_triples": q_kg_canonical_triples,
        "kg_source_trust": q_kg_source_trust,
        "kg_predicate_profile": q_kg_predicate_profile,
        "kg_rdfs_entailed": q_kg_rdfs_entailed,
        "kg_owl_entailed": q_kg_owl_entailed,
        "kg_rdfs_delta": q_kg_rdfs_delta,
        "kg_char_sets": q_kg_char_sets,
        "kg_shape_violations": q_kg_shape_violations,
        "kg_bgp_optional": q_kg_bgp_optional,
        "kg_bgp_union": q_kg_bgp_union,
        "kg_bgp_minus": q_kg_bgp_minus,
        "kg_bgp_values": q_kg_bgp_values,
        "kg_construct": q_kg_construct,
        "kg_summary_graph": q_kg_summary_graph,
        "graph_lpa": q_graph_lpa,
        "graph_adamic_adar": q_graph_adamic_adar,
        "graph_clustering": q_graph_clustering,
        "web_host_reciprocity": q_web_host_reciprocity,
        "graph_ktruss": q_graph_ktruss,
        "graph_assortativity": q_graph_assortativity,
        "graph_coreness": q_graph_coreness,
        "graph_wcc": q_graph_wcc,
        "graph_scc": q_graph_scc,
        "graph_nf": q_graph_nf,
        "graph_harmonic": q_graph_harmonic,
        "web_host_ppr": q_web_host_ppr,
        "web_node2vec_walks": q_web_node2vec_walks,
        "web_frontier_waves": q_web_frontier_waves,
        "web_crawl_delays": q_web_crawl_delays,
        "graph_betweenness": q_graph_betweenness,
        "graph_modularity": q_graph_modularity,
        "evt_retention": q_evt_retention,
        "graph_closeness": q_graph_closeness,
        "web_sitemap_index": q_web_sitemap_index,
        "web_robots_filter": q_web_robots_filter,
        "web_sitemap_urls": q_web_sitemap_urls,
        "kg_bisim_sigs": q_kg_bisim_sigs,
        "web_host_sssp": q_web_host_sssp,
        "kg_snapshot_diff": q_kg_snapshot_diff,
        "kg_entity_temporal": q_kg_entity_temporal,
        "kg_triple_negatives": q_kg_triple_negatives,
        "kg_lp_ranks": q_kg_lp_ranks,
        "evt_funnel": q_evt_funnel,
        "evt_interval_merge": q_evt_interval_merge,
        "er_sorted_neighborhood": q_er_sorted_neighborhood,
        "er_fuzzy_pairs": q_er_fuzzy_pairs,
        "corpus_kmeans": q_corpus_kmeans,
        "kg_bgp_match": q_kg_bgp_match,
        "kg_bgp_graph": q_kg_bgp_graph,
        "kg_describe": q_kg_describe,
        "kg_table_triples": q_kg_table_triples,
        "kg_jsonld_triples": q_kg_jsonld_triples,
        "kg_rdfxml_triples": q_kg_rdfxml_triples,
        "kg_jsonld_doc_triples": q_kg_jsonld_doc_triples,
        "kg_page_meta": q_kg_page_meta,
        "kg_bgp_not_exists": q_kg_bgp_not_exists,
        "kg_bgp_agg": q_kg_bgp_agg,
        "kg_bgp_filter": q_kg_bgp_filter,
        "kg_bgp_order": q_kg_bgp_order,
        "kg_sparql_select": q_kg_sparql_select,
        "kg_sparql_agg": q_kg_sparql_agg,
        "kg_sparql_bind": q_kg_sparql_bind,
        "kg_sparql_subquery": q_kg_sparql_subquery,
        "kg_sparql_term_fns": q_kg_sparql_term_fns,
        "kg_sparql_hash_fns": q_kg_sparql_hash_fns,
        "kg_skolemized": q_kg_skolemized,
        "kg_sparql_group_concat": q_kg_sparql_group_concat,
        "kg_sparql_expr_select": q_kg_sparql_expr_select,
        "kg_sparql_describe": q_kg_sparql_describe,
        "kg_sparql_exists": q_kg_sparql_exists,
        "kg_sparql_update": q_kg_sparql_update,
        "kg_bgp_extend": q_kg_bgp_extend,
        "kg_sparql_graph": q_kg_sparql_graph,
        "kg_sparql_ask": q_kg_sparql_ask,
        "kg_sparql_path": q_kg_sparql_path,
        "kg_sparql_union": q_kg_sparql_union,
        "kg_sparql_construct": q_kg_sparql_construct,
        "kg_warc_records": q_kg_warc_records,
        "kg_warc_gz": q_kg_warc_gz,
        "kg_http_responses": q_kg_http_responses,
        "graph_khop": q_graph_khop,
        "kg_path_closure": q_kg_path_closure,
        "kg_path_expr": q_kg_path_expr,
        "evt_error_attribution": q_evt_error_attribution,
        "evt_nearby_pairs": q_evt_nearby_pairs,
    }


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def _label_expr(col: str) -> str:
    return (
        f"CASE WHEN regexp_extract({col}, '([^/#:]*)$', 1) = '' THEN {col} "
        f"ELSE regexp_extract({col}, '([^/#:]*)$', 1) END"
    )


def _minhash_sig_ctes() -> str:
    sig_cols = ", ".join(
        f"list_min(list_transform(hh, h -> ({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_P})) AS s{j}"
        for j in range(MINHASH_K)
    )
    return f"""
d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 3
       THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
       ELSE [array_to_string(w, ' ')] END AS shingles
  FROM d),
hs AS (SELECT doc_id, list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM hs)
"""


def _minhash_bands_sql() -> str:
    r = MINHASH_K // MINHASH_BANDS
    parts = []
    for b in range(MINHASH_BANDS):
        cols = " || '-' || ".join(f"s{b * r + i}::VARCHAR" for i in range(r))
        parts.append(
            f"SELECT doc_id AS id, {b} AS band_idx, md5({cols}) AS band_hash FROM sig"
        )
    return "WITH " + _minhash_sig_ctes() + "\n" + _minhash_bands_union()


def _minhash_bands_union() -> str:
    """The band selects alone (FROM sig) — for flattened CTE composition
    where a nested WITH is not allowed (e.g. under WITH RECURSIVE)."""
    r = MINHASH_K // MINHASH_BANDS
    parts = []
    for b in range(MINHASH_BANDS):
        cols = " || '-' || ".join(f"s{b * r + i}::VARCHAR" for i in range(r))
        parts.append(
            f"SELECT doc_id AS id, {b} AS band_idx, md5({cols}) AS band_hash FROM sig"
        )
    return "\nUNION ALL\n".join(parts)


def _simhash_bits_expr() -> str:
    return " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {2**i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )


def _simhash_sql() -> str:
    bits = _simhash_bits_expr()
    return f"""
WITH d AS (SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents),
tok AS (SELECT doc_id, ('0x' || substr(md5(t.u), 1, 7))::BIGINT AS h
        FROM d, unnest(d.w) AS t(u)),
sigs AS (SELECT doc_id, CAST({bits} AS BIGINT) AS sig FROM tok GROUP BY doc_id)
SELECT sig, COUNT(*)::BIGINT AS n, MIN(doc_id) AS keep_id
FROM sigs GROUP BY sig HAVING COUNT(*) > 1
"""


def _lang_scores() -> tuple[str, str]:
    score_cols = []
    for lang in LANG_ORDER:
        hits = " + ".join(
            f"(CASE WHEN padded LIKE '% {w} %' THEN 1 ELSE 0 END)"
            for w in LANG_STOPWORDS[lang]
        )
        score_cols.append(f"({hits}) AS s_{lang}")
    case = "CASE "
    for i, lang in enumerate(LANG_ORDER):
        conds = [f"s_{lang} > 0"]
        for other in LANG_ORDER[:i]:
            conds.append(f"s_{lang} > s_{other}")
        for other in LANG_ORDER[i + 1 :]:
            conds.append(f"s_{lang} >= s_{other}")
        case += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    case += "ELSE 'und' END"
    return ", ".join(score_cols), case


def _cosine_raw_sql(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    na = f"sqrt(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
    nb = f"sqrt(list_sum(list_transform(range(1, len({b}) + 1), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))"
    return f"{dot} / ({na} * {nb})"


def _cosine_sql(a: str, b: str) -> str:
    return f"ROUND({_cosine_raw_sql(a, b)}, 6)"


def oracle_sql() -> dict[str, str]:
    ent_v_rows = " UNION ALL ".join(
        f"SELECT '{dockg.entity_iri(t)}' AS _uri, '{t}' AS _label" for t, _ in _GAZ
    )
    stops_en = LANG_STOPWORDS["en"]
    en_hits = " + ".join(
        f"(CASE WHEN padded LIKE '% {w} %' THEN 1 ELSE 0 END)" for w in stops_en
    )
    lang_scores, lang_case = _lang_scores()

    sql: dict[str, str] = {}

    sql["kg_doc_triples"] = f"""
WITH {_DOC_CTES}
SELECT s AS subj, '{dockg.P_MENTIONS}' AS pred, ent AS obj FROM mentions
UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
UNION ALL SELECT s, '{dockg.P_LANG}', lang FROM docs
UNION ALL SELECT s, '{dockg.P_TOKENS}', ntok FROM docs
UNION ALL SELECT DISTINCT ent, '{_RDF_TYPE}', cls FROM mentions
"""

    # ρDF entailment: recursive-CTE hierarchy closures + the same four
    # instance rules in the same order (reason.rdfs_materialize)
    _onto_values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in dockg.DOC_ONTOLOGY)
    _rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    sql["kg_rdfs_entailed"] = f"""
WITH RECURSIVE {_DOC_CTES},
trip AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions)),
onto(s, p, o) AS (VALUES {_onto_values}),
spc(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{_rdfs}subPropertyOf'
  UNION
  SELECT c.a, onto.o FROM spc c
  JOIN onto ON onto.s = c.b AND onto.p = '{_rdfs}subPropertyOf'),
scc(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{_rdfs}subClassOf'
  UNION
  SELECT c.a, onto.o FROM scc c
  JOIN onto ON onto.s = c.b AND onto.p = '{_rdfs}subClassOf'),
t1 AS (
  SELECT s, p, o FROM trip
  UNION SELECT t.s, c.b, t.o FROM trip t JOIN spc c ON c.a = t.p),
typed AS (
  SELECT t.s AS s, '{_RDF_TYPE}' AS p, d.o AS o
  FROM t1 t JOIN onto d ON d.s = t.p AND d.p = '{_rdfs}domain'
  UNION
  SELECT t.o, '{_RDF_TYPE}', r.o
  FROM t1 t JOIN onto r ON r.s = t.p AND r.p = '{_rdfs}range'),
t2 AS (SELECT * FROM t1 UNION SELECT * FROM typed),
inh AS (
  SELECT t.s AS s, '{_RDF_TYPE}' AS p, c.b AS o
  FROM t2 t JOIN scc c ON c.a = t.o WHERE t.p = '{_RDF_TYPE}')
SELECT DISTINCT s, p, o FROM (SELECT * FROM t2 UNION ALL SELECT * FROM inh)
"""

    # OWL-lite axiom materialization: relatedTo (co-mention, asserted u<v)
    # symmetric+transitive -> recursive closure over the symmetrized
    # relation; mentions inverseOf mentionedIn -> one projection. The
    # Spark side's third sym/inv pass derives nothing new (closure of a
    # symmetric seed is symmetric), so the oracle unions exactly these.
    sql["kg_owl_entailed"] = f"""
WITH RECURSIVE {_DOC_CTES},
trip AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions)),
co AS (SELECT DISTINCT m1.ent AS u, m2.ent AS v
  FROM mentions m1 JOIN mentions m2 ON m1.s = m2.s AND m1.ent < m2.ent),
rel0 AS (SELECT u AS s, v AS o FROM co UNION SELECT v, u FROM co),
relc(s, o) AS (
  SELECT s, o FROM rel0
  UNION
  SELECT relc.s, rel0.o FROM relc JOIN rel0 ON rel0.s = relc.o)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM trip
  UNION ALL SELECT ent, '{dockg.P_MENTIONED_IN}', s FROM mentions
  UNION ALL SELECT u, '{dockg.P_RELATED}', v FROM co
  UNION ALL SELECT s, '{dockg.P_RELATED}', o FROM relc)
"""

    # incremental entailment maintenance: the rule algebra of
    # kg_rdfs_entailed applied independently to the old (doc_id % 10 <> 0)
    # and delta (doc_id % 10 = 0) partitions, delta closure EXCEPT old —
    # exact because every rDF instance rule has one instance antecedent
    def _rdfs_closure_block(tag: str, cond: str) -> str:
        return f""",
trip_{tag} AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions WHERE {cond}
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs WHERE {cond}
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions WHERE {cond})),
t1_{tag} AS (
  SELECT s, p, o FROM trip_{tag}
  UNION SELECT t.s, c.b, t.o FROM trip_{tag} t JOIN spc c ON c.a = t.p),
typed_{tag} AS (
  SELECT t.s AS s, '{_RDF_TYPE}' AS p, d.o AS o
  FROM t1_{tag} t JOIN onto d ON d.s = t.p AND d.p = '{_rdfs}domain'
  UNION
  SELECT t.o, '{_RDF_TYPE}', r.o
  FROM t1_{tag} t JOIN onto r ON r.s = t.p AND r.p = '{_rdfs}range'),
t2_{tag} AS (SELECT * FROM t1_{tag} UNION SELECT * FROM typed_{tag}),
cl_{tag} AS (SELECT DISTINCT s, p, o FROM (
  SELECT * FROM t2_{tag}
  UNION ALL
  SELECT t.s, '{_RDF_TYPE}', c.b FROM t2_{tag} t
  JOIN scc c ON c.a = t.o WHERE t.p = '{_RDF_TYPE}'))"""

    sql["kg_rdfs_delta"] = (
        f"""
WITH RECURSIVE {_DOC_CTES},
onto(s, p, o) AS (VALUES {_onto_values}),
spc(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{_rdfs}subPropertyOf'
  UNION
  SELECT c.a, onto.o FROM spc c
  JOIN onto ON onto.s = c.b AND onto.p = '{_rdfs}subPropertyOf'),
scc(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{_rdfs}subClassOf'
  UNION
  SELECT c.a, onto.o FROM scc c
  JOIN onto ON onto.s = c.b AND onto.p = '{_rdfs}subClassOf')"""
        + _rdfs_closure_block("old", "doc_id % 10 <> 0")
        + _rdfs_closure_block("new", "doc_id % 10 = 0")
        + "\nSELECT s, p, o FROM cl_new EXCEPT SELECT s, p, o FROM cl_old\n"
    )

    # characteristic sets: per-subject sorted distinct predicate string,
    # then the set-keyed rollup (reason.characteristic_sets)
    sql["kg_char_sets"] = f"""
WITH {_DOC_CTES},
trip AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT s, '{dockg.P_LANG}', lang FROM docs
  UNION ALL SELECT s, '{dockg.P_TOKENS}', ntok FROM docs
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions)),
per AS (SELECT s, string_agg(DISTINCT p, ' ' ORDER BY p) AS predicate_set,
               COUNT(*)::BIGINT AS nt
        FROM trip GROUP BY s)
SELECT predicate_set, COUNT(*)::BIGINT AS n_subjects, SUM(nt)::BIGINT AS n_triples
FROM per GROUP BY predicate_set
"""

    # SHACL-lite validation: focus selection by rdf:type, (s,p)-pre-agg
    # counts, left join + min/max CASE (reason.shape_violations)
    _shape_values = ", ".join(
        f"('{sid}', '{tc}', '{path}', {mn}, {'NULL::INT' if mx is None else mx})"
        for sid, tc, path, mn, mx in dockg.DOC_SHAPES
    )
    sql["kg_shape_violations"] = f"""
WITH {_DOC_CTES},
trip AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT s, '{dockg.P_LANG}', lang FROM docs
  UNION ALL SELECT s, '{dockg.P_TOKENS}', ntok FROM docs
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions)),
shp(shape_id, target_class, path, min_count, max_count) AS (VALUES {_shape_values}),
focus AS (SELECT DISTINCT s AS focus, o AS target_class FROM trip
          WHERE p = '{_RDF_TYPE}'),
fs AS (SELECT f.focus, s.shape_id, s.path, s.min_count, s.max_count
       FROM focus f JOIN shp s USING (target_class)),
cnt AS (SELECT s AS focus, p AS path, COUNT(*)::BIGINT AS n
        FROM trip GROUP BY s, p),
chk AS (SELECT fs.*, COALESCE(cnt.n, 0)::BIGINT AS n_values
        FROM fs LEFT JOIN cnt USING (focus, path))
SELECT focus, shape_id, path, n_values,
       CASE WHEN n_values < min_count THEN 'min' ELSE 'max' END AS kind
FROM chk
WHERE n_values < min_count
   OR (max_count IS NOT NULL AND n_values > max_count)
"""

    # SPARQL OPTIONAL: all documents left-joined with their mentions
    # (query.bgp_optional — well-designed left-outer BGP)
    sql["kg_bgp_optional"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, m.ent AS e
FROM docs d LEFT JOIN mentions m ON m.s = d.s
"""

    # SPARQL UNION: Operator-mention solutions (d, e) bag-unioned with all
    # documents (d, NULL) — query.bgp_union NULL-pads the unshared variable
    sql["kg_bgp_union"] = f"""
WITH {_DOC_CTES}
SELECT m.s AS d, m.ent AS e
FROM mentions m
JOIN (SELECT DISTINCT ent FROM mentions
      WHERE cls = '{dockg.class_iri("Operator")}') t ON t.ent = m.ent
UNION ALL
SELECT s AS d, CAST(NULL AS VARCHAR) AS e FROM docs
"""

    # SPARQL MINUS: documents with no Operator-class mention (left-anti on
    # the shared variable d — query.bgp_minus)
    sql["kg_bgp_minus"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d
FROM docs d
WHERE NOT EXISTS (SELECT 1 FROM mentions m
                  WHERE m.s = d.s
                    AND m.cls = '{dockg.class_iri("Operator")}')
"""

    # SPARQL VALUES: inline rows (Operator, 'en') and (Structure, UNDEF);
    # UNDEF matches any lang binding (query.bgp_values)
    sql["kg_bgp_values"] = f"""
WITH {_DOC_CTES}
SELECT m.s AS d, m.ent AS e, m.cls AS cls, d.lang AS lang
FROM mentions m JOIN docs d ON d.s = m.s
WHERE (m.cls = '{dockg.class_iri("Operator")}' AND d.lang = 'en')
   OR (m.cls = '{dockg.class_iri("Structure")}')
"""

    # SPARQL CONSTRUCT: two template projections per mention solution,
    # collapsed to a triple SET (query.construct_triples)
    sql["kg_construct"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT s, p, o FROM (
  SELECT ent AS s, '{dockg.KG}prop/mentionedIn' AS p, m.s AS o FROM mentions m
  UNION ALL
  SELECT ent AS s, '{_RDF_TYPE}' AS p, '{dockg.CLS_ENTITY}' AS o FROM mentions m)
"""

    # graph summarization: min-class node grouping + the quotient rollup
    # with distinct endpoint counts (graphops.quotient_graph)
    sql["kg_summary_graph"] = f"""
WITH {_DOC_CTES},
trip AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions)),
grp AS (SELECT s AS n, MIN(o) AS g FROM trip WHERE p = '{_RDF_TYPE}' GROUP BY s),
et AS (SELECT * FROM trip WHERE p <> '{_RDF_TYPE}')
SELECT COALESCE(gs.g, '_ungrouped') AS src_group, et.p,
       COALESCE(go.g, '_ungrouped') AS dst_group,
       COUNT(*)::BIGINT AS n_triples,
       COUNT(DISTINCT et.s)::BIGINT AS n_src,
       COUNT(DISTINCT et.o)::BIGINT AS n_dst
FROM et LEFT JOIN grp gs ON gs.n = et.s LEFT JOIN grp go ON go.n = et.o
GROUP BY 1, 2, 3
"""

    # k-bisimulation signatures: the md5 / sorted-distinct-token fold
    # unrolled for k=2 (graphops.bisim_signatures)
    _bs = f"""
WITH {_DOC_CTES},
trip AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions)),
n0 AS MATERIALIZED (SELECT DISTINCT n FROM (
  SELECT s AS n FROM trip UNION ALL SELECT o FROM trip)),
s0 AS MATERIALIZED (SELECT n, md5('') AS sig FROM n0)"""
    for i in range(2):
        _bs += f""",
m{i} AS (SELECT t.s AS n,
  string_agg(DISTINCT t.p || '|' || s{i}.sig, ','
             ORDER BY t.p || '|' || s{i}.sig) AS msg
  FROM trip t JOIN s{i} ON s{i}.n = t.o GROUP BY t.s),
s{i + 1} AS MATERIALIZED (
  SELECT s{i}.n, md5(s{i}.sig || '#' || COALESCE(m{i}.msg, '')) AS sig
  FROM s{i} LEFT JOIN m{i} USING (n))"""
    sql["kg_bisim_sigs"] = _bs + "\nSELECT n, sig FROM s2\n"

    # schema induction: distinct triples → (p,s)-keyed fanout aggregate →
    # per-predicate rollup + distinct-object count (graphops.predicate_profile)
    sql["kg_predicate_profile"] = f"""
WITH {_DOC_CTES},
trip AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT s, '{dockg.P_LANG}', lang FROM docs
  UNION ALL SELECT s, '{dockg.P_TOKENS}', ntok FROM docs
  UNION ALL SELECT ent, '{_RDF_TYPE}', cls FROM mentions)),
ps AS (SELECT p, s, COUNT(*)::BIGINT AS fan FROM trip GROUP BY p, s),
subj AS (SELECT p, SUM(fan)::BIGINT AS n_triples, COUNT(*)::BIGINT AS n_subj,
                MAX(fan)::BIGINT AS max_fanout FROM ps GROUP BY p),
obj AS (SELECT p, COUNT(DISTINCT o)::BIGINT AS n_obj FROM trip GROUP BY p)
SELECT subj.p, n_triples, n_subj, n_obj, max_fanout,
       (max_fanout = 1) AS functional
FROM subj JOIN obj USING (p)
"""

    # incremental crawl delta: the same triple derivation with doc_id kept,
    # filtered into two overlapping snapshots, then two set EXCEPTs
    # (compare.snapshot_diff's anti-join pair)
    sql["kg_snapshot_diff"] = f"""
WITH {_DOC_CTES},
raw AS (
  SELECT doc_id, s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT doc_id, s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT doc_id, s, '{dockg.P_LANG}', lang FROM docs
  UNION ALL SELECT doc_id, s, '{dockg.P_TOKENS}', ntok FROM docs
  UNION ALL SELECT doc_id, ent, '{_RDF_TYPE}', cls FROM mentions),
ta AS (SELECT DISTINCT s, p, o FROM raw WHERE doc_id % 10 <> 9),
tb AS (SELECT DISTINCT s, p, o FROM raw WHERE doc_id % 10 <> 0)
SELECT s, p, o, 'added' AS change
FROM (SELECT s, p, o FROM tb EXCEPT SELECT s, p, o FROM ta)
UNION ALL
SELECT s, p, o, 'removed' AS change
FROM (SELECT s, p, o FROM ta EXCEPT SELECT s, p, o FROM tb)
"""

    sql["kg_rpt_edges"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT 'KG_Statement' AS collection,
  'KG_URIRef/d' || doc_id AS _from,
  'KG_URIRef/' || ent_key AS _to,
  '{dockg.P_MENTIONS}' AS _uri, 'mentions' AS _label
FROM mentions
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/d' || doc_id,
  'KG_URIRef/{_CLS_KEY["Document"]}', '{_RDF_TYPE}', 'type'
FROM docs
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/' || ent_key,
  'KG_URIRef/' || cls_key, '{_RDF_TYPE}', 'type'
FROM mentions
"""

    # contextualized RPT = base edges ∪ M7 edges, all keys precomputed in
    # Python (fixed predicate/class vocabulary) and baked in as literals
    _pk = {k: farmhash_key(v) for k, v in _PRED.items()}
    _prop_k = farmhash_key(T.RDF_NS + "Property")
    _rdfs_dom = "http://www.w3.org/2000/01/rdf-schema#domain"
    _rdfs_rng = "http://www.w3.org/2000/01/rdf-schema#range"
    _doc_cls_k = _CLS_KEY["Document"]
    sql["kg_rpt_ctx_edges"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT 'KG_Statement' AS collection,
  'KG_URIRef/d' || doc_id AS _from,
  'KG_URIRef/' || ent_key AS _to,
  '{dockg.P_MENTIONS}' AS _uri, 'mentions' AS _label
FROM mentions
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/d' || doc_id,
  'KG_URIRef/{_doc_cls_k}', '{_RDF_TYPE}', 'type'
FROM docs
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/' || ent_key,
  'KG_URIRef/' || cls_key, '{_RDF_TYPE}', 'type'
FROM mentions
-- M7: untyped predicates gain p -type-> rdf:Property (data-dependent for
-- mentions; always present for type/lang/tokenCount which every doc emits)
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["mentions"]}',
  'KG_URIRef/{_prop_k}', '{_RDF_TYPE}', 'type' FROM mentions
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["type"]}',
  'KG_URIRef/{_prop_k}', '{_RDF_TYPE}', 'type' FROM docs
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["lang"]}',
  'KG_URIRef/{_prop_k}', '{_RDF_TYPE}', 'type' FROM docs
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["tokenCount"]}',
  'KG_URIRef/{_prop_k}', '{_RDF_TYPE}', 'type' FROM docs
-- M7 introspection: typed subjects give their predicate a domain edge,
-- typed non-literal objects a range edge
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["mentions"]}',
  'KG_URIRef/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM mentions
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["mentions"]}',
  'KG_URIRef/' || cls_key, '{_rdfs_rng}', 'range' FROM mentions
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["type"]}',
  'KG_URIRef/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM docs
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["type"]}',
  'KG_URIRef/' || cls_key, '{_rdfs_dom}', 'domain' FROM mentions
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["lang"]}',
  'KG_URIRef/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM docs
UNION
SELECT DISTINCT 'KG_Statement', 'KG_URIRef/{_pk["tokenCount"]}',
  'KG_URIRef/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM docs
"""

    sql["kg_rpt_vertices"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT 'KG_URIRef' AS collection, s AS _uri, doc_id::VARCHAR AS _label,
  'URIRef' AS _rdftype, NULL::VARCHAR AS _value, NULL::VARCHAR AS _lang, NULL::VARCHAR AS _datatype
FROM docs
UNION
SELECT DISTINCT 'KG_URIRef', ent, {_label_expr('ent')}, 'URIRef', NULL, NULL, NULL FROM mentions
UNION
SELECT DISTINCT 'KG_URIRef', cls, {_label_expr('cls')}, 'URIRef', NULL, NULL, NULL FROM mentions
UNION
SELECT DISTINCT 'KG_URIRef', '{dockg.CLS_DOCUMENT}', 'Document', 'URIRef', NULL, NULL, NULL FROM docs
UNION
SELECT DISTINCT 'KG_Literal', NULL, lang, 'Literal', lang, NULL, NULL FROM docs
UNION
SELECT DISTINCT 'KG_Literal', NULL, ntok, 'Literal', ntok, NULL, '{_XSD_INT}' FROM docs
"""

    sql["kg_pgt_vertices"] = f"""
WITH {_DOC_CTES}
SELECT 'Document' AS collection, s AS _uri, doc_id::VARCHAR AS _label,
  'URIRef' AS _rdftype,
  '{{"lang":"' || lang || '","tokenCount":' || ntok || '}}' AS properties
FROM docs
UNION ALL
SELECT DISTINCT cls_label, ent, {_label_expr('ent')}, 'URIRef', NULL FROM mentions
UNION ALL
SELECT DISTINCT 'Class', cls, cls_label, 'URIRef', NULL FROM mentions
UNION ALL SELECT 'Class', '{dockg.CLS_DOCUMENT}', 'Document', 'URIRef', NULL
UNION ALL SELECT 'Property', '{dockg.P_MENTIONS}', 'mentions', 'URIRef', NULL
UNION ALL SELECT 'Property', '{_RDF_TYPE}', 'type', 'URIRef', NULL
UNION ALL SELECT 'Property', '{dockg.P_LANG}', 'lang', 'URIRef', NULL
UNION ALL SELECT 'Property', '{dockg.P_TOKENS}', 'tokenCount', 'URIRef', NULL
"""

    sql["kg_pgt_edges"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT 'mentions' AS collection, 'Document/d' || doc_id AS _from,
  cls_label || '/' || ent_key AS _to, '{dockg.P_MENTIONS}' AS _uri, 'mentions' AS _label
FROM mentions
UNION
SELECT DISTINCT 'type', 'Document/d' || doc_id, 'Class/{_CLS_KEY["Document"]}',
  '{_RDF_TYPE}', 'type'
FROM docs
UNION
SELECT DISTINCT 'type', cls_label || '/' || ent_key, 'Class/' || cls_key,
  '{_RDF_TYPE}', 'type'
FROM mentions
"""

    sql["kg_lpg_edges"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT 'Edge' AS collection, 'Node/d' || doc_id AS _from,
  'Node/' || ent_key AS _to, '{dockg.P_MENTIONS}' AS _uri, 'mentions' AS _label
FROM mentions
UNION
SELECT DISTINCT 'Edge', 'Node/d' || doc_id, 'Class/{_CLS_KEY["Document"]}',
  '{_RDF_TYPE}', 'type'
FROM docs
UNION
SELECT DISTINCT 'Edge', 'Node/' || ent_key, 'Class/' || cls_key,
  '{_RDF_TYPE}', 'type'
FROM mentions
"""

    sql["kg_pgt_ctx_edges"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT 'mentions' AS collection, 'Document/d' || doc_id AS _from,
  cls_label || '/' || ent_key AS _to, '{dockg.P_MENTIONS}' AS _uri, 'mentions' AS _label
FROM mentions
UNION
SELECT DISTINCT 'type', 'Document/d' || doc_id, 'Class/{_CLS_KEY["Document"]}',
  '{_RDF_TYPE}', 'type'
FROM docs
UNION
SELECT DISTINCT 'type', cls_label || '/' || ent_key, 'Class/' || cls_key,
  '{_RDF_TYPE}', 'type'
FROM mentions
-- M7 PGT: untyped predicates p -type-> rdf:Property (Property/Class cols)
UNION
SELECT DISTINCT 'type', 'Property/{_pk["mentions"]}',
  'Class/{_prop_k}', '{_RDF_TYPE}', 'type' FROM mentions
UNION
SELECT DISTINCT 'type', 'Property/{_pk["type"]}',
  'Class/{_prop_k}', '{_RDF_TYPE}', 'type' FROM docs
UNION
SELECT DISTINCT 'type', 'Property/{_pk["lang"]}',
  'Class/{_prop_k}', '{_RDF_TYPE}', 'type' FROM docs
UNION
SELECT DISTINCT 'type', 'Property/{_pk["tokenCount"]}',
  'Class/{_prop_k}', '{_RDF_TYPE}', 'type' FROM docs
-- M7 PGT introspection in 'domain'/'range' collections
UNION
SELECT DISTINCT 'domain', 'Property/{_pk["mentions"]}',
  'Class/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM mentions
UNION
SELECT DISTINCT 'range', 'Property/{_pk["mentions"]}',
  'Class/' || cls_key, '{_rdfs_rng}', 'range' FROM mentions
UNION
SELECT DISTINCT 'domain', 'Property/{_pk["type"]}',
  'Class/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM docs
UNION
SELECT DISTINCT 'domain', 'Property/{_pk["type"]}',
  'Class/' || cls_key, '{_rdfs_dom}', 'domain' FROM mentions
UNION
SELECT DISTINCT 'domain', 'Property/{_pk["lang"]}',
  'Class/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM docs
UNION
SELECT DISTINCT 'domain', 'Property/{_pk["tokenCount"]}',
  'Class/{_doc_cls_k}', '{_rdfs_dom}', 'domain' FROM docs
"""

    sql["kg_pgt_edge_defs"] = f"""
WITH {_DOC_CTES}
SELECT 'mentions' AS edge_collection, 'from' AS side, 'Document' AS col
UNION
SELECT DISTINCT 'mentions', 'to', cls_label FROM mentions
UNION
SELECT 'type', 'from', 'Document'
UNION
SELECT DISTINCT 'type', 'from', cls_label FROM mentions
UNION
SELECT 'type', 'to', 'Class'
"""

    sql["dedup_exact"] = """
WITH f AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           FROM documents)
SELECT fp, COUNT(*)::BIGINT AS n_dups, MIN(doc_id) AS keep_id
FROM f GROUP BY fp HAVING COUNT(*) > 1
"""

    sql["dedup_minhash_bands"] = _minhash_bands_sql()

    sql["dedup_minhash_pairs"] = f"""
WITH bands AS ({_minhash_bands_sql()})
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.id < b.id
"""

    jaccard_ctes = f"""{_minhash_sig_ctes()},
bands AS ({_minhash_bands_union()}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.id < b.id),
d2 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
sh2 AS (SELECT doc_id,
  list_distinct(CASE WHEN len(w) >= 3
       THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
       ELSE [array_to_string(w, ' ')] END) AS shingles
  FROM d2),
j AS (
  SELECT c.id_a, c.id_b,
    ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
      (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))::DOUBLE, 6) AS jaccard
  FROM cand c JOIN sh2 sa ON c.id_a = sa.doc_id JOIN sh2 sb ON c.id_b = sb.doc_id)"""

    sql["dedup_ngram_jaccard"] = f"""
WITH {jaccard_ctes}
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
"""

    # component = min reachable id; the recursive walk IS the independent
    # definition of connectivity, so a hash match proves the distributed
    # hash-to-min loop computes true connected components
    sql["dedup_clusters"] = f"""
WITH RECURSIVE {jaccard_ctes},
pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.node),
comp AS (SELECT node, MIN(lbl) AS canonical FROM walk GROUP BY node),
sizes AS (SELECT canonical, COUNT(*)::BIGINT AS n FROM comp GROUP BY canonical)
SELECT c.node AS doc_id, c.canonical AS canonical_id, s.n AS cluster_size
FROM comp c JOIN sizes s USING (canonical)
"""

    # cluster-safe split: the same transitive closure, canonical key
    # coalesced onto every document, then the identical md5 bucket CASE
    sql["text_cluster_split"] = f"""
WITH RECURSIVE {jaccard_ctes},
pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.node),
comp AS (SELECT node, MIN(lbl) AS canonical FROM walk GROUP BY node),
keyed AS (
  SELECT d.doc_id, COALESCE(c.canonical, d.doc_id) AS split_key
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
SELECT doc_id, split_key,
  CASE WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 7))::BIGINT % 10000 < 9800 THEN 'train'
       WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 7))::BIGINT % 10000 < 9900 THEN 'val'
       ELSE 'test' END AS split
FROM keyed
"""

    sql["dedup_simhash"] = _simhash_sql()

    sql["text_hash_split"] = """
SELECT doc_id,
  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000 < 9800 THEN 'train'
       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000 < 9900 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""

    sql["text_pack_bins"] = """
WITH base AS (
  SELECT doc_id,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 8 AS INT) AS shard
  FROM documents),
packed AS (
  SELECT doc_id, n_tokens, shard,
    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM base)
SELECT doc_id, n_tokens, shard,
  CAST(FLOOR(cum_before / 2048) AS BIGINT) AS bin_id,
  CAST(cum_before % 2048 AS BIGINT) AS offset_in_bin
FROM packed
"""

    # brute-force all-pairs hamming oracle: independent of the banding
    # implementation, so a hash match proves the blocking is lossless
    sql["dedup_simhash_h3"] = f"""
WITH d AS (SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents),
tok AS (SELECT doc_id, ('0x' || substr(md5(t.u), 1, 7))::BIGINT AS h
        FROM d, unnest(d.w) AS t(u)),
sigs AS (SELECT doc_id, CAST({_simhash_bits_expr()} AS BIGINT) AS sig FROM tok GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""

    # independent gram construction + join + group-by in DuckDB: a hash match
    # proves both the shingle algebra and the overlap arithmetic
    sql["text_decontaminate"] = """
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
sh AS (SELECT doc_id,
  list_distinct(CASE WHEN len(w) >= 3
       THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
       ELSE [array_to_string(w, ' ')] END) AS grams
  FROM d),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 17 = 0),
corpus AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, unnest(grams) AS gram
           FROM sh WHERE doc_id % 17 <> 0)
SELECT c.doc_id, c.n_grams,
  CAST(COUNT(*) AS BIGINT) AS n_overlap,
  ROUND(COUNT(*)::DOUBLE / c.n_grams, 6) AS overlap_frac
FROM corpus c JOIN bench b USING (gram)
GROUP BY c.doc_id, c.n_grams
"""

    sql["text_weighted_sample"] = """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 1000000 <
  CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
              WHEN 'src2' THEN 250000 ELSE 100000 END
"""

    sql["text_ngram_topk"] = """
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE trim(lower(text)) <> ''),
grams AS (
  SELECT unnest(list_transform(range(1, len(w) - 2 + 2),
                i -> array_to_string(w[i:i+2-1], ' '))) AS ngram
  FROM toks WHERE len(w) >= 2)
SELECT ngram, COUNT(*)::BIGINT AS n
FROM grams GROUP BY ngram
ORDER BY n DESC, ngram ASC
LIMIT 20
"""

    sql["text_token_histogram"] = """
WITH base AS (
  SELECT CAST(FLOOR(LOG2((CASE WHEN trim(text) = '' THEN 0
    ELSE len(string_split_regex(trim(text), '\\s+')) END) + 1.0)) AS BIGINT) AS bucket
  FROM documents)
SELECT bucket,
  CAST(POW(2.0, bucket) - 1 AS BIGINT) AS lo_tokens,
  COUNT(*)::BIGINT AS n_docs
FROM base GROUP BY bucket
"""

    sql["text_stats"] = f"""
WITH base AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
    len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS bpe,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents),
scored AS (
  SELECT doc_id, toks, bpe, padded, text,
    ({en_hits}) AS en_stops,
    CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio
  FROM base),
langed AS (SELECT doc_id, toks, bpe, en_stops, punct_ratio, text, {lang_scores},
           padded FROM scored)
SELECT doc_id,
  toks::BIGINT AS tokens,
  bpe::BIGINT AS bpe_tokens,
  ROUND(40.0 * least(1.0, toks / 50.0) + 30.0 * (1.0 - punct_ratio)
        + 30.0 * least(1.0, en_stops / 3.0), 2) AS quality,
  {lang_case} AS lang_guess,
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM langed
"""

    sql["text_quality_filter"] = f"""
WITH base AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS toksi,
    length(text) AS n_chars,
    length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents),
sig AS (
  SELECT doc_id,
    toksi::DOUBLE AS toks,
    CASE WHEN toksi > 0 THEN word_chars::DOUBLE / toksi ELSE 0.0 END AS mean_wlen,
    CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
    ({en_hits}) AS stops
  FROM base),
flags AS (
  SELECT doc_id,
    (toks < 10.0 OR toks > 100000.0) AS r_tokens,
    (mean_wlen < 2.0 OR mean_wlen > 12.0) AS r_word_len,
    (punct_ratio > 0.3) AS r_punct,
    (stops = 0) AS r_stop
  FROM sig)
SELECT doc_id,
  NOT (r_tokens OR r_word_len OR r_punct OR r_stop) AS keep,
  r_tokens, r_word_len, r_punct, r_stop,
  concat_ws(',',
    CASE WHEN r_tokens THEN 'bad_token_count' END,
    CASE WHEN r_word_len THEN 'word_len' END,
    CASE WHEN r_punct THEN 'high_punct' END,
    CASE WHEN r_stop THEN 'no_stopwords' END) AS reasons
FROM flags
"""

    sql["text_repetition"] = """
WITH d AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN []
         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
  FROM documents),
g2 AS (SELECT doc_id, CASE WHEN len(w) >= 2
         THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         ELSE [] END AS g FROM d),
g3 AS (SELECT doc_id, CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END AS g FROM d),
bc AS (SELECT doc_id, u.g AS g, COUNT(*) AS c
       FROM g2, unnest(g2.g) AS u(g) GROUP BY doc_id, u.g),
bi AS (SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_bigram_frac
       FROM bc GROUP BY doc_id),
tc AS (SELECT doc_id, u.g AS g, COUNT(*) AS c
       FROM g3, unnest(g3.g) AS u(g) GROUP BY doc_id, u.g),
tri AS (SELECT doc_id,
          ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / SUM(c), 6)
            AS dup_trigram_frac
        FROM tc GROUP BY doc_id)
SELECT d.doc_id,
  COALESCE(bi.top_bigram_frac, 0.0) AS top_bigram_frac,
  COALESCE(tri.dup_trigram_frac, 0.0) AS dup_trigram_frac
FROM d LEFT JOIN bi USING (doc_id) LEFT JOIN tri USING (doc_id)
"""

    _pii_inject_sql = (
        "text "
        "|| CASE WHEN doc_id % 7 = 0 "
        "THEN ' contact user' || doc_id || '@mail.example.com now' "
        "ELSE '' END "
        "|| CASE WHEN doc_id % 11 = 0 "
        "THEN ' call 555-0199 or ping 10.0.' || (doc_id % 256) || '.1 ok' "
        "ELSE '' END"
    )
    sql["text_pii_scrub"] = f"""
WITH inj AS (
  SELECT doc_id, {_pii_inject_sql} AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
    '{PII_IPV4_RE}', '<IP>', 'g'),
    '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
  len(regexp_extract_all(text, '{PII_EMAIL_RE}'))::BIGINT AS n_email,
  len(regexp_extract_all(text, '{PII_IPV4_RE}'))::BIGINT AS n_ipv4,
  len(regexp_extract_all(text, '{PII_PHONE_RE}'))::BIGINT AS n_phone
FROM inj
"""

    _split_sql = (
        "CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT"
        " % 10000 < 9800 THEN 'train' "
        "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT"
        " % 10000 < 9900 THEN 'val' ELSE 'test' END"
    )
    sql["corpus_curate"] = f"""
WITH inj AS (
  SELECT doc_id, {_pii_inject_sql} AS text, lang, source
  FROM documents),
alld AS (
  SELECT * FROM inj
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source
  FROM inj WHERE doc_id % 10 = 0),
base AS (
  SELECT doc_id, text, lang, source, ' ' || lower(text) || ' ' AS padded,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS toksi,
    length(text) AS n_chars,
    length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM alld),
sig AS (
  SELECT doc_id, text, lang, source,
    toksi::DOUBLE AS toks,
    CASE WHEN toksi > 0 THEN word_chars::DOUBLE / toksi ELSE 0.0 END AS mean_wlen,
    CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
    ({en_hits}) AS stops
  FROM base),
kept AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(text,
      '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
      '{PII_IPV4_RE}', '<IP>', 'g'),
      '{PII_PHONE_RE}', '<PHONE>', 'g') AS text,
    lang, source
  FROM sig
  WHERE NOT ((toks < 10.0 OR toks > 100000.0)
          OR (mean_wlen < 2.0 OR mean_wlen > 12.0)
          OR (punct_ratio > 0.3) OR (stops = 0))),
fped AS (SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         FROM kept),
dedup AS (SELECT * FROM fped
          QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
SELECT doc_id, text, lang, source, fp,
  CAST(CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
  {_split_sql} AS split
FROM dedup
"""

    _url_synth_sql = (
        "'HTTPS://WWW.Site' || (doc_id % 17) || '.Example.COM:443/a/b' || "
        "(doc_id % 5) || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END || "
        "'?utm_source=feed&z=' || (doc_id % 3) || '&a=1' || "
        "CASE WHEN doc_id % 4 = 0 THEN '#s' || doc_id ELSE '' END"
    )
    _url_canon_ctes = f"""
u AS (SELECT doc_id, {_url_synth_sql} AS url FROM documents),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS no_frag FROM u),
s2 AS (SELECT doc_id, url, no_frag,
         lower(regexp_extract(no_frag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(no_frag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
       FROM s1),
s3 AS (SELECT doc_id, url, no_frag, scheme, after,
         lower(regexp_extract(after, '^([^/?]*)', 1)) AS hostport,
         regexp_extract(after, '^[^/?]*([^?]*)', 1) AS raw_path,
         regexp_extract(no_frag, '\\?([^#]*)', 1) AS query
       FROM s2),
s4 AS (SELECT doc_id, url, scheme, raw_path, query,
         regexp_replace(
           CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                ELSE hostport END,
           '^www\\.', '') AS host
       FROM s3),
canon AS (
  SELECT doc_id, url,
    scheme || '://' || host ||
    CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(raw_path, '/+$', '') END ||
    CASE WHEN len(list_filter(string_split(query, '&'),
                              p -> p != '' AND substr(p, 1, 4) != 'utm_')) > 0
         THEN '?' || array_to_string(
                list_sort(list_filter(string_split(query, '&'),
                          p -> p != '' AND substr(p, 1, 4) != 'utm_')), '&')
         ELSE '' END AS canon_url
  FROM s4)
"""
    sql["web_url_canon"] = f"""
WITH {_url_canon_ctes}
SELECT doc_id, url, canon_url FROM canon
"""

    sql["web_url_dedup"] = f"""
WITH {_url_canon_ctes}
SELECT canon_url, COUNT(*)::BIGINT AS n_docs, MIN(doc_id) AS keep_id
FROM canon GROUP BY canon_url HAVING COUNT(*) > 1
"""

    sql["corpus_profile"] = """
SELECT lang, source,
  COUNT(*)::BIGINT AS n_docs,
  COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))::BIGINT
    AS n_unique,
  SUM(CASE WHEN trim(text) = '' THEN 0
           ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT
    AS total_tokens,
  ROUND(SUM(length(text))::DOUBLE / COUNT(*), 2) AS avg_chars
FROM documents GROUP BY lang, source
"""

    # identical alternation order as the Spark mapInPandas stage; RE2 has no
    # lookarounds — mention_pattern_re2 emits the \b form (ASCII boundary,
    # exactly the explicit class the Spark-side pattern asserts)
    from sparkrdf.extract.ner import mention_pattern_re2

    ner_pat = mention_pattern_re2(DOC_NER_DICT)
    sql["kg_doc_mentions"] = f"""
SELECT doc_id, surface, COUNT(*)::INT AS n
FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS surface
      FROM documents)
GROUP BY doc_id, surface
"""
    # same oracle, Spark side runs the codegen (JVM regex) detector
    sql["kg_doc_mentions_jvm"] = sql["kg_doc_mentions"]

    # entity resolution: identical suffix-coreference rule in pure SQL over
    # the same mention set (see sparkrdf/extract/resolve.py docstring)
    sql["kg_entity_resolution"] = f"""
WITH m AS (
  SELECT doc_id, surface, COUNT(*)::INT AS n
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS surface
        FROM documents)
  GROUP BY doc_id, surface
),
norm AS (
  SELECT doc_id, surface, n,
         trim(regexp_replace(lower(surface), '\\s+', ' ', 'g')) AS form
  FROM m
),
multis AS (
  SELECT DISTINCT doc_id, form AS long_form,
         regexp_extract(form, '(\\S+)$', 1) AS last_tok
  FROM norm WHERE contains(form, ' ')
),
resolved AS (
  SELECT norm.doc_id, norm.n, norm.form,
         coalesce(MIN(multis.long_form), norm.form) AS entity_key
  FROM norm LEFT JOIN multis
    ON norm.doc_id = multis.doc_id AND norm.form = multis.last_tok
  GROUP BY norm.doc_id, norm.surface, norm.n, norm.form
)
SELECT entity_key,
       SUM(n)::BIGINT AS n_mentions,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
       COUNT(DISTINCT form)::BIGINT AS n_forms
FROM resolved GROUP BY entity_key
"""

    # pages pipeline over the materialized input parquet (written eagerly by
    # q_kg_pages_pipeline before the oracle runs — same file, both engines).
    # Gazetteer linking (best candidate per surface, cosine tie-break) is
    # precomputed driver-side and baked in as VALUES, like _GAZ above; the
    # farmhash page_iri is a stored column (itself Guava-pinned).
    from sparkrdf.extract.gazetteer import KG as _EKG
    from sparkrdf.extract.gazetteer import PREDICATES as _EPRED
    from sparkrdf.extract.gazetteer import RDF_TYPE as _ERDF_TYPE
    from sparkrdf.extract.link import scored_gazetteer

    page_pat = mention_pattern_re2()
    gaz_vals = ", ".join(
        f"('{s}', '{ent}', '{cls}')" for s, ent, cls, _lbl, _sc in scored_gazetteer()
    )
    sql["kg_pages_pipeline"] = f"""
WITH pages AS (SELECT * FROM read_parquet('{PAGES_MAT_PATH}/*.parquet')),
gaz(surface, ent, cls) AS (VALUES {gaz_vals}),
mention AS (
  SELECT page_iri, unnest(regexp_extract_all(text, '{page_pat}', 1)) AS surface
  FROM pages),
linked AS (
  SELECT DISTINCT m.page_iri, g.ent, g.cls
  FROM mention m JOIN gaz g USING (surface))
SELECT page_iri AS subj, '{_ERDF_TYPE}' AS pred, '{_EKG}class/WebPage' AS obj FROM pages
UNION ALL SELECT page_iri, '{_EPRED["url"]}', url FROM pages
UNION ALL SELECT page_iri, '{_EPRED["lang"]}', lang FROM pages
UNION ALL SELECT page_iri, '{_EPRED["fetchedAt"]}',
  strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') FROM pages
UNION ALL SELECT page_iri, '{_EPRED["tokenCount"]}',
  CAST(len(string_split_regex(text, '\\s+')) AS VARCHAR) FROM pages
UNION ALL SELECT DISTINCT page_iri, '{_EPRED["mentions"]}', ent FROM linked
UNION ALL SELECT DISTINCT ent, '{_ERDF_TYPE}', cls FROM linked
"""

    # temporal fact scoping: the same materialized pages + mention→link
    # CTEs, one MIN/MAX/COUNT-DISTINCT aggregate per entity
    # (eventops.observation_ranges)
    sql["kg_entity_temporal"] = f"""
WITH pages AS (SELECT * FROM read_parquet('{PAGES_MAT_PATH}/*.parquet')),
gaz(surface, ent, cls) AS (VALUES {gaz_vals}),
mention AS (
  SELECT page_iri, warc_ts, unnest(regexp_extract_all(text, '{page_pat}', 1)) AS surface
  FROM pages),
linked AS (
  SELECT DISTINCT m.page_iri, m.warc_ts, g.ent
  FROM mention m JOIN gaz g USING (surface))
SELECT ent AS entity_iri,
       strftime(MIN(warc_ts), '%Y-%m-%dT%H:%M:%SZ') AS first_seen,
       strftime(MAX(warc_ts), '%Y-%m-%dT%H:%M:%SZ') AS last_seen,
       COUNT(DISTINCT page_iri)::BIGINT AS n_prov
FROM linked GROUP BY ent
"""

    sql["sim_topk"] = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_cosine_sql("e.embedding", "q.qv")} AS score
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""

    sql["sim_ivf_exhaustive"] = sql["sim_topk"]

    # kNN self-join within IVF cells: same-cell pairs + per-id windowed
    # top-k with the identical (score desc, id asc) tie order
    sql["sim_knn_join"] = f"""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_cosine_sql("a.embedding", "b.embedding")} AS score
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id)
SELECT id_a, id_b, score, rank FROM (
  SELECT id_a, id_b, score,
         ROW_NUMBER() OVER (
           PARTITION BY id_a ORDER BY score DESC, id_b ASC)::INT AS rank
  FROM p) WHERE rank <= 3
"""

    # the n_probe=2 probe path: per-label centroids (unnest + AVG by
    # position), rank cells by centroid cosine with the identical
    # (score desc, cell asc) tie-break, exact cosine inside the probed cells
    sql["sim_ivf_topk"] = f"""
WITH ex AS (
  SELECT label AS cell, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings),
cpos AS (SELECT cell, pos, AVG(val) AS v FROM ex GROUP BY cell, pos),
cents AS (SELECT cell, list(v ORDER BY pos) AS centroid FROM cpos GROUP BY cell),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probed AS (
  SELECT c.cell FROM cents c, q
  ORDER BY {_cosine_raw_sql("c.centroid", "q.qv")} DESC, c.cell ASC LIMIT 2)
SELECT e.vec_id, {_cosine_sql("e.embedding", "q.qv")} AS score
FROM embeddings e JOIN probed p ON e.label = p.cell, q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""

    from sparkrdf.similarity import LSH_PLANES, lsh_hyperplanes

    plane_vals = ", ".join(
        f"({1 << p}, [{', '.join(str(x) for x in w)}]::DOUBLE[])"
        for p, w in enumerate(lsh_hyperplanes(64, LSH_PLANES))
    )
    sql["sim_lsh_topk"] = f"""
WITH planes(bit, w) AS (VALUES {plane_vals}),
sigs AS (
  SELECT e.vec_id, SUM(CASE WHEN
    list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> e.embedding[i]::DOUBLE * p.w[i])) > 0
    THEN p.bit ELSE 0 END)::BIGINT AS sig
  FROM embeddings e, planes p GROUP BY e.vec_id),
q AS (SELECT s.sig AS qsig, e.embedding AS qv
      FROM sigs s JOIN embeddings e USING (vec_id) WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, e.embedding FROM sigs s JOIN embeddings e USING (vec_id), q
  WHERE bit_count(xor(s.sig, q.qsig)) <= 3 AND e.vec_id <> 0)
SELECT c.vec_id, {_cosine_sql("c.embedding", "q.qv")} AS score
FROM cand c, q
ORDER BY score DESC, c.vec_id ASC
LIMIT 10
"""

    sql["sim_blocked_near_dup"] = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  {_cosine_sql("a.embedding", "b.embedding")} AS score
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_cosine_sql("a.embedding", "b.embedding")} >= 0.35
"""

    # mm_audio_features: recompute the synthetic int16 sine samples from the
    # row id (sparkrdf.multimodal.synthesize_media kind="audio") instead of
    # decoding the blob — same FP op order ((j*freq/8000.0)*2*pi), TRUNC
    # toward zero like numpy's astype(int16). n = 2000 fixed on both sides
    # (q_mm_audio_features synthesizes exactly 2000 rows at every sf).
    sql["mm_audio_features"] = """
WITH ids AS (SELECT unnest(range(0, 2000)) AS i),
par AS (SELECT 'audio' || i AS doc_id, 8000 AS sr,
               1000 + (i % 500) AS ns, (220 + (i % 200))::BIGINT AS freq FROM ids),
smp AS (SELECT doc_id, sr, ns,
  list_transform(range(0, ns),
    j -> CAST(TRUNC(sin((j * freq / 8000.0) * 2 * pi()) * 8000) AS INTEGER)) AS s
  FROM par)
SELECT doc_id, sr AS sample_rate, ns AS n_samples,
  ROUND(ns / 8000.0, 6) AS duration_s,
  ROUND(sqrt(list_sum(list_transform(s, x -> CAST(x AS DOUBLE) * x)) / ns), 3) AS rms,
  len(list_filter(range(1, ns), j -> (s[j] < 0) <> (s[j + 1] < 0))) AS zero_crossings,
  TRUE AS ok
FROM smp
"""

    got_chars = os.path.join(_GOT_DUMP, "Characters_*.data.json.gz")
    got_childof = os.path.join(_GOT_DUMP, "ChildOf_*.data.json.gz")
    sql["adb_dump_vertices"] = f"""
SELECT 'Characters' AS collection, _key, name, surname, alive,
  CAST(age AS BIGINT) AS age,
  CAST(len(traits) AS BIGINT) AS n_traits
FROM read_json('{got_chars}', format='newline_delimited')
"""
    sql["adb_dump_edges"] = f"""
SELECT 'ChildOf' AS collection, _key, _from, _to,
  '{_GOT_NS}/ChildOf' AS pred_uri,
  json_extract_string(foo, '$') AS foo
FROM read_json('{got_childof}', format='newline_delimited')
"""

    sql["rel_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100) AS BIGINT) AS sum_qty_cents,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100) AS BIGINT) AS sum_base_price_cents,
  COUNT(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

    sql["rel_join_rollup"] = """
SELECT n_name, COUNT(*)::BIGINT AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["rel_window_topk"] = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rn
  FROM orders) t
WHERE rn <= 2
"""

    sql["rel_anti_join"] = """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
"""

    sql["evt_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
  COUNT(*)::BIGINT AS n,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT) AS total_value_cents
FROM events GROUP BY 1, 2
"""

    sql["events_sessionize"] = """
WITH t AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, us, value,
    SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM t)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  COUNT(*)::BIGINT AS n_events,
  MIN(us) AS start_us, MAX(us) AS end_us,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, session_idx
"""

    # ordered funnel: per-step MIN chained through strict-after + deadline
    # filters (eventops.funnel); 1440 min window
    _fw = 1440 * 60 * 1_000_000
    sql["evt_funnel"] = f"""
WITH e AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS us FROM events),
s1 AS (SELECT u, MIN(us) AS t1 FROM e WHERE et = 'view' GROUP BY u),
s2 AS (SELECT e.u, MIN(us) AS t2 FROM e JOIN s1 ON s1.u = e.u
       WHERE et = 'click' AND us > t1 AND us <= t1 + {_fw} GROUP BY e.u),
s3 AS (SELECT e.u, MIN(us) AS t3 FROM e JOIN s1 ON s1.u = e.u
       JOIN s2 ON s2.u = e.u
       WHERE et = 'purchase' AND us > t2 AND us <= t1 + {_fw} GROUP BY e.u)
SELECT s1.u AS user_id,
  (1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::INT AS steps_completed,
  t1 AS t1_us, COALESCE(t3, t2, t1) AS t_end_us
FROM s1 LEFT JOIN s2 ON s2.u = s1.u LEFT JOIN s3 ON s3.u = s1.u
"""

    # gaps-and-islands interval coalescing: running max of prior ends,
    # island = cumsum of the strict-gap flag (eventops.coalesce_intervals)
    # retention cohorts: identical fixed-epoch week-bucket arithmetic
    sql["evt_retention"] = """
WITH ub AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS b
  FROM events),
fst AS (SELECT u, MIN(b) AS cohort FROM ub GROUP BY u)
SELECT fst.cohort, ub.b - fst.cohort AS age, COUNT(*)::BIGINT AS users
FROM ub JOIN fst ON fst.u = ub.u
GROUP BY fst.cohort, ub.b - fst.cohort
"""

    sql["evt_interval_merge"] = """
WITH iv AS (SELECT user_id, epoch_us(ts) AS s_us,
       epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT)
         AS e_us FROM events),
t AS (SELECT user_id, s_us, e_us,
    MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
    FROM iv),
s AS (SELECT user_id, s_us, e_us,
    SUM(CASE WHEN pm IS NULL OR s_us > pm THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY s_us, e_us
            ROWS UNBOUNDED PRECEDING) AS island
    FROM t)
SELECT user_id, CAST(island AS BIGINT) AS island_idx,
       MIN(s_us) AS start_us, MAX(e_us) AS end_us,
       COUNT(*)::BIGINT AS n_intervals
FROM s GROUP BY user_id, island
"""

    # shared CTE prefix for the co-mention graph family: distinct per-doc
    # mentions -> distinct undirected (u < v) edges
    graph_edges_cte = f"""
WITH m AS (
  SELECT DISTINCT d, e FROM (
    SELECT doc_id AS d, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS e
    FROM documents)),
edges AS (
  SELECT DISTINCT a.e AS u, b.e AS v
  FROM m a JOIN m b ON a.d = b.d AND a.e < b.e)
"""

    sql["graph_comention_edges"] = graph_edges_cte + "SELECT u, v FROM edges"

    sql["graph_degree_stats"] = graph_edges_cte + """
SELECT n, COUNT(*)::BIGINT AS deg FROM (
  SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) GROUP BY n
"""

    # degree-ordered node-iterator++: orient every edge from its lower
    # (degree, id) endpoint, build wedges at the low end, close on the
    # oriented (q, r) edge — the same algebra graphops.triangles runs.
    sql["graph_triangles"] = graph_edges_cte + """,
deg AS (
  SELECT n, COUNT(*)::BIGINT AS dg FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) GROUP BY n),
o AS (
  SELECT CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.u ELSE e.v END AS lo,
         CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.v ELSE e.u END AS hi,
         CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN dv.dg ELSE du.dg END AS dh
  FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
w AS (
  SELECT e1.lo AS p, e1.hi AS q, e2.hi AS r
  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND (e1.dh, e1.hi) < (e2.dh, e2.hi)),
tri AS (
  SELECT list_sort([p, q, r]) AS t
  FROM w JOIN o ON o.lo = w.q AND o.hi = w.r)
SELECT t[1] AS a, t[2] AS b, t[3] AS c FROM tri
"""

    # PageRank: the same 10 power iterations graphops.pagerank runs,
    # unrolled as one CTE per iteration (recursive CTEs can't aggregate in
    # the recursive member). Undirected graph -> both edge directions; every
    # vertex of an edge list has degree >= 1, so no dangling-mass term.
    pr_cte = graph_edges_cte + """,
de AS (SELECT u AS s, v AS t FROM edges UNION ALL SELECT v AS s, u AS t FROM edges),
deg AS (SELECT s, COUNT(*)::DOUBLE AS dg FROM de GROUP BY s),
nv AS (SELECT COUNT(*)::DOUBLE AS c FROM deg),
r0 AS (SELECT s AS n, 1.0 / (SELECT c FROM nv) AS pr FROM deg)"""
    for i in range(10):
        pr_cte += f""",
r{i + 1} AS (
  SELECT de.t AS n,
    (1 - 0.85) / (SELECT c FROM nv) + 0.85 * SUM(r{i}.pr / deg.dg) AS pr
  FROM de JOIN deg USING (s) JOIN r{i} ON r{i}.n = de.s
  GROUP BY de.t)"""
    sql["graph_pagerank"] = pr_cte + "\nSELECT n, ROUND(pr, 6) AS pr FROM r10"

    # link-graph extraction: identical regex algebra over the same
    # materialized (url, html) parquet both engines read
    _links_base = f"""
WITH pages AS (SELECT * FROM read_parquet('{LINKS_MAT_PATH}/*.parquet')),
raw AS (
  SELECT url AS src,
         unnest(regexp_extract_all(html, '<a\\s[^>]*href="([^"]+)"', 1)) AS dst
  FROM pages),
h AS (
  SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src_host,
         regexp_extract(dst, '^https?://([^/]+)', 1) AS dst_host
  FROM raw),
edges AS MATERIALIZED (
  SELECT src_host, dst_host, COUNT(*)::BIGINT AS n_links FROM h
  WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
  GROUP BY src_host, dst_host)"""

    sql["web_link_hosts"] = _links_base + """
SELECT src_host, dst_host, n_links FROM edges
"""

    # head-metadata triples over the same materialized pages table: the
    # fixture carries a <title> on every page (no meta tags), so the
    # oracle is the identical title regex; the Spark side's meta-tag arm
    # unions zero rows here and is pinned by pytest on inline HTML
    sql["kg_page_meta"] = f"""
WITH pages AS (SELECT * FROM read_parquet('{LINKS_MAT_PATH}/*.parquet'))
SELECT url, url AS s, 'http://kg.example.org/prop/title' AS p,
       trim(regexp_extract(html, '(?s)<title[^>]*>(.*?)</title>', 1)) AS o
FROM pages
WHERE regexp_extract(html, '(?s)<title[^>]*>(.*?)</title>', 1) <> ''
"""

    # per-node local clustering coefficient: naive wedge-close count per
    # center (the independent formulation of graphops.clustering_coefficient,
    # which counts via the degree-oriented triangle enumerator)
    sql["graph_clustering"] = graph_edges_cte + """,
deg AS (
  SELECT n, COUNT(*)::BIGINT AS deg FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) GROUP BY n),
adj AS (
  SELECT u AS n, v AS nb FROM edges
  UNION ALL SELECT v AS n, u AS nb FROM edges),
tri AS (
  SELECT a.n, COUNT(*)::BIGINT AS tri
  FROM adj a
  JOIN adj b ON b.n = a.n AND a.nb < b.nb
  JOIN edges e ON e.u = a.nb AND e.v = b.nb
  GROUP BY a.n)
SELECT d.n, d.deg, COALESCE(t.tri, 0)::BIGINT AS tri,
       CASE WHEN d.deg >= 2
            THEN ROUND(2.0 * COALESCE(t.tri, 0) / (d.deg * (d.deg - 1)), 9)
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN tri t ON t.n = d.n
"""

    # per-host reciprocity on the directed host link graph: reversed
    # self-join + per-source rollup (graphops.reciprocity)
    sql["web_host_reciprocity"] = _links_base + """,
e AS (SELECT DISTINCT src_host AS u, dst_host AS v FROM edges),
m AS (SELECT e.u, e.v FROM e JOIN e r ON r.u = e.v AND r.v = e.u),
o AS (SELECT u AS n, COUNT(*)::BIGINT AS n_out FROM e GROUP BY u),
rc AS (SELECT u AS n, COUNT(*)::BIGINT AS n_recip FROM m GROUP BY u)
SELECT o.n, o.n_out, COALESCE(rc.n_recip, 0)::BIGINT AS n_recip,
       ROUND(COALESCE(rc.n_recip, 0) / o.n_out, 9) AS reciprocity
FROM o LEFT JOIN rc ON rc.n = o.n
"""

    # 3-truss support peel, 4 rounds unrolled (fixpoint on this input is
    # round 2; peeling a truss is a no-op, so extra rounds cannot drift).
    # Per round: a<b<c triangle enumeration over the surviving edge set,
    # per-edge support rollup, filter sup >= k-2 = 1.
    _truss = _links_base + """,
e0 AS MATERIALIZED (SELECT DISTINCT least(src_host, dst_host) AS u,
  greatest(src_host, dst_host) AS v FROM edges)"""
    for i in range(4):
        _truss += f""",
t{i} AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e{i} e1 JOIN e{i} e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e{i} e3 ON e3.u = e1.v AND e3.v = e2.v),
s{i} AS (SELECT u, v, COUNT(*) AS sup FROM (
  SELECT a AS u, b AS v FROM t{i}
  UNION ALL SELECT a, c FROM t{i}
  UNION ALL SELECT b, c FROM t{i}) GROUP BY u, v),
e{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{i} e
  JOIN s{i} s ON s.u = e.u AND s.v = e.v WHERE s.sup >= 1)"""
    sql["graph_ktruss"] = _truss + "\nSELECT u, v FROM e4\n"

    # full coreness: h-index iteration unrolled 6 rounds (fixpoint on this
    # input is round 5; the iteration is stationary at the fixpoint)
    _core = _links_base + """,
cue AS (SELECT DISTINCT least(src_host, dst_host) AS u,
  greatest(src_host, dst_host) AS v FROM edges),
cb AS MATERIALIZED (SELECT u, v FROM cue UNION ALL SELECT v, u FROM cue),
c0 AS MATERIALIZED (SELECT u AS n, COUNT(*)::INT AS c FROM cb GROUP BY u)"""
    for i in range(6):
        _core += f""",
nb{i} AS (SELECT cb.u, cb.v, c{i}.c AS cv FROM cb JOIN c{i} ON c{i}.n = cb.v),
h{i} AS (SELECT u, MAX(LEAST(rn, cv)) AS h FROM (
  SELECT u, cv, ROW_NUMBER() OVER (PARTITION BY u ORDER BY cv DESC, v) AS rn
  FROM nb{i}) GROUP BY u),
c{i + 1} AS MATERIALIZED (
  SELECT c.n, LEAST(c.c, COALESCE(h.h, 0))::INT AS c
  FROM c{i} c LEFT JOIN h{i} h ON h.u = c.n)"""
    sql["graph_coreness"] = _core + "\nSELECT n, c AS coreness FROM c6\n"

    # robots admission: the parity policy restated as direct path CASE
    # logic — independent of the parse/longest-match machinery
    sql["web_robots_filter"] = f"""
WITH pages AS (SELECT * FROM read_parquet('{LINKS_MAT_PATH}/*.parquet')),
u AS (
  SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         regexp_replace(url, '^https?://[^/]+', '') AS path
  FROM pages)
SELECT url,
  CASE WHEN length(host) % 2 = 0 THEN
    CASE WHEN path LIKE '/page/12%' THEN TRUE
         WHEN path LIKE '/page/1%' THEN FALSE
         ELSE TRUE END
  ELSE CASE WHEN path LIKE '/page/9%' THEN FALSE ELSE TRUE END
  END AS allowed
FROM u
"""

    # sitemap parse inverts the deterministic render: entries are exactly
    # the orders rows
    sql["web_sitemap_urls"] = """
SELECT 'sitemap-' || CAST(o_custkey AS VARCHAR) || '.xml' AS path,
       'https://data.example.org/order/' || CAST(o_orderkey AS VARCHAR) AS loc,
       strftime(o_orderdate, '%Y-%m-%d') AS lastmod
FROM orders
"""

    # weakly-connected components: recursive reachability closure + MIN —
    # independent of the hash-to-min formulation
    _links_recursive = "WITH RECURSIVE" + _links_base.split("WITH", 1)[1]
    # SCC: pairwise directed reachability closure, mutual pairs, MIN id —
    # the one-edge-at-a-time textbook definition the FB-Trim coloring
    # algorithm must agree with exactly
    sql["graph_scc"] = _links_recursive + """,
de AS (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges
       WHERE src_host <> dst_host),
dn AS MATERIALIZED (SELECT DISTINCT n FROM
       (SELECT s AS n FROM de UNION ALL SELECT t FROM de)),
reach(a, b) AS (
  SELECT s, t FROM de
  UNION
  SELECT reach.a, de.t FROM reach JOIN de ON de.s = reach.b),
mutual AS (
  SELECT n AS a, n AS b FROM dn
  UNION
  SELECT r1.a, r1.b FROM reach r1 JOIN reach r2
    ON r1.a = r2.b AND r1.b = r2.a)
SELECT a AS n, MIN(b) AS scc FROM mutual GROUP BY a
"""

    # neighborhood function: recursive bounded-depth BFS, min distance per
    # ordered pair, cumulative pair counts at each observed distance
    sql["graph_nf"] = _links_recursive + """,
de AS (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges
       WHERE src_host <> dst_host),
dn AS MATERIALIZED (SELECT DISTINCT n FROM
       (SELECT s AS n FROM de UNION ALL SELECT t FROM de)),
bfs(a, b, d) AS (
  SELECT n, n, 0 FROM dn
  UNION
  SELECT bfs.a, de.t, bfs.d + 1 FROM bfs JOIN de ON de.s = bfs.b
  WHERE bfs.d < 4),
md AS (SELECT a, b, MIN(d) AS d FROM bfs GROUP BY a, b)
SELECT CAST(g.d AS INTEGER) AS t, COUNT(*)::BIGINT AS pairs
FROM (SELECT DISTINCT d FROM md) g JOIN md m ON m.d <= g.d
GROUP BY g.d
"""

    # betweenness: Brandes forward sigma / backward delta recurrences
    # unrolled 4 levels over the md5-sampled source set
    _btw = _links_recursive.replace("WITH RECURSIVE", "WITH") + """,
de AS MATERIALIZED (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges
       WHERE src_host <> dst_host),
dn AS MATERIALIZED (SELECT DISTINCT n FROM
       (SELECT s AS n FROM de UNION ALL SELECT t AS n FROM de)),
bsrc AS MATERIALIZED (
  SELECT n FROM dn
  WHERE CAST(('0x' || substr(md5('7' || '|' || n), 1, 8)) AS BIGINT) % 4 = 0),
bl0 AS MATERIALIZED (SELECT n AS a, n AS b, CAST(1.0 AS DOUBLE) AS sig
                     FROM bsrc),
bs0 AS MATERIALIZED (SELECT a, b FROM bl0)"""
    for i in range(1, 5):
        _btw += f""",
bl{i} AS MATERIALIZED (
  SELECT p.a, de.t AS b, SUM(p.sig) AS sig
  FROM bl{i - 1} p JOIN de ON de.s = p.b
  LEFT JOIN bs{i - 1} sn ON sn.a = p.a AND sn.b = de.t
  WHERE sn.a IS NULL
  GROUP BY p.a, de.t),
bs{i} AS MATERIALIZED (SELECT a, b FROM bs{i - 1}
                       UNION ALL SELECT a, b FROM bl{i})"""
    _btw += """,
bd4 AS MATERIALIZED (SELECT a, b, CAST(0.0 AS DOUBLE) AS delta FROM bl4)"""
    for i in range(3, 0, -1):
        _btw += f""",
bd{i} AS MATERIALIZED (
  SELECT lt.a, lt.b,
         COALESCE(SUM(lt.sig / lw.sig * (1.0 + dw.delta)), 0) AS delta
  FROM bl{i} lt
  LEFT JOIN de ON de.s = lt.b
  LEFT JOIN bl{i + 1} lw ON lw.a = lt.a AND lw.b = de.t
  LEFT JOIN bd{i + 1} dw ON dw.a = lt.a AND dw.b = de.t
  GROUP BY lt.a, lt.b)"""
    sql["graph_betweenness"] = _btw + """
SELECT b AS n, ROUND(SUM(delta), 6) AS betweenness FROM (
  SELECT a, b, delta FROM bd1
  UNION ALL SELECT a, b, delta FROM bd2
  UNION ALL SELECT a, b, delta FROM bd3
  UNION ALL SELECT a, b, delta FROM bd4)
GROUP BY b
"""

    # closeness: Wasserman-Faust over outgoing distances of the same
    # bounded min-distance closure
    sql["graph_closeness"] = _links_recursive + """,
de AS (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges
       WHERE src_host <> dst_host),
dn AS MATERIALIZED (SELECT DISTINCT n FROM
       (SELECT s AS n FROM de UNION ALL SELECT t AS n FROM de)),
nv AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS c FROM dn),
bfs(a, b, d) AS (
  SELECT n, n, 0 FROM dn
  UNION
  SELECT bfs.a, de.t, bfs.d + 1 FROM bfs JOIN de ON de.s = bfs.b
  WHERE bfs.d < 4),
md AS MATERIALIZED (SELECT a, b, MIN(d) AS d FROM bfs GROUP BY a, b),
ag AS MATERIALIZED (
  SELECT a AS n, COUNT(*)::DOUBLE AS r, SUM(d)::DOUBLE AS sd
  FROM md WHERE d > 0 GROUP BY a)
SELECT dn.n,
       ROUND(COALESCE((ag.r / ((SELECT c FROM nv) - 1)) * (ag.r / ag.sd),
                      0), 6) AS closeness
FROM dn LEFT JOIN ag USING (n)
"""

    # harmonic centrality: sum of reciprocal in-distances per node over
    # the same bounded min-distance closure; unreached nodes score 0
    sql["graph_harmonic"] = _links_recursive + """,
de AS (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges
       WHERE src_host <> dst_host),
dn AS MATERIALIZED (SELECT DISTINCT n FROM
       (SELECT s AS n FROM de UNION ALL SELECT t FROM de)),
bfs(a, b, d) AS (
  SELECT n, n, 0 FROM dn
  UNION
  SELECT bfs.a, de.t, bfs.d + 1 FROM bfs JOIN de ON de.s = bfs.b
  WHERE bfs.d < 4),
md AS MATERIALIZED (SELECT a, b, MIN(d) AS d FROM bfs GROUP BY a, b)
SELECT dn.n,
       ROUND(COALESCE(SUM(CAST(1.0 AS DOUBLE) / md.d), 0), 6) AS centrality
FROM dn LEFT JOIN md ON md.b = dn.n AND md.d > 0
GROUP BY dn.n
"""

    sql["graph_wcc"] = _links_recursive + """,
wue AS (SELECT DISTINCT least(src_host, dst_host) AS u,
  greatest(src_host, dst_host) AS v FROM edges),
wb AS (SELECT u, v FROM wue UNION SELECT v, u FROM wue),
reach(a, b) AS (
  SELECT u, u FROM (SELECT u FROM wb) t
  UNION
  SELECT reach.a, wb.v FROM reach JOIN wb ON wb.u = reach.b)
SELECT a AS n, MIN(b) AS component FROM reach GROUP BY a
"""

    # degree assortativity: Pearson corr of endpoint degrees over the
    # symmetrized (both-orientations) undirected edge list
    sql["graph_assortativity"] = _links_base + """,
ue AS (SELECT DISTINCT least(src_host, dst_host) AS u,
  greatest(src_host, dst_host) AS v FROM edges),
b AS (SELECT u AS x, v AS y FROM ue UNION ALL SELECT v, u FROM ue),
deg AS (SELECT x AS n, COUNT(*)::BIGINT AS d FROM b GROUP BY x)
SELECT (COUNT(*) / 2)::BIGINT AS n_edges,
       ROUND(corr(d1.d, d2.d), 9) AS assortativity
FROM b JOIN deg d1 ON d1.n = b.x JOIN deg d2 ON d2.n = b.y
"""

    # deterministic sync label propagation, the 4 rounds unrolled: per
    # round a neighbor-label count + ROW_NUMBER argmax with the identical
    # (count DESC, label ASC) tie order (graphops.label_propagation)
    _lpa = _links_base + """,
ue AS MATERIALIZED (SELECT DISTINCT u, v FROM (
  SELECT src_host AS u, dst_host AS v FROM edges
  UNION ALL SELECT dst_host, src_host FROM edges)),
l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS lbl FROM ue)"""
    for i in range(4):
        _lpa += f""",
c{i} AS (SELECT ue.u AS n, l.lbl, COUNT(*) AS c
  FROM ue JOIN l{i} l ON l.n = ue.v GROUP BY ue.u, l.lbl),
l{i + 1} AS MATERIALIZED (SELECT n, lbl FROM (
  SELECT n, lbl, ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, lbl) AS rn
  FROM c{i}) WHERE rn = 1)"""
    sql["graph_lpa"] = _lpa + "\nSELECT n, lbl AS label FROM l4\n"

    # modularity of the LPA partition: Q = sum_c(e_c/m - (deg_c/2m)^2)
    # over the same unrolled labels
    sql["graph_modularity"] = _lpa + """,
me AS MATERIALIZED (
  SELECT DISTINCT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b
  FROM edges WHERE src_host <> dst_host),
mj AS MATERIALIZED (
  SELECT COALESCE(la.lbl, me.a) AS la, COALESCE(lb.lbl, me.b) AS lb
  FROM me LEFT JOIN l4 la ON la.n = me.a LEFT JOIN l4 lb ON lb.n = me.b),
mm AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS m FROM mj),
mintra AS MATERIALIZED (
  SELECT la AS c, COUNT(*)::BIGINT AS ec FROM mj WHERE la = lb GROUP BY la),
mdegs AS MATERIALIZED (
  SELECT c, COUNT(*)::BIGINT AS dc FROM
    (SELECT la AS c FROM mj UNION ALL SELECT lb FROM mj) GROUP BY c)
SELECT (SELECT m FROM mm) AS m_edges,
       ROUND(SUM(COALESCE(mintra.ec, 0) / CAST((SELECT m FROM mm) AS DOUBLE)
                 - (mdegs.dc / (2.0 * (SELECT m FROM mm)))
                   * (mdegs.dc / (2.0 * (SELECT m FROM mm)))), 6) AS q
FROM mdegs LEFT JOIN mintra USING (c)
"""

    # neighborhood-overlap link prediction: per-center wedges, degree join,
    # anti-exists on the ordered existing-edge pair (graphops.adamic_adar)
    sql["graph_adamic_adar"] = _links_base + """,
pe AS MATERIALIZED (SELECT DISTINCT least(src_host, dst_host) AS u,
                    greatest(src_host, dst_host) AS v FROM edges),
ue AS MATERIALIZED (SELECT u, v FROM pe UNION ALL SELECT v, u FROM pe),
deg AS MATERIALIZED (SELECT u AS n, COUNT(*)::BIGINT AS d FROM ue GROUP BY u),
ctr AS (SELECT ue.u AS z, ue.v AS nb, deg.d FROM ue JOIN deg ON deg.n = ue.u),
pairs AS (SELECT a.nb AS u, b.nb AS v, a.d AS dz FROM ctr a
          JOIN ctr b ON a.z = b.z AND a.nb < b.nb),
sc AS (SELECT u, v, COUNT(*)::BIGINT AS common, SUM(1.0 / ln(dz)) AS aa
       FROM pairs GROUP BY u, v)
SELECT sc.u, sc.v, sc.common,
       ROUND(sc.common::DOUBLE / (du.d + dv.d - sc.common), 9) AS jaccard,
       ROUND(sc.aa, 9) AS aa
FROM sc JOIN deg du ON du.n = sc.u JOIN deg dv ON dv.n = sc.v
WHERE NOT EXISTS (SELECT 1 FROM pe WHERE pe.u = sc.u AND pe.v = sc.v)
"""

    # bounded Bellman–Ford from the lexicographically smallest host, the 6
    # relax/min rounds unrolled (graphops.sssp_bounded); cost 1/n_links is
    # the same double division + sequential addition on both engines
    _sssp = _links_base + """,
we AS MATERIALIZED (SELECT src_host AS s, dst_host AS t,
                    1.0 / n_links AS w FROM edges),
d0 AS MATERIALIZED (SELECT MIN(s) AS n, 0.0 AS dist FROM we)"""
    for i in range(6):
        _sssp += f""",
d{i + 1} AS MATERIALIZED (SELECT n, MIN(dist) AS dist FROM (
  SELECT n, dist FROM d{i}
  UNION ALL
  SELECT we.t AS n, d{i}.dist + we.w AS dist
  FROM we JOIN d{i} ON d{i}.n = we.s) GROUP BY n)"""
    sql["web_host_sssp"] = _sssp + "\nSELECT n, dist FROM d6\n"

    # directed weighted PageRank with the dangling-node correction, the 10
    # iterations unrolled; every per-iteration CTE is MATERIALIZED (each is
    # referenced more than once — plain CTEs would inline exponentially)
    _dpr = _links_base + """,
we AS MATERIALIZED (SELECT src_host AS s, dst_host AS t, n_links::DOUBLE AS w FROM edges),
outw AS (SELECT s, SUM(w) AS ow FROM we GROUP BY s),
norm AS MATERIALIZED (SELECT we.s, we.t, we.w / outw.ow AS frac
                      FROM we JOIN outw USING (s)),
nodes AS MATERIALIZED (SELECT DISTINCT n FROM (
  SELECT s AS n FROM we UNION ALL SELECT t AS n FROM we)),
nv AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS c FROM nodes),
srcs AS MATERIALIZED (SELECT DISTINCT s AS n FROM we),
r0 AS MATERIALIZED (SELECT n, 1.0 / (SELECT c FROM nv) AS pr FROM nodes)"""
    for i in range(10):
        _dpr += f""",
dm{i} AS MATERIALIZED (SELECT COALESCE(SUM(pr), 0) AS dm FROM r{i}
  WHERE n NOT IN (SELECT n FROM srcs)),
inf{i} AS MATERIALIZED (SELECT norm.t AS n, SUM(r{i}.pr * norm.frac) AS c
  FROM norm JOIN r{i} ON r{i}.n = norm.s GROUP BY norm.t),
r{i + 1} AS MATERIALIZED (
  SELECT nodes.n,
         (1 - 0.85) / (SELECT c FROM nv)
         + 0.85 * (COALESCE(inf{i}.c, 0) + (SELECT dm FROM dm{i}) / (SELECT c FROM nv)) AS pr
  FROM nodes LEFT JOIN inf{i} ON nodes.n = inf{i}.n)"""
    sql["web_host_rank"] = _dpr + "\nSELECT n, ROUND(pr, 6) AS pr FROM r10"

    # personalized PageRank: the same unrolled power iteration with a
    # seed-uniform teleport vector replacing 1/N everywhere
    _seed_list = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    _ppr = _links_base + f""",
we AS MATERIALIZED (SELECT src_host AS s, dst_host AS t, n_links::DOUBLE AS w FROM edges),
outw AS (SELECT s, SUM(w) AS ow FROM we GROUP BY s),
norm AS MATERIALIZED (SELECT we.s, we.t, we.w / outw.ow AS frac
                      FROM we JOIN outw USING (s)),
nodes AS MATERIALIZED (SELECT DISTINCT n FROM (
  SELECT s AS n FROM we UNION ALL SELECT t AS n FROM we)),
sd AS MATERIALIZED (SELECT n FROM nodes WHERE n IN ({_seed_list})),
ns AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS c FROM sd),
tele AS MATERIALIZED (
  SELECT nodes.n,
         CASE WHEN sd.n IS NOT NULL THEN CAST(1.0 AS DOUBLE) / (SELECT c FROM ns)
              ELSE 0 END AS tl
  FROM nodes LEFT JOIN sd USING (n)),
srcs AS MATERIALIZED (SELECT DISTINCT s AS n FROM we),
p0 AS MATERIALIZED (SELECT n, tl AS pr FROM tele)"""
    for i in range(10):
        _ppr += f""",
pdm{i} AS MATERIALIZED (SELECT COALESCE(SUM(pr), 0) AS dm FROM p{i}
  WHERE n NOT IN (SELECT n FROM srcs)),
pinf{i} AS MATERIALIZED (SELECT norm.t AS n, SUM(p{i}.pr * norm.frac) AS c
  FROM norm JOIN p{i} ON p{i}.n = norm.s GROUP BY norm.t),
p{i + 1} AS MATERIALIZED (
  SELECT tele.n,
         (1 - 0.85) * tele.tl
         + 0.85 * (COALESCE(pinf{i}.c, 0) + (SELECT dm FROM pdm{i}) * tele.tl) AS pr
  FROM tele LEFT JOIN pinf{i} ON tele.n = pinf{i}.n)"""
    sql["web_host_ppr"] = _ppr + "\nSELECT n, ROUND(pr, 6) AS pr FROM p10"

    # HITS: auth(v) = Σ hub(u→v), hub(u) = Σ auth(u→v), each L1-normalized
    # and rounded 12 d.p. per normalization (the one cross-engine float
    # hazard is the global-sum normalizer) — mirrors graphops.hits exactly
    _hits = _links_base + """,
we AS MATERIALIZED (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges),
nodes AS MATERIALIZED (SELECT DISTINCT n FROM (
  SELECT s AS n FROM we UNION ALL SELECT t AS n FROM we)),
nv AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS c FROM nodes),
h0 AS MATERIALIZED (SELECT n, 1.0 / (SELECT c FROM nv) AS hub FROM nodes)"""
    for i in range(10):
        _hits += f""",
araw{i} AS MATERIALIZED (SELECT we.t AS n, SUM(h{i}.hub) AS a
  FROM we JOIN h{i} ON h{i}.n = we.s GROUP BY we.t),
a{i + 1} AS MATERIALIZED (
  SELECT nodes.n,
         ROUND(COALESCE(ar.a, 0) / (SELECT SUM(a) FROM araw{i}), 12) AS auth
  FROM nodes LEFT JOIN araw{i} ar USING (n)),
hraw{i} AS MATERIALIZED (SELECT we.s AS n, SUM(a{i + 1}.auth) AS h
  FROM we JOIN a{i + 1} ON a{i + 1}.n = we.t GROUP BY we.s),
h{i + 1} AS MATERIALIZED (
  SELECT nodes.n,
         ROUND(COALESCE(hr.h, 0) / (SELECT SUM(h) FROM hraw{i}), 12) AS hub
  FROM nodes LEFT JOIN hraw{i} hr USING (n))"""
    sql["web_host_hits"] = _hits + """
SELECT h10.n, ROUND(h10.hub, 6) AS hub, ROUND(a10.auth, 6) AS auth
FROM h10 JOIN a10 USING (n)
"""

    # deterministic random walks: identical md5-index hop arithmetic,
    # neighbor ordering (row_number by name) and sink stopping, 3 steps
    # unrolled; every per-step CTE MATERIALIZED (multi-referenced)
    _walks = _links_base + """,
we AS MATERIALIZED (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges),
nbr AS MATERIALIZED (
  SELECT s, t, ROW_NUMBER() OVER (PARTITION BY s ORDER BY t) - 1 AS idx FROM we),
dg AS MATERIALIZED (SELECT s, COUNT(*) AS dg FROM we GROUP BY s),
w0 AS MATERIALIZED (
  SELECT d.s AS start, wn.walk_no, 0 AS step, d.s AS node
  FROM dg d, (SELECT unnest(range(2))::INT AS walk_no) wn)"""
    for t in range(3):
        _walks += f""",
w{t + 1} AS MATERIALIZED (
  SELECT w.start, w.walk_no, {t + 1} AS step, nbr.t AS node
  FROM w{t} w
  JOIN dg ON dg.s = w.node
  JOIN nbr ON nbr.s = w.node AND nbr.idx =
    CAST(('0x' || substr(md5('7' || '|' || w.start || '|' || w.walk_no
                             || '|' || '{t}' || '|' || w.node), 1, 8))
         AS BIGINT) % dg.dg)"""
    sql["web_host_walks"] = _walks + """
SELECT start, walk_no, step, node FROM w0
UNION ALL SELECT start, walk_no, step, node FROM w1
UNION ALL SELECT start, walk_no, step, node FROM w2
UNION ALL SELECT start, walk_no, step, node FROM w3
"""

    # crawl delays: even-length hosts carry a bot-specific group (delay 2,
    # shadowing the '*' group's max(10,7)); odd hosts only '*' (5; the
    # bogus line drops)
    sql["web_crawl_delays"] = f"""
WITH pages AS (SELECT * FROM read_parquet('{LINKS_MAT_PATH}/*.parquet')),
hosts AS (SELECT DISTINCT regexp_extract(url, '^https?://([^/]+)', 1) AS host
          FROM pages)
SELECT host,
       CASE WHEN len(host) % 2 = 0 THEN CAST(2.0 AS DOUBLE)
            ELSE CAST(5.0 AS DOUBLE) END AS delay
FROM hosts WHERE host <> ''
"""

    # sitemap index: the refs written directly from the orders columns
    sql["web_sitemap_index"] = """
SELECT 'https://data.example.org/smidx/' || CAST(o_custkey % 10 AS VARCHAR)
         AS path,
       'https://data.example.org/sm/' || CAST(o_orderkey AS VARCHAR)
         || '.xml' AS loc,
       strftime(o_orderdate, '%Y-%m-%d') AS lastmod
FROM orders
"""

    # frontier waves: per-host ROW_NUMBER is the independent definition of
    # the window-free global-rank construction
    sql["web_frontier_waves"] = f"""
WITH pages AS (SELECT * FROM read_parquet('{LINKS_MAT_PATH}/*.parquet')),
u AS (SELECT DISTINCT url FROM pages),
h AS (SELECT url,
             lower(regexp_extract(url, '(?i)^[a-z][a-z0-9+.\\-]*://([^/]+)', 1))
               AS host
      FROM u),
r AS (SELECT url, host,
             ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1 AS seq
      FROM h WHERE host <> '')
SELECT url, host, seq::BIGINT AS seq, (seq // 4)::BIGINT AS wave FROM r
"""

    # node2vec: uniform first hop, then integer class weights (1/2/1 =
    # return/common/far) with the cumulative-weight md5 draw — identical
    # integer arithmetic to graphops.node2vec_walks
    _n2v = _links_base + """,
we AS MATERIALIZED (SELECT DISTINCT src_host AS s, dst_host AS t FROM edges),
nbr AS MATERIALIZED (
  SELECT s, t, ROW_NUMBER() OVER (PARTITION BY s ORDER BY t) - 1 AS idx FROM we),
dg AS MATERIALIZED (SELECT s, COUNT(*) AS dg FROM we GROUP BY s),
v0 AS MATERIALIZED (
  SELECT d.s AS start, wn.walk_no, d.s AS node
  FROM dg d, (SELECT unnest(range(2))::INT AS walk_no) wn),
v1 AS MATERIALIZED (
  SELECT v.start, v.walk_no, v.node AS prev, nbr.t AS node
  FROM v0 v
  JOIN dg ON dg.s = v.node
  JOIN nbr ON nbr.s = v.node AND nbr.idx =
    CAST(('0x' || substr(md5('7' || '|' || v.start || '|' || v.walk_no
                             || '|' || '0' || '|' || v.node), 1, 8))
         AS BIGINT) % dg.dg)"""
    for t in range(1, 3):
        _n2v += f""",
c{t} AS MATERIALIZED (
  SELECT *,
         SUM(w) OVER (PARTITION BY start, walk_no ORDER BY idx) AS cum,
         SUM(w) OVER (PARTITION BY start, walk_no) AS tot
  FROM (
    SELECT v.start, v.walk_no, v.prev, v.node, nbr.t AS cx, nbr.idx,
           CASE WHEN nbr.t = v.prev THEN 1
                WHEN pe.s IS NOT NULL THEN 2
                ELSE 1 END AS w
    FROM v{t} v
    JOIN nbr ON nbr.s = v.node
    LEFT JOIN we pe ON pe.s = v.prev AND pe.t = nbr.t)),
v{t + 1} AS MATERIALIZED (
  SELECT start, walk_no, node AS prev, cx AS node FROM c{t}
  WHERE CAST(('0x' || substr(md5('7' || '|' || start || '|' || walk_no
                                 || '|' || '{t}' || '|' || prev
                                 || '|' || node), 1, 8)) AS BIGINT)
        % tot < cum
    AND CAST(('0x' || substr(md5('7' || '|' || start || '|' || walk_no
                                 || '|' || '{t}' || '|' || prev
                                 || '|' || node), 1, 8)) AS BIGINT)
        % tot >= cum - w)"""
    sql["web_node2vec_walks"] = _n2v + """
SELECT start, walk_no, 0 AS step, node FROM v0
UNION ALL SELECT start, walk_no, 1, node FROM v1
UNION ALL SELECT start, walk_no, 2, node FROM v2
UNION ALL SELECT start, walk_no, 3, node FROM v3
"""

    # skip-gram pairs + deterministic negatives over the same walk corpus
    _wk = _walks + """,
wk AS MATERIALIZED (
  SELECT start, walk_no, step, node FROM w0
  UNION ALL SELECT start, walk_no, step, node FROM w1
  UNION ALL SELECT start, walk_no, step, node FROM w2
  UNION ALL SELECT start, walk_no, step, node FROM w3),
sg AS MATERIALIZED (
  SELECT a.node AS center, b.node AS context, COUNT(*)::BIGINT AS n
  FROM wk a JOIN wk b
    ON a.start = b.start AND a.walk_no = b.walk_no
   AND abs(a.step - b.step) BETWEEN 1 AND 2
  GROUP BY a.node, b.node)"""
    sql["web_walk_skipgrams"] = _wk + "\nSELECT center, context, n FROM sg"

    sql["web_walk_negatives"] = _wk + """,
vocab AS MATERIALIZED (SELECT DISTINCT n FROM (
  SELECT s AS n FROM we UNION ALL SELECT t AS n FROM we)),
iv AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY n) - 1 AS _idx, n AS negative FROM vocab),
nv AS MATERIALIZED (SELECT COUNT(*) AS c FROM vocab),
smp AS (SELECT center, context, j
        FROM sg, (SELECT unnest(range(2))::INT AS j))
SELECT smp.center, smp.context, smp.j, iv.negative
FROM smp JOIN iv ON iv._idx =
  CAST(('0x' || substr(md5('7' || '|' || smp.center || '|' || smp.context
                           || '|' || smp.j), 1, 8)) AS BIGINT)
  % (SELECT c FROM nv)
"""

    # NPMI co-mention edges: exact integer marginals, one ln() expression
    # per edge — identical arithmetic order to graphops.npmi_edges
    sql["graph_npmi_edges"] = graph_edges_cte.replace("edges AS", "_unused AS") + f""",
tot AS (SELECT COUNT(DISTINCT d) AS nd FROM m),
ed AS (SELECT e, COUNT(*) AS n_e FROM m GROUP BY e),
pc AS (SELECT a.e AS u, b.e AS v, COUNT(*) AS n_uv
       FROM m a JOIN m b ON a.d = b.d AND a.e < b.e GROUP BY u, v)
SELECT pc.u, pc.v, pc.n_uv::BIGINT AS n_uv,
  ROUND(CASE WHEN pc.n_uv = tot.nd THEN 1.0 ELSE
    ln((pc.n_uv::DOUBLE * tot.nd) / (eu.n_e::DOUBLE * ev.n_e))
    / ln(tot.nd::DOUBLE / pc.n_uv) END, 6) AS npmi
FROM pc JOIN ed eu ON pc.u = eu.e JOIN ed ev ON pc.v = ev.e, tot
"""

    # bipartite doc↔entity k-core (k=5): the identical 8 fixed peeling
    # rounds graphops.kcore runs, one (degree, keep, filter) CTE triple per
    # round — peeling is idempotent after convergence so the fixed unroll
    # and the loop agree by construction
    _KCORE_K = 5
    kcore_cte = f"""
WITH m AS (
  SELECT DISTINCT 'doc:' || doc_id::VARCHAR AS u, e AS v FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS e
    FROM documents)),
e0 AS MATERIALIZED (SELECT u, v FROM m)"""
    cur = "e0"
    # AS MATERIALIZED on every round: DuckDB inlines plain CTEs, and each
    # round references the previous one ~5x — an 8-round unroll would
    # otherwise expand to 5^8 scans of the base table
    for i in range(8):
        kcore_cte += f""",
deg{i} AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM (
  SELECT u AS n FROM {cur} UNION ALL SELECT v AS n FROM {cur}) GROUP BY n),
keep{i} AS MATERIALIZED (SELECT n FROM deg{i} WHERE dg >= {_KCORE_K}),
e{i + 1} AS MATERIALIZED (SELECT u, v FROM {cur}
  WHERE u IN (SELECT n FROM keep{i}) AND v IN (SELECT n FROM keep{i}))"""
        cur = f"e{i + 1}"
    sql["graph_kcore"] = kcore_cte + f"""
SELECT n, COUNT(*)::BIGINT AS deg FROM (
  SELECT u AS n FROM {cur} UNION ALL SELECT v AS n FROM {cur})
GROUP BY n HAVING COUNT(*) >= {_KCORE_K}
"""

    # knowledge fusion: the same per-document assertion set (mention-type +
    # within-doc relatedTo), two aggregates and one join — fuse.triple_support
    sql["kg_triple_support"] = f"""
WITH m AS (
  SELECT DISTINCT doc_id AS d, e FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS e
    FROM documents)),
a AS (
  SELECT d AS prov, '{dockg.KG}entity/' || e AS s,
         '{_RDF_TYPE}' AS p, '{dockg.KG}class/Mention' AS o FROM m
  UNION
  SELECT a.d, '{dockg.KG}entity/' || a.e, '{dockg.KG}prop/relatedTo',
         '{dockg.KG}entity/' || b.e
  FROM m a JOIN m b ON a.d = b.d AND a.e < b.e),
t AS (SELECT s, p, o, COUNT(*)::BIGINT AS n_prov FROM a GROUP BY s, p, o),
sp AS (SELECT s, COUNT(DISTINCT prov)::BIGINT AS subj_prov FROM a GROUP BY s)
SELECT t.s, t.p, t.o, t.n_prov, sp.subj_prov,
       ROUND(t.n_prov::DOUBLE / sp.subj_prov, 9) AS conf
FROM t JOIN sp USING (s)
"""

    # entity canonicalization: suffix-coreference sameAs pairs → recursive
    # transitive closure → MIN-IRI canonical map → coalesce-rewrite of the
    # co-mention triple table + DISTINCT (fuse.canonicalize_triples)
    sql["kg_canonical_triples"] = f"""
WITH RECURSIVE m AS (
  SELECT DISTINCT doc_id,
         trim(regexp_replace(lower(surface), '\\s+', ' ', 'g')) AS form
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS surface
        FROM documents)),
multis AS (
  SELECT DISTINCT doc_id, form AS long_form,
         regexp_extract(form, '(\\S+)$', 1) AS last_tok
  FROM m WHERE contains(form, ' ')),
resolved AS (
  SELECT m.doc_id, m.form, coalesce(MIN(mu.long_form), m.form) AS entity_key
  FROM m LEFT JOIN multis mu
    ON m.doc_id = mu.doc_id AND m.form = mu.last_tok
  GROUP BY m.doc_id, m.form),
pairs AS (
  SELECT DISTINCT '{dockg.KG}entity/' || form AS u,
                  '{dockg.KG}entity/' || entity_key AS v
  FROM resolved WHERE form <> entity_key),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
walk(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.node),
comp AS (SELECT node, MIN(lbl) AS canon FROM walk GROUP BY node),
triples AS (
  SELECT DISTINCT '{dockg.KG}entity/' || a.form AS s,
         '{dockg.KG}prop/relatedTo' AS p,
         '{dockg.KG}entity/' || b.form AS o
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.form < b.form)
SELECT DISTINCT coalesce(ca.canon, t.s) AS s, t.p,
       coalesce(co.canon, t.o) AS o
FROM triples t
LEFT JOIN comp ca ON ca.node = t.s
LEFT JOIN comp co ON co.node = t.o
"""

    # truth discovery: the AverageLog iteration (rounds=2 + final pass)
    # unrolled with the engine's exact integer-scaled score discipline —
    # every 9-d.p. score rides as ROUND(x*1e9)::BIGINT, each average is
    # SUM(int)/(COUNT*1e9) (exact sum, one deterministic division), only
    # ln touches transcendental floats (fuse.source_trust)
    sql["kg_source_trust"] = f"""
WITH m AS (
  SELECT DISTINCT doc_id, e FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS e
    FROM documents)),
a AS (
  SELECT DISTINCT d.source AS src,
         '{dockg.KG}entity/' || x.e AS s,
         '{dockg.KG}prop/relatedTo' AS p,
         '{dockg.KG}entity/' || y.e AS o
  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.e < y.e
  JOIN documents d ON d.doc_id = x.doc_id),
srcn AS (SELECT src, COUNT(*)::BIGINT AS n FROM a GROUP BY src),
c1 AS (SELECT s, p, o,
         ROUND(ROUND(SUM(1000000000::BIGINT) / (COUNT(*) * 1e9), 9) * 1e9, 0)::BIGINT AS conf_i
       FROM a GROUP BY s, p, o),
t1 AS (SELECT a.src,
         ROUND(ROUND((SUM(c1.conf_i) / (COUNT(*) * 1e9)) * ln(1 + srcn.n), 9) * 1e9, 0)::BIGINT AS trust_i
       FROM a JOIN c1 USING (s, p, o) JOIN srcn ON srcn.src = a.src
       GROUP BY a.src, srcn.n),
c2 AS (SELECT s, p, o,
         ROUND(ROUND(SUM(t1.trust_i) / (COUNT(*) * 1e9), 9) * 1e9, 0)::BIGINT AS conf_i
       FROM a JOIN t1 ON t1.src = a.src GROUP BY s, p, o),
t2 AS (SELECT a.src,
         ROUND(ROUND((SUM(c2.conf_i) / (COUNT(*) * 1e9)) * ln(1 + srcn.n), 9) * 1e9, 0)::BIGINT AS trust_i
       FROM a JOIN c2 USING (s, p, o) JOIN srcn ON srcn.src = a.src
       GROUP BY a.src, srcn.n)
SELECT a.s, a.p, a.o, COUNT(DISTINCT a.src)::BIGINT AS n_src,
       ROUND(SUM(t2.trust_i) / (COUNT(*) * 1e9), 9) AS conf
FROM a JOIN t2 ON t2.src = a.src
GROUP BY a.s, a.p, a.o
"""

    # KG-embedding negatives: name-sorted entity index, md5-uniform draw,
    # even-j subject / odd-j object corruption, filtered anti-exists
    # (graphops.corrupt_triples)
    sql["kg_triple_negatives"] = f"""
WITH m AS (
  SELECT DISTINCT doc_id, e FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS e
    FROM documents)),
t AS (
  SELECT DISTINCT '{dockg.KG}entity/' || x.e AS s,
         '{dockg.KG}prop/relatedTo' AS p,
         '{dockg.KG}entity/' || y.e AS o
  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.e < y.e),
vocab AS MATERIALIZED (SELECT DISTINCT n FROM (
  SELECT s AS n FROM t UNION ALL SELECT o AS n FROM t)),
iv AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY n) - 1 AS _idx, n AS draw FROM vocab),
nv AS MATERIALIZED (SELECT COUNT(*) AS c FROM vocab),
smp AS (SELECT s, p, o, j FROM t, (SELECT unnest(range(2))::INT AS j)),
cand AS (
  SELECT smp.s, smp.p, smp.o, smp.j,
    CASE WHEN smp.j % 2 = 0 THEN iv.draw ELSE smp.s END AS cs,
    CASE WHEN smp.j % 2 = 1 THEN iv.draw ELSE smp.o END AS co
  FROM smp JOIN iv ON iv._idx =
    CAST(('0x' || substr(md5('11' || '|' || smp.s || '|' || smp.p || '|'
                             || smp.o || '|' || smp.j), 1, 8)) AS BIGINT)
    % (SELECT c FROM nv))
SELECT s, p, o, j, cs, co FROM cand
WHERE NOT EXISTS (
  SELECT 1 FROM t WHERE t.s = cand.cs AND t.p = cand.p AND t.o = cand.co)
"""

    # link-prediction ranking eval: the negatives algebra (k=4) + degree
    # popularity scoring + the (score DESC, head, tail) rank aggregation
    # (graphops.lp_rank_eval)
    sql["kg_lp_ranks"] = f"""
WITH m AS (
  SELECT DISTINCT doc_id, e FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{ner_pat}', 1)) AS e
    FROM documents)),
t AS (
  SELECT DISTINCT '{dockg.KG}entity/' || x.e AS s,
         '{dockg.KG}prop/relatedTo' AS p,
         '{dockg.KG}entity/' || y.e AS o
  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.e < y.e),
vocab AS MATERIALIZED (SELECT DISTINCT n FROM (
  SELECT s AS n FROM t UNION ALL SELECT o AS n FROM t)),
iv AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY n) - 1 AS _idx, n AS draw FROM vocab),
nv AS MATERIALIZED (SELECT COUNT(*) AS c FROM vocab),
smp AS (SELECT s, p, o, j FROM t, (SELECT unnest(range(4))::INT AS j)),
cand AS (
  SELECT smp.s, smp.p, smp.o, smp.j,
    CASE WHEN smp.j % 2 = 0 THEN iv.draw ELSE smp.s END AS cs,
    CASE WHEN smp.j % 2 = 1 THEN iv.draw ELSE smp.o END AS co
  FROM smp JOIN iv ON iv._idx =
    CAST(('0x' || substr(md5('11' || '|' || smp.s || '|' || smp.p || '|'
                             || smp.o || '|' || smp.j), 1, 8)) AS BIGINT)
    % (SELECT c FROM nv)),
neg AS (SELECT s, p, o, cs, co FROM cand WHERE NOT EXISTS (
  SELECT 1 FROM t WHERE t.s = cand.cs AND t.p = cand.p AND t.o = cand.co)),
sdeg AS (SELECT s AS e, COUNT(*)::BIGINT AS d FROM t GROUP BY s),
odeg AS (SELECT o AS e, COUNT(*)::BIGINT AS d FROM t GROUP BY o),
ps AS (SELECT t.s, t.p, t.o,
       (COALESCE(sd.d, 0) + COALESCE(od.d, 0))::BIGINT AS score
       FROM t LEFT JOIN sdeg sd ON sd.e = t.s LEFT JOIN odeg od ON od.e = t.o),
cnd AS (SELECT n.s, n.p, n.o, n.cs, n.co,
        (COALESCE(sd.d, 0) + COALESCE(od.d, 0))::BIGINT AS cscore
        FROM neg n LEFT JOIN sdeg sd ON sd.e = n.cs
        LEFT JOIN odeg od ON od.e = n.co)
SELECT ps.s, ps.p, ps.o, ps.score,
  (1 + COALESCE(SUM(CASE WHEN cnd.cscore > ps.score
        OR (cnd.cscore = ps.score AND (cnd.cs < ps.s
            OR (cnd.cs = ps.s AND cnd.co < ps.o))) THEN 1 ELSE 0 END), 0)
  )::BIGINT AS "rank",
  (1 + COUNT(cnd.cs))::BIGINT AS n_cand
FROM ps LEFT JOIN cnd ON cnd.s = ps.s AND cnd.p = ps.p AND cnd.o = ps.o
GROUP BY ps.s, ps.p, ps.o, ps.score
"""

    # sorted-neighborhood blocking: global rank by (prefix, id), pairs
    # within 3 rank positions (er.sorted_neighborhood)
    sql["er_sorted_neighborhood"] = """
WITH r AS (SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY substr(lower(text), 1, 32), doc_id) - 1
         AS rk
     FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, (b.rk - a.rk)::BIGINT AS rank_gap
FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 3
"""

    # entity matching: rarest-token blocking (ROW_NUMBER over (freq, token)
    # = er.fuzzy_pairs' min-struct) + distinct-char-bigram Jaccard
    sql["er_fuzzy_pairs"] = """
WITH recs AS (
  SELECT MIN(p_partkey) AS id, p_name AS name FROM part GROUP BY p_name),
r AS (
  SELECT id, nm FROM (
    SELECT id, trim(regexp_replace(lower(name), '\\s+', ' ', 'g')) AS nm
    FROM recs) WHERE length(nm) > 0),
toks AS (SELECT DISTINCT id, unnest(string_split(nm, ' ')) AS tok FROM r),
tf AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
blk AS (
  SELECT id, tok AS bk FROM (
    SELECT t.id, t.tok,
           ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY tf.tf ASC, t.tok ASC) AS rn
    FROM toks t JOIN tf ON t.tok = tf.tok) WHERE rn = 1),
g AS (
  SELECT r.id, blk.bk,
         list_distinct(list_transform(
           range(1, greatest(length(r.nm) - 1, 1) + 1),
           i -> substr(r.nm, i, 2))) AS grams
  FROM r JOIN blk ON r.id = blk.id)
SELECT * FROM (
  SELECT a.id AS id_a, b.id AS id_b,
         ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
               / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS sim
  FROM g a JOIN g b ON a.bk = b.bk AND a.id < b.id)
WHERE sim >= 0.5
"""

    # k-means (2 assignment steps, 1 centroid update, init = per-label
    # means): the identical unrolled Lloyd iteration — centroids ROUND(.,9)
    # per update, distances ROUND(.,9) before the (dist, cluster) argmin
    _km_dist = (
        "ROUND(list_sum(list_transform(range(1, len(e.v) + 1), "
        "i -> (e.v[i] - {c}.c[i]) * (e.v[i] - {c}.c[i]))), 9)"
    )
    sql["corpus_kmeans"] = f"""
WITH e AS (SELECT vec_id, label,
           list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
ex0 AS (SELECT label AS cluster, generate_subscripts(v, 1) AS pos,
               unnest(v) AS val FROM e),
c0 AS (SELECT cluster, list(cv ORDER BY pos) AS c FROM (
         SELECT cluster, pos, ROUND(AVG(val), 9) AS cv
         FROM ex0 GROUP BY cluster, pos) GROUP BY cluster),
d1 AS (SELECT e.vec_id, c0.cluster, {_km_dist.format(c="c0")} AS dist
       FROM e, c0),
a1 AS (SELECT vec_id, cluster FROM (
         SELECT vec_id, cluster,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist ASC, cluster ASC) AS rn
         FROM d1) WHERE rn = 1),
ex1 AS (SELECT a1.cluster, generate_subscripts(e.v, 1) AS pos,
               unnest(e.v) AS val FROM e JOIN a1 USING (vec_id)),
c1 AS (SELECT cluster, list(cv ORDER BY pos) AS c FROM (
         SELECT cluster, pos, ROUND(AVG(val), 9) AS cv
         FROM ex1 GROUP BY cluster, pos) GROUP BY cluster),
d2 AS (SELECT e.vec_id, c1.cluster, {_km_dist.format(c="c1")} AS dist
       FROM e, c1)
SELECT vec_id, cluster, ROUND(dist, 6) AS dist FROM (
  SELECT vec_id, cluster, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, cluster ASC) AS rn
  FROM d2) WHERE rn = 1
"""

    # BGP: ?d a Document . ?d mentions ?e . ?e a Operator — pattern 1
    # matches exactly the docs rows, pattern 2 the mentions rows, pattern 3
    # the distinct ent-type rows with the Operator class.
    sql["kg_bgp_match"] = f"""
WITH {_DOC_CTES}
SELECT t2.s AS d, t2.ent AS e
FROM docs t1
JOIN mentions t2 ON t2.s = t1.s
JOIN (SELECT DISTINCT ent FROM mentions
      WHERE cls = '{dockg.class_iri("Operator")}') t3 ON t3.ent = t2.ent
"""

    # WARC split inverts the deterministic render: the records are exactly
    # the customer rows
    sql["kg_warc_records"] = """
SELECT 'https://data.example.org/customer/' || CAST(c_custkey AS VARCHAR) AS url,
       '2025-01-01T00:00:00Z' AS warc_ts,
       c_name || ',' || c_mktsegment AS body
FROM customer
"""

    # gzipped WARC split: same inverse as the plain container (the gzip
    # wrapper is transparent to the record content)
    sql["kg_warc_gz"] = sql["kg_warc_records"]

    # FILTER value expression restated directly over the docs CTE
    sql["kg_bgp_filter"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, d.ntok AS n, d.lang AS l
FROM docs d
WHERE TRY_CAST(d.ntok AS DOUBLE) > 40
  AND (regexp_matches(d.lang, '^e') OR d.lang = 'de')
"""

    # ORDER BY DESC(?n) ?d LIMIT 25 with the same deterministic tie-break
    sql["kg_bgp_order"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, d.ntok AS n
FROM docs d
ORDER BY TRY_CAST(d.ntok AS DOUBLE) DESC NULLS LAST, d.s
LIMIT 25
"""

    # the SPARQL string front end compiles to the same algebra the two
    # queries above exercise programmatically: filter + order combined
    sql["kg_sparql_select"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, d.ntok AS n, d.lang AS l
FROM docs d
WHERE TRY_CAST(d.ntok AS DOUBLE) > 40
  AND (regexp_matches(d.lang, '^e') OR d.lang = 'de')
ORDER BY TRY_CAST(d.ntok AS DOUBLE) DESC NULLS LAST, d.s
LIMIT 25
"""

    # string-front-end GROUP BY/HAVING — identical shape to kg_bgp_agg
    sql["kg_sparql_agg"] = f"""
WITH {_DOC_CTES}
SELECT s AS d, COUNT(*)::BIGINT AS n_ment, MIN(ent) AS first_ent
FROM mentions GROUP BY s HAVING COUNT(*) >= 2
"""

    # string-front-end BIND + IN: the two Extend expressions and the
    # filter restated directly over the docs CTE
    sql["kg_sparql_bind"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, d.ntok AS n,
       upper(d.lang) || ':' || d.s AS tag,
       TRY_CAST(d.ntok AS DOUBLE) * 2 + 1 AS score
FROM docs d
WHERE d.lang IN ('en', 'de')
  AND TRY_CAST(d.ntok AS DOUBLE) * 2 + 1 > 21
"""

    # string-front-end subquery: the inner aggregate joined to the outer
    # lang binding, filtered on the count
    # term functions: every mention row passes the kind tests (hasMention
    # objects ARE bnodes, subjects ARE IRIs, tokenCount IS numeric, lang
    # IS a plain literal with empty lang tag) — the constants invert the
    # datatype()/lang() accessors exactly
    sql["kg_sparql_term_fns"] = f"""
WITH {_DOC_CTES}
SELECT m.s AS d, 'm:' || m.s || '|' || m.ent AS m,
       'http://www.w3.org/2001/XMLSchema#integer' AS dt, '' AS lv
FROM mentions m
"""

    # skolemization: the n-ary mention rows with every bnode label
    # prefixed into the /.well-known/genid/ namespace, kinds flipped
    sql["kg_skolemized"] = f"""
WITH {_DOC_CTES},
gen AS (SELECT 'https://sparkrdf.example.org/.well-known/genid/m:'
          || s || '|' || ent AS bn, s, ent FROM mentions)
SELECT s_kind, s, p, o_kind, o FROM (
  SELECT 'URIRef' AS s_kind, s, '{dockg.P_HAS_MENTION}' AS p,
         'URIRef' AS o_kind, bn AS o FROM gen
  UNION ALL SELECT 'URIRef', bn, '{dockg.P_ENT}', 'URIRef', ent FROM gen
  UNION ALL SELECT 'URIRef', bn, '{dockg.P_SURFACE}', 'Literal',
    regexp_extract(ent, 'entity/(.*)$', 1) FROM gen)
"""

    # hash functions: DuckDB's own md5()/sha256() over the same lexicals
    sql["kg_sparql_hash_fns"] = f"""
WITH {_DOC_CTES}
SELECT s AS d, md5(s) AS h, sha256(s || '|' || lang) AS h2 FROM docs
"""

    sql["kg_sparql_subquery"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, d.lang AS l, mm.m AS m
FROM docs d
JOIN (SELECT s, COUNT(*)::BIGINT AS m FROM mentions GROUP BY s) mm
  ON mm.s = d.s
WHERE mm.m >= 2
"""

    # GROUP_CONCAT sorts its members (our deterministic choice) — ORDER BY
    # inside string_agg mirrors it; SAMPLE picks MIN
    sql["kg_sparql_group_concat"] = f"""
WITH {_DOC_CTES}
SELECT s AS d, string_agg(ent, '|' ORDER BY ent) AS ents,
       MIN(ent) AS one, COUNT(ent)::BIGINT AS n_ment
FROM mentions GROUP BY s
"""

    # SELECT expressions restated as projections
    sql["kg_sparql_expr_select"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, LENGTH(d.lang) AS langlen, substr(d.s, 7) AS key,
       CASE WHEN TRY_CAST(d.ntok AS DOUBLE) > 30
            THEN 'long' ELSE 'short' END AS bucket
FROM docs d
"""

    # programmatic Extend: density + label expressions, NOT IN filter
    sql["kg_bgp_extend"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, d.ntok AS n, d.lang AS l,
       TRY_CAST(d.ntok AS DOUBLE) / LENGTH(d.s) AS density,
       d.lang || '/' || d.ntok AS label
FROM docs d
WHERE d.lang NOT IN ('zz')
  AND TRY_CAST(d.ntok AS DOUBLE) / LENGTH(d.s) >= 0
"""

    # SPARQL Update: the tokenCount rows split on the migration predicate,
    # everything else unchanged, plus the one inserted ground triple
    sql["kg_sparql_update"] = f"""
WITH {_DOC_CTES}
SELECT s, p, o FROM (
  SELECT s, '{dockg.P_MENTIONS}' AS p, ent AS o FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT s, '{dockg.P_LANG}', lang FROM docs
  UNION ALL SELECT s, '{dockg.P_TOKENS}', ntok FROM docs
    WHERE NOT TRY_CAST(ntok AS DOUBLE) > 40
  UNION ALL SELECT s, '{dockg.KG}prop/sizeTokens', ntok FROM docs
    WHERE TRY_CAST(ntok AS DOUBLE) > 40
  UNION ALL SELECT DISTINCT ent, '{_RDF_TYPE}', cls FROM mentions
  UNION ALL SELECT '{dockg.KG}meta', '{dockg.KG}prop/version', '2')
"""

    # string-front-end FILTER EXISTS — the positive semi-join twin
    sql["kg_sparql_exists"] = f"""
WITH {_DOC_CTES}
SELECT d.s AS d, d.lang AS l FROM docs d
WHERE EXISTS (SELECT 1 FROM mentions m
              WHERE m.s = d.s AND m.cls = '{dockg.class_iri("Operator")}')
"""

    # string-front-end UNION joined with the mention pattern — the branch
    # union restated as a class IN-list over the mentions CTE
    sql["kg_sparql_union"] = f"""
WITH {_DOC_CTES}
SELECT DISTINCT m.s AS d, m.ent AS e FROM mentions m
WHERE m.cls IN ('{dockg.class_iri("Operator")}',
                '{dockg.class_iri("Structure")}')
"""

    # string-front-end ASK — restated as EXISTS over the mentions CTE
    sql["kg_sparql_ask"] = f"""
WITH {_DOC_CTES}
SELECT EXISTS(SELECT 1 FROM mentions
              WHERE cls = '{dockg.class_iri("Operator")}') AS ask
"""

    # string-front-end CONSTRUCT — the two template projections unioned
    # (UNION is distinct: CONSTRUCT's §16.2 graph dedup)
    sql["kg_sparql_construct"] = f"""
WITH {_DOC_CTES}
SELECT ent AS s, '{dockg.P_MENTIONED_IN}' AS p, m.s AS o FROM mentions m
UNION
SELECT DISTINCT ent, '{_RDF_TYPE}', cls FROM mentions
"""

    # string-front-end GRAPH quads — identical join to kg_bgp_graph
    sql["kg_sparql_graph"] = f"""
WITH {_DOC_CTES},
et AS (SELECT DISTINCT ent, cls FROM mentions)
SELECT m.s AS d, m.ent AS e, 'graph://' || dd.lang AS g, et.cls AS c
FROM mentions m
JOIN docs dd ON dd.s = m.s
JOIN et ON et.ent = m.ent
"""

    # WARC+HTTP double split inverts the deterministic render
    sql["kg_http_responses"] = """
SELECT 'https://data.example.org/customer/' || CAST(c_custkey AS VARCHAR) AS url,
       200 AS status, 'text/plain' AS content_type,
       c_name || ',' || c_mktsegment AS doc
FROM customer
"""

    # FILTER NOT EXISTS: documents with no Operator-class mention
    sql["kg_bgp_not_exists"] = f"""
WITH {_DOC_CTES}
SELECT t1.s AS d FROM docs t1
WHERE NOT EXISTS (
  SELECT 1 FROM mentions m
  WHERE m.s = t1.s AND m.cls = '{dockg.class_iri("Operator")}')
"""

    # aggregation over BGP solutions: per-doc mention count + min entity,
    # HAVING >= 2
    sql["kg_bgp_agg"] = f"""
WITH {_DOC_CTES}
SELECT s AS d, COUNT(*)::BIGINT AS n_ment, MIN(ent) AS first_ent
FROM mentions GROUP BY s HAVING COUNT(*) >= 2
"""

    # named-graph quad patterns: mention rows live in the doc's per-lang
    # graph (bound by ?g), entity-class rows in graph://meta — the quad
    # join spelled directly over the graph-tagged CTEs
    sql["kg_bgp_graph"] = f"""
WITH {_DOC_CTES},
et AS (SELECT DISTINCT ent, cls FROM mentions)
SELECT m.s AS d, m.ent AS e, 'graph://' || dd.lang AS g, et.cls AS c
FROM mentions m
JOIN docs dd ON dd.s = m.s
JOIN et ON et.ent = m.ent
"""

    # RDF/XML ingestion inverts the deterministic render: four asserted
    # statements per part plus the parseType="Resource" bnode pair; the
    # per-document bnode prefix is a pure function of the url (rdfxml.py
    # rdfxml_statements), so even blank-node labels are SQL-reproducible
    sql["kg_rdfxml_triples"] = f"""
WITH b AS (
  SELECT 'https://data.example.org/part/' || CAST(p_partkey AS VARCHAR) AS url,
         'urn:part:' || CAST(p_partkey AS VARCHAR) AS s,
         'bhttps_data_example_org_part_' || CAST(p_partkey AS VARCHAR)
           || '_0' AS bn,
         p_name, p_brand, CAST(p_size AS VARCHAR) AS sz
  FROM part)
SELECT url, s_kind, s, p, o_kind, o, o_lang, o_datatype,
       CAST(NULL AS VARCHAR) AS sub_graph FROM (
  SELECT url, 'URIRef' AS s_kind, s, '{_RDF_TYPE}' AS p,
         'URIRef' AS o_kind, 'http://kg.example.org/class/Part' AS o,
         CAST(NULL AS VARCHAR) AS o_lang, CAST(NULL AS VARCHAR) AS o_datatype
  FROM b
  UNION ALL SELECT url, 'URIRef', s, 'http://kg.example.org/prop/name',
    'Literal', p_name, 'en', NULL FROM b
  UNION ALL SELECT url, 'URIRef', s, 'http://kg.example.org/prop/brand',
    'URIRef', 'urn:brand:' || p_brand, NULL, NULL FROM b
  UNION ALL SELECT url, 'BNode', bn, 'http://kg.example.org/prop/size',
    'Literal', sz, NULL, 'http://www.w3.org/2001/XMLSchema#integer' FROM b
  UNION ALL SELECT url, 'URIRef', s, 'http://kg.example.org/prop/dims',
    'BNode', bn, NULL, NULL FROM b)
"""

    # standalone JSON-LD ingestion inverts the deterministic render: six
    # statements per order — typed node, term literal, @type:"@id"-coerced
    # edge, nested @id node's integer property, and the anonymous nested
    # node whose bnode label is a pure function of the url
    sql["kg_jsonld_doc_triples"] = f"""
WITH b AS (
  SELECT 'https://data.example.org/order/' || CAST(o_orderkey AS VARCHAR) AS url,
         'urn:order:' || CAST(o_orderkey AS VARCHAR) AS s,
         'urn:cust:' || CAST(o_custkey AS VARCHAR) AS cust,
         'bhttps_data_example_org_order_' || CAST(o_orderkey AS VARCHAR)
           || '_0' AS bn,
         o_orderstatus, CAST(o_orderkey AS VARCHAR) AS prio, o_orderpriority
  FROM orders)
SELECT url, s_kind, s, p, o_kind, o, o_lang, o_datatype,
       CAST(NULL AS VARCHAR) AS sub_graph FROM (
  SELECT url, 'URIRef' AS s_kind, s, '{_RDF_TYPE}' AS p,
         'URIRef' AS o_kind, 'http://kg.example.org/class/Order' AS o,
         CAST(NULL AS VARCHAR) AS o_lang, CAST(NULL AS VARCHAR) AS o_datatype
  FROM b
  UNION ALL SELECT url, 'URIRef', s, 'http://kg.example.org/prop/status',
    'Literal', o_orderstatus, NULL, NULL FROM b
  UNION ALL SELECT url, 'URIRef', s, 'http://kg.example.org/prop/customer',
    'URIRef', cust, NULL, NULL FROM b
  UNION ALL SELECT url, 'URIRef', cust, 'http://kg.example.org/prop/prio',
    'Literal', prio, NULL, 'http://www.w3.org/2001/XMLSchema#integer' FROM b
  UNION ALL SELECT url, 'BNode', bn, 'http://kg.example.org/prop/priority',
    'Literal', o_orderpriority, NULL, NULL FROM b
  UNION ALL SELECT url, 'URIRef', s, 'http://kg.example.org/prop/meta',
    'BNode', bn, NULL, NULL FROM b)
"""

    # web-table extraction inverts the deterministic render: the recovered
    # triples are exactly the customer columns, written directly
    sql["kg_table_triples"] = """
WITH b AS (
  SELECT 'https://data.example.org/nation/' || CAST(c_nationkey AS VARCHAR) AS url,
         'https://data.example.org/nation/' || CAST(c_nationkey AS VARCHAR)
           || '#' || c_name AS s,
         c_mktsegment, CAST(c_acctbal AS VARCHAR) AS bal
  FROM customer)
SELECT url, s, 'http://kg.example.org/prop/segment' AS p, c_mktsegment AS o FROM b
UNION ALL
SELECT url, s, 'http://kg.example.org/prop/acctbal', bal FROM b
"""

    # JSON-LD extraction inverts the deterministic render: @type → rdf:type
    # against the schema.org context, numbers as their raw JSON text
    sql["kg_jsonld_triples"] = f"""
WITH b AS (
  SELECT 'https://data.example.org/supplier/' || CAST(s_suppkey AS VARCHAR) AS url,
         'urn:supplier:' || CAST(s_suppkey AS VARCHAR) AS s,
         s_name, CAST(s_nationkey AS VARCHAR) AS nat,
         CAST(s_acctbal AS VARCHAR) AS bal
  FROM supplier)
SELECT url, s, '{_RDF_TYPE}' AS p, 'https://schema.org/Organization' AS o FROM b
UNION ALL SELECT url, s, 'https://schema.org/name', s_name FROM b
UNION ALL SELECT url, s, 'https://schema.org/nation', nat FROM b
UNION ALL SELECT url, s, 'https://schema.org/balance', bal FROM b
"""

    # DESCRIBE (concise bounded description) of the German docs: their own
    # statement rows plus their mention-bnode rows; entity IRIs stop the
    # recursion, so entity-class rows never appear
    sql["kg_sparql_describe"] = sql["kg_describe"] = f"""
WITH {_DOC_CTES},
de AS (SELECT s, lang, ntok FROM docs WHERE lang = 'de'),
dm AS (SELECT m.s, m.ent FROM mentions m JOIN de ON de.s = m.s)
SELECT s, p, o_kind, o FROM (
  SELECT s, '{_RDF_TYPE}' AS p, 'URIRef' AS o_kind,
         '{dockg.CLS_DOCUMENT}' AS o FROM de
  UNION ALL SELECT s, '{dockg.P_LANG}', 'Literal', lang FROM de
  UNION ALL SELECT s, '{dockg.P_TOKENS}', 'Literal', ntok FROM de
  UNION ALL SELECT s, '{dockg.P_HAS_MENTION}', 'BNode',
    'm:' || s || '|' || ent FROM dm
  UNION ALL SELECT 'm:' || s || '|' || ent, '{dockg.P_ENT}', 'URIRef', ent
    FROM dm
  UNION ALL SELECT 'm:' || s || '|' || ent, '{dockg.P_SURFACE}', 'Literal',
    regexp_extract(ent, 'entity/(.*)$', 1) FROM dm)
"""

    # k-hop BFS over the IRI-object triple pairs, levels unrolled; the
    # visited set at each level is the union of all previous levels.
    # transitive closure over the same IRI-edge set: the recursive CTE is
    # the independent one-edge-at-a-time formulation of what path_closure
    # computes by doubling
    sql["kg_path_closure"] = f"""
WITH RECURSIVE {_DOC_CTES},
eg AS (
  SELECT DISTINCT a, b FROM (
    SELECT s AS a, ent AS b FROM mentions
    UNION ALL SELECT s, '{dockg.CLS_DOCUMENT}' FROM docs
    UNION ALL SELECT ent, cls FROM mentions)),
closure(s, o) AS (
  SELECT a, b FROM eg
  UNION
  SELECT c.s, eg.b FROM closure c JOIN eg ON eg.a = c.o)
SELECT s, o FROM closure
"""

    # property-path expression ^mentions/mentions/(type|lang)? — the
    # sequence hops are bag-semantics joins (multiplicity = shared docs),
    # the trailing `?` is a SET (distinct union with the all-nodes identity
    # relation), exactly path_expr's evaluation
    sql["kg_path_expr"] = f"""
WITH {_DOC_CTES},
trip(s, p, o) AS (
  SELECT s, '{dockg.P_MENTIONS}', ent FROM mentions
  UNION ALL SELECT s, '{_RDF_TYPE}', '{dockg.CLS_DOCUMENT}' FROM docs
  UNION ALL SELECT s, '{dockg.P_LANG}', lang FROM docs
  UNION ALL SELECT s, '{dockg.P_TOKENS}', ntok FROM docs
  UNION ALL SELECT DISTINCT ent, '{_RDF_TYPE}', cls FROM mentions),
nodes AS (SELECT s AS n FROM trip UNION SELECT o FROM trip),
co AS (
  SELECT m1.ent AS a, m2.ent AS b
  FROM mentions m1 JOIN mentions m2 ON m1.s = m2.s),
optn AS (
  SELECT s, o FROM trip WHERE p IN ('{_RDF_TYPE}', '{dockg.P_LANG}')
  UNION
  SELECT n, n FROM nodes)
SELECT co.a AS src, q.o AS dst FROM co JOIN optn q ON q.s = co.b
"""

    # string-level property-path predicate — same algebra as kg_path_expr
    sql["kg_sparql_path"] = sql["kg_path_expr"]

    khop_src = dockg.class_iri("Operator")
    sql["graph_khop"] = f"""
WITH {_DOC_CTES},
eg AS (
  SELECT DISTINCT a, b FROM (
    SELECT s AS a, ent AS b FROM mentions
    UNION ALL SELECT s, '{dockg.CLS_DOCUMENT}' FROM docs
    UNION ALL SELECT ent, cls FROM mentions)),
de AS (SELECT a AS s, b AS t FROM eg UNION ALL SELECT b AS s, a AS t FROM eg),
l0 AS (SELECT '{khop_src}' AS n),
l1 AS (SELECT DISTINCT de.t AS n FROM de JOIN l0 ON de.s = l0.n
       WHERE de.t NOT IN (SELECT n FROM l0)),
l2 AS (SELECT DISTINCT de.t AS n FROM de JOIN l1 ON de.s = l1.n
       WHERE de.t NOT IN (SELECT n FROM l0 UNION SELECT n FROM l1)),
l3 AS (SELECT DISTINCT de.t AS n FROM de JOIN l2 ON de.s = l2.n
       WHERE de.t NOT IN (SELECT n FROM l0 UNION SELECT n FROM l1
                          UNION SELECT n FROM l2))
SELECT n, 0 AS dist FROM l0
UNION ALL SELECT n, 1 FROM l1
UNION ALL SELECT n, 2 FROM l2
UNION ALL SELECT n, 3 FROM l3
"""

    # as-of join, independent formulation: nested-loop LEFT JOIN over all
    # at-or-before clicks, keep the latest (ties: greatest click_id)
    sql["evt_error_attribution"] = """
SELECT e.user_id, epoch_us(e.ts) AS err_us, e.event_id AS err_id,
       c.event_id AS click_id, epoch_us(c.ts) AS click_us
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id AND c.ts <= e.ts
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY e.event_id ORDER BY c.ts DESC, c.event_id DESC) = 1
"""

    sql["evt_nearby_pairs"] = """
SELECT a.event_id AS a_id, b.event_id AS b_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.event_id < b.event_id AND a.user_id <> b.user_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
"""

    sql["text_tfidf_topk"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''),
tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
dfr AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*)::DOUBLE AS n FROM documents)
SELECT tf.doc_id, tf.term, tf.tf,
       ROUND(tf.tf * (LN(((SELECT n FROM nd) + 1) / (dfr.df + 1)) + 1), 6) AS score
FROM tf JOIN dfr USING (term)
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY tf.doc_id ORDER BY score DESC, tf.term ASC) <= 5
"""

    sql["text_cap_per_domain"] = """
SELECT doc_id, lang, source FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) <= 50
"""

    sql["text_boilerplate"] = """
WITH lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM documents),
norm AS (SELECT doc_id, pos, line, trim(lower(line)) AS nline FROM lines),
common AS (
  SELECT nline FROM norm WHERE nline <> ''
  GROUP BY nline HAVING COUNT(DISTINCT doc_id) >= 3),
kept AS (
  SELECT doc_id, pos, line FROM norm
  WHERE nline NOT IN (SELECT nline FROM common)),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t,
         COUNT(*)::BIGINT AS kept_n
  FROM kept GROUP BY doc_id),
base AS (
  SELECT doc_id, len(string_split(text, chr(10)))::BIGINT AS total_n
  FROM documents)
SELECT b.doc_id, COALESCE(r.t, '') AS text,
       (b.total_n - COALESCE(r.kept_n, 0))::BIGINT AS n_removed
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""

    sql["text_unigram_lp"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''),
freq AS (SELECT term, COUNT(*)::DOUBLE AS c FROM tok GROUP BY term),
tot AS (SELECT SUM(c) AS s FROM freq),
perdoc AS (
  SELECT tok.doc_id, COUNT(*)::BIGINT AS n, AVG(LN(freq.c / (SELECT s FROM tot))) AS alp
  FROM tok JOIN freq USING (term) GROUP BY tok.doc_id)
SELECT d.doc_id, COALESCE(p.n, 0)::BIGINT AS n_tokens,
       ROUND(COALESCE(p.alp, 0.0), 6) AS logprob
FROM documents d LEFT JOIN perdoc p USING (doc_id)
"""

    sql["text_dup_grams"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 5 + 2),
                i -> array_to_string(list_slice(w, i, i + 5 - 1), ' '))) AS g
  FROM toks WHERE len(w) >= 5),
tf AS (SELECT doc_id, g, COUNT(*)::BIGINT AS c FROM grams GROUP BY doc_id, g),
shared AS (SELECT g FROM tf GROUP BY g HAVING COUNT(*) >= 2),
per AS (
  SELECT tf.doc_id, SUM(tf.c)::BIGINT AS n_grams,
         ROUND(SUM(CASE WHEN s.g IS NOT NULL THEN tf.c ELSE 0 END)::DOUBLE
               / SUM(tf.c), 6) AS dup_frac
  FROM tf LEFT JOIN shared s USING (g) GROUP BY tf.doc_id)
SELECT d.doc_id, COALESCE(p.n_grams, 0)::BIGINT AS n_grams,
       COALESCE(p.dup_frac, 0.0) AS dup_frac
FROM documents d LEFT JOIN per p USING (doc_id)
"""

    sql["corpus_rollup"] = """
SELECT lang, source, COUNT(*)::BIGINT AS n_docs,
  SUM(CASE WHEN trim(text) = '' THEN 0
      ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS total_tokens
FROM documents GROUP BY ROLLUP (lang, source)
"""

    return sql
