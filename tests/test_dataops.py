"""Training-data operators: dedup, similarity, text analysis.

The driver testdata has near-duplicates but no exact duplicates, so exact-dup
behavior is exercised by planting duplicates (union with a prefix of itself).
"""

import pytest
from pyspark.sql import functions as F

from sparkrdf.dedupe import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_groups,
)
from sparkrdf.similarity import blocked_near_dup, brute_force_topk, ivf_topk
from sparkrdf.textops import lang_id, quality_score, token_count

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Plant 5 exact duplicates with fresh doc_ids."""
    clones = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    return docs.unionByName(clones).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs, docs_with_dups):
    assert exact_dedup(docs).count() == 0  # no exact dups in the raw table
    groups = exact_dedup(docs_with_dups).collect()
    assert len(groups) == 5
    for g in groups:
        assert g["n_dups"] == 2 and g["keep_id"] < 1_000_000


def test_minhash_identical_docs_always_pair(spark, docs_with_dups):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs_with_dups).collect()}
    for i in range(5):
        orig = docs_with_dups.orderBy("doc_id").limit(5).collect()[i]["doc_id"]
    # every planted clone must pair with its original (identical signatures)
    originals = [r["doc_id"] for r in docs_with_dups.filter("doc_id < 1000000").orderBy("doc_id").limit(5).collect()]
    for o in originals:
        assert (o, o + 1_000_000) in pairs


def test_minhash_signature_shape(spark):
    df = spark.createDataFrame(
        [("a b c d e f",), ("a b c d e f",), ("completely different words here now",)],
        "text string",
    )
    sigs = df.select(minhash_signature(F.col("text")).alias("sig")).collect()
    assert sigs[0]["sig"] == sigs[1]["sig"]
    assert sigs[0]["sig"] != sigs[2]["sig"]
    assert len(sigs[0]["sig"]) == 12


def test_ngram_jaccard_thresholds(spark, docs_with_dups):
    pairs = ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    assert pairs
    for r in pairs:
        assert r["jaccard"] >= 0.5
    assert [r for r in pairs if r["jaccard"] == 1.0]  # the planted exact dups


def test_simhash_groups_contain_exact_dups(spark, docs_with_dups):
    groups = simhash_groups(docs_with_dups).collect()
    assert groups
    assert sum(g["n"] for g in groups) >= 10  # 5 planted pairs at minimum


def test_brute_force_topk(spark, emb):
    top = brute_force_topk(emb, query_id=0, k=10).collect()
    assert len(top) == 10
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)
    assert all(r["vec_id"] != 0 for r in top)


def test_ivf_recall_vs_brute_force(spark, emb):
    exact = [r["vec_id"] for r in brute_force_topk(emb, query_id=0, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, query_id=0, k=10, n_probe=3).collect()]
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 2


def test_blocked_near_dup_bounds(spark, emb):
    pairs = blocked_near_dup(emb, threshold=0.35).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"] and -1.0 <= r["score"] <= 1.0


def test_blocked_near_dup_salting_lossless(spark, emb):
    """Forcing every block to split into many salt cells (max_block_rows=7)
    must yield the exact same pair set as the unsalted join — the salting
    only redistributes work."""
    plain = {
        (r["id_a"], r["id_b"], r["score"])
        for r in blocked_near_dup(emb, threshold=0.35).collect()
    }
    salted = {
        (r["id_a"], r["id_b"], r["score"])
        for r in blocked_near_dup(emb, threshold=0.35, max_block_rows=7).collect()
    }
    assert plain == salted and len(plain) > 0


def test_textops(spark):
    df = spark.createDataFrame(
        [
            ("the quick fox and the dog of war to win with style", "en-ish"),
            ("der hund und die katze mit das auto", "de-ish"),
            ("", "empty"),
        ],
        "text string, tag string",
    )
    out = {
        r["tag"]: r
        for r in df.select(
            "tag",
            token_count(F.col("text")).alias("n"),
            lang_id(F.col("text")).alias("lang"),
            quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert out["en-ish"]["lang"] == "en"
    assert out["de-ish"]["lang"] == "de"
    assert out["empty"]["n"] == 0 and out["empty"]["lang"] == "und"
    assert 0 <= out["en-ish"]["q"] <= 100


def test_connected_components_shapes(spark):
    """Hash-to-min components: chain, triangle, isolated pair — component is
    the min reachable id; a 6-hop chain needs the doubling jumps (one round
    of neighbor-min alone would not converge)."""
    from sparkrdf.dedupe import connected_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # chain 1..7
            (10, 11), (11, 12), (10, 12),                     # triangle
            (20, 21),                                         # pair
        ],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert {k: v for k, v in got.items() if k <= 7} == {i: 1 for i in range(1, 8)}
    assert {k: v for k, v in got.items() if 10 <= k <= 12} == {10: 10, 11: 10, 12: 10}
    assert got[20] == 20 and got[21] == 20


def test_dedup_clusters_canonical(spark, docs_with_dups):
    """Exact duplicates land in one cluster with the min id canonical."""
    from sparkrdf.dedupe import dedup_clusters

    rows = dedup_clusters(docs_with_dups, threshold=0.9).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["canonical_id"] <= r["doc_id"]
        assert r["cluster_size"] >= 2


def test_hash_split_deterministic_and_partitioned(spark, docs):
    """Split is a pure function of doc_id (stable across runs/partitionings),
    covers every row exactly once, and roughly honors the fractions."""
    from sparkrdf.textops import hash_split

    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(17)).collect()
    }
    assert a == b and set(a.values()) <= {"train", "val", "test"}
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert train / n > 0.9  # 98% nominal, small-sample slack

    import pytest

    with pytest.raises(ValueError, match="sum to 1.0"):
        hash_split(docs, fractions={"a": 0.5, "b": 0.1}).collect()


def test_pack_documents_invariants(spark, docs):
    """Concat-then-chunk layout: offsets are within budget, the running sum
    reconstructs exactly, and bins only grow within a shard."""
    from sparkrdf.textops import pack_documents

    budget = 256
    rows = sorted(
        pack_documents(docs, budget_tokens=budget, n_shards=4).collect(),
        key=lambda r: (r["shard"], r["doc_id"]),
    )
    cum = {}
    for r in rows:
        assert 0 <= r["offset_in_bin"] < budget
        expect = cum.get(r["shard"], 0)
        assert r["bin_id"] == expect // budget
        assert r["offset_in_bin"] == expect % budget
        cum[r["shard"]] = expect + r["n_tokens"]


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    """Random-hyperplane LSH with hamming-3 probing recovers a meaningful
    share of the exact top-10; signatures are deterministic."""
    from sparkrdf.similarity import lsh_cosine_topk

    exact = [r["vec_id"] for r in brute_force_topk(emb, query_id=0, k=10).collect()]
    approx = lsh_cosine_topk(emb, query_id=0, k=10, max_hamming=3).collect()
    assert len(approx) == 10
    ids = [r["vec_id"] for r in approx]
    assert len(set(exact) & set(ids)) >= 2
    again = [r["vec_id"] for r in lsh_cosine_topk(emb, query_id=0, k=10, max_hamming=3).collect()]
    assert ids == again


def test_ngram_topk_and_token_histogram(spark):
    """Corpus bigram top-k (occurrence-level, deterministic tie-break) and
    power-of-two token histogram — edge cases: empty text, doc shorter than
    n, ties broken lexicographically."""
    from sparkrdf.textops import ngram_topk, token_histogram

    docs = spark.createDataFrame(
        [
            ("d1", "the cat sat on the cat"),
            ("d2", "the cat"),
            ("d3", "single"),
            ("d4", "   "),
            ("d5", ""),
        ],
        "doc_id string, text string",
    )
    top = [(r["ngram"], r["n"]) for r in ngram_topk(docs, n=2, k=3).collect()]
    # "the cat" appears 3x (twice in d1, once in d2); remaining bigrams of
    # d1 appear once each, tie broken by gram ascending
    assert top == [("the cat", 3), ("cat sat", 1), ("on the", 1)]

    hist = {r["bucket"]: (r["lo_tokens"], r["n_docs"]) for r in token_histogram(docs).collect()}
    # d4/d5: 0 tokens -> bucket 0 (lo 0); d3: 1 token -> bucket 1 (lo 1);
    # d2: 2 tokens -> bucket 1; d1: 6 tokens -> bucket 2 (lo 3)
    assert hist[0] == (0, 2)
    assert hist[1] == (1, 2)
    assert hist[2] == (3, 1)


def test_quality_filter_rules(spark):
    """Each Gopher-style rule fires on a constructed offender and the clean
    doc passes; reasons string lists failed rules in fixed order."""
    from sparkrdf.textops import quality_filter

    docs = spark.createDataFrame(
        [
            # clean: >=10 tokens, sane word lengths, stopwords, low punct
            (1, "the quick brown fox jumps over the lazy dog with style today"),
            # too few tokens (also no_stopwords-safe: contains 'the')
            (2, "the cat sat"),
            # mean word length too high + no stopwords
            (3, " ".join(["supercalifragilistic"] * 12)),
            # punctuation-heavy + no stopwords
            (4, "!!! ??? *** !!! ??? *** !!! ??? *** !!! ??? ***"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_filter(docs).collect()}
    assert rows[1]["keep"] and rows[1]["reasons"] == ""
    assert not rows[2]["keep"] and rows[2]["r_tokens"]
    assert rows[3]["r_word_len"] and rows[3]["r_stop"]
    assert rows[3]["reasons"] == "word_len,no_stopwords"
    assert rows[4]["r_punct"]


def test_repetition_stats(spark):
    """Hand-computed repetition fractions, incl. short-doc zero cases."""
    from sparkrdf.textops import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab,ba,ab,ba,ab -> top 3/5
            (2, "x y z w"),          # all bigrams unique -> top 1/3
            (3, "one"),              # no bigrams/trigrams -> 0.0
            (4, ""),                 # empty -> 0.0
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["top_bigram_frac"] == 0.6
    # trigrams of d1: aba,bab,aba,bab -> all duplicated -> 1.0
    assert rows[1]["dup_trigram_frac"] == 1.0
    assert rows[2]["top_bigram_frac"] == round(1 / 3, 6)
    assert rows[2]["dup_trigram_frac"] == 0.0
    assert rows[3]["top_bigram_frac"] == 0.0 and rows[3]["dup_trigram_frac"] == 0.0
    assert rows[4]["top_bigram_frac"] == 0.0


def test_pii_scrub(spark):
    """Email/IPv4/phone redaction with per-category counts; clean text is
    byte-identical pass-through."""
    from sparkrdf.textops import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org or x@y.io, host 192.168.0.1, call 555-0123"),
            (2, "nothing sensitive here at all"),
            (3, "ver 1.2 not-an-ip 1.2.3 almost 12-3456 no"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert rows[1]["scrubbed"] == "mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE>"
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) == (2, 1, 1)
    assert rows[2]["scrubbed"] == "nothing sensitive here at all"
    assert (rows[2]["n_email"], rows[2]["n_ipv4"], rows[2]["n_phone"]) == (0, 0, 0)
    # near-misses must not redact
    assert rows[3]["scrubbed"] == rows[3]["scrubbed"]
    assert (rows[3]["n_email"], rows[3]["n_ipv4"], rows[3]["n_phone"]) == (0, 0, 0)


def test_corpus_profile(spark):
    from sparkrdf.textops import corpus_profile

    docs = spark.createDataFrame(
        [
            (1, "the same text", "en", "s1"),
            (2, "the same text", "en", "s1"),
            (3, "other words entirely", "en", "s1"),
            (4, "hola", "es", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {(r["lang"], r["source"]): r for r in corpus_profile(docs).collect()}
    en = rows[("en", "s1")]
    assert en["n_docs"] == 3 and en["n_unique"] == 2 and en["total_tokens"] == 9
    assert en["avg_chars"] == round((13 + 13 + 20) / 3, 2)
    assert rows[("es", "s2")]["n_docs"] == 1


def test_url_canonicalization(spark):
    """Each normalization step: case, default port, www, fragment, trailing
    slash, utm strip, param sort — plus non-default port preserved."""
    from sparkrdf.weburl import canonicalize_url, url_dedup_groups

    cases = [
        (1, "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
            "https://example.com/a/b?a=1&b=2"),
        (2, "http://example.com:80", "http://example.com/"),
        (3, "http://example.com:8080/path", "http://example.com:8080/path"),
        (4, "https://example.com/a//", "https://example.com/a"),
        (5, "https://example.com/?utm_source=x&utm_medium=y", "https://example.com/"),
        (6, "https://sub.example.com/p?z=1&a=2", "https://sub.example.com/p?a=2&z=1"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "doc_id long, url string")
    got = {r["doc_id"]: r["canon"] for r in df.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canon")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)

    # dedup groups collapse distinct raw spellings of one canonical URL
    dupes = spark.createDataFrame(
        [(1, "https://example.com/x?b=2&a=1"),
         (2, "HTTPS://EXAMPLE.COM/x/?a=1&b=2#top"),
         (3, "https://example.com/other")],
        "doc_id long, url string",
    )
    groups = url_dedup_groups(dupes).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 1


def test_curate_corpus_pipeline(spark):
    """Composed curation: quality-fail dropped, PII scrubbed, exact dup
    collapsed to smallest id, split deterministic, passthrough preserved."""
    from sparkrdf.curate import curate_corpus

    good = "the quick brown fox jumps over the lazy dog with style today"
    docs = spark.createDataFrame(
        [
            (1, good, "en", "s1"),
            (2, "the cat sat", "en", "s1"),                    # quality-fail
            (3, good + " mail me a@b.io ok", "en", "s2"),      # PII
            (4, good, "en", "s1"),                             # dup of 1
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["doc_id"]: r for r in curate_corpus(docs).collect()}
    assert set(out) == {1, 3}                  # 2 filtered, 4 deduped into 1
    assert out[1]["text"] == good and out[1]["source"] == "s1"
    assert out[3]["text"] == good + " mail me <EMAIL> ok"
    assert out[1]["n_tokens"] == 12
    assert all(r["split"] in ("train", "val", "test") for r in out.values())
    # deterministic: same result on re-run
    again = {r["doc_id"]: r["split"] for r in curate_corpus(docs).collect()}
    assert again == {k: v["split"] for k, v in out.items()}


def test_decontaminate_overlap_counts(spark):
    """Contaminated docs are reported with exact distinct-gram overlap counts;
    clean docs are absent; gram totals count distinct grams."""
    from sparkrdf.textops import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")],  # grams: {a b g, b g d}
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # shares 'alpha beta gamma' (1 of its 3 distinct grams)
            (1, "alpha beta gamma zeta eta"),
            # shares both benchmark grams (2 of 2)
            (2, "alpha beta gamma delta"),
            # clean
            (3, "one two three four five"),
            # repeated text: grams are distinct-counted once
            (4, "alpha beta gamma alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(docs, bench, n=3).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1]["n_grams"] == 3 and rows[1]["n_overlap"] == 1
    assert rows[2]["n_grams"] == 2 and rows[2]["n_overlap"] == 2
    assert abs(rows[2]["overlap_frac"] - 1.0) < 1e-9
    # doc 4: 6 words -> 4 shingles, 3 distinct ('alpha beta gamma' repeats)
    assert rows[4]["n_grams"] == 3 and rows[4]["n_overlap"] == 1


def test_weighted_sample_deterministic_and_stratified(spark, docs):
    """Sampling is a pure function of (seed, id): stable across partitionings,
    rate-1 domains keep everything, rate-0 domains drop everything, and the
    kept set is independent of the hash_split assignment (different seeds)."""
    from sparkrdf.textops import weighted_sample

    d = docs.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"))
    )
    rates = {"s0": 1.0, "s1": 0.0, "s2": 0.5}
    kept_a = {r["doc_id"] for r in weighted_sample(d, rates, default_rate=0.25).collect()}
    kept_b = {
        r["doc_id"]
        for r in weighted_sample(d.repartition(13), rates, default_rate=0.25).collect()
    }
    assert kept_a == kept_b
    by_dom = {r["doc_id"]: r["doc_id"] % 4 for r in d.select("doc_id").collect()}
    n_dom = {i: sum(1 for v in by_dom.values() if v == i) for i in range(4)}
    assert sum(1 for k in kept_a if by_dom[k] == 0) == n_dom[0]  # rate 1.0
    assert sum(1 for k in kept_a if by_dom[k] == 1) == 0  # rate 0.0
    n2 = sum(1 for k in kept_a if by_dom[k] == 2)
    assert 0 < n2 < n_dom[2]  # strictly downsampled

    import pytest

    with pytest.raises(ValueError, match="rate"):
        weighted_sample(d, {"s0": 1.5}).collect()


# ---------------------------------------------------------------------------
# tf-idf and per-key cap (round 4)
# ---------------------------------------------------------------------------


def test_tfidf_topk_hand_case(spark):
    from sparkrdf.textops import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2)
    got = {(r.doc_id, r.term): (r.tf, r.score) for r in out.collect()}
    import math

    def score(tf, df):
        return round(tf * (math.log(4 / (df + 1)) + 1), 6)

    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert got[(1, "apple")] == (2, score(2, 1))
    assert got[(1, "banana")] == (1, score(1, 2))
    # doc 3: cherry tf=3 dominates; date tf=1 df=1
    assert got[(3, "cherry")] == (3, score(3, 2))
    assert got[(3, "date")] == (1, score(1, 1))
    # k=2 respected
    assert sum(1 for (d, _t) in got if d == 3) == 2


def test_tfidf_empty_and_whitespace_docs_dropped(spark):
    from sparkrdf.textops import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = tfidf_topk(docs, k=3).collect()
    assert [r.doc_id for r in out] == [1]


def test_cap_per_key(spark):
    from sparkrdf.textops import cap_per_key

    df = spark.createDataFrame(
        [(i, "k%d" % (i % 2)) for i in range(20)], "id long, k string"
    )
    out = cap_per_key(df, ["k"], 3, "id")
    got = sorted((r.k, r.id) for r in out.collect())
    # first 3 ids of each parity class
    assert got == [("k0", 0), ("k0", 2), ("k0", 4), ("k1", 1), ("k1", 3), ("k1", 5)]


def test_cap_per_key_under_cap_keeps_all(spark):
    from sparkrdf.textops import cap_per_key

    df = spark.createDataFrame([(1, "a"), (2, "a")], "id long, k string")
    assert cap_per_key(df, ["k"], 10, "id").count() == 2


def test_boilerplate_scrub(spark):
    from sparkrdf.textops import boilerplate_scrub

    rows = [
        (1, "COOKIE NOTICE\nreal content one\nFooter Inc"),
        (2, "cookie notice\nreal content two\nfooter inc"),
        (3, "Cookie Notice\nreal content three\nFOOTER INC"),
        (4, "unique doc\n\nwith a blank line"),
        (5, "cookie notice\nFooter Inc"),  # everything is boilerplate
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_scrub(docs, min_docs=3).collect()
    }
    # case-insensitive line df >= 3 → removed everywhere, order preserved
    assert out[1]["text"] == "real content one"
    assert out[1]["n_removed"] == 2
    assert out[2]["text"] == "real content two"
    # doc untouched when no line crosses the threshold; blank lines kept
    assert out[4]["text"] == "unique doc\n\nwith a blank line"
    assert out[4]["n_removed"] == 0
    # fully-boilerplate doc survives as an empty-text row, not a dropped row
    assert out[5]["text"] == ""
    assert out[5]["n_removed"] == 2
    assert len(out) == 5


def test_boilerplate_scrub_threshold_boundary(spark):
    from sparkrdf.textops import boilerplate_scrub

    rows = [(1, "shared\na"), (2, "shared\nb"), (3, "solo\nc")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # df("shared") == 2 < min_docs=3 → nothing removed
    out = {r["doc_id"]: r for r in boilerplate_scrub(docs, min_docs=3).collect()}
    assert all(r["n_removed"] == 0 for r in out.values())
    # at min_docs=2 the shared line goes
    out2 = {r["doc_id"]: r for r in boilerplate_scrub(docs, min_docs=2).collect()}
    assert out2[1]["text"] == "a" and out2[2]["text"] == "b"
    assert out2[3]["text"] == "solo\nc" and out2[3]["n_removed"] == 0
    with pytest.raises(ValueError):
        boilerplate_scrub(docs, min_docs=1)


def test_unigram_logprob_hand_case(spark):
    import math

    from sparkrdf.textops import unigram_logprob

    # corpus: "a a b" + "a c" → counts a=3, b=1, c=1, total=5
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "A  c"), (3, "   ")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    lp = lambda c: math.log(c / 5.0)
    exp1 = (lp(3) + lp(3) + lp(1)) / 3.0
    exp2 = (lp(3) + lp(1)) / 2.0
    assert out[1]["n_tokens"] == 3
    assert abs(out[1]["logprob"] - round(exp1, 6)) < 1e-9
    assert out[2]["n_tokens"] == 2
    assert abs(out[2]["logprob"] - round(exp2, 6)) < 1e-9
    # whitespace-only doc keeps its row with the empty sentinel
    assert out[3]["n_tokens"] == 0 and out[3]["logprob"] == 0.0


def test_cross_doc_dup_grams(spark):
    from sparkrdf.textops import cross_doc_dup_grams

    rows = [
        # docs 1+2 share the 3-gram "x y z"; doc 1 has 3 grams, doc 2 has 2
        (1, "a b x y z"),      # grams: "a b x","b x y","x y z"
        (2, "x y z w"),        # grams: "x y z","y z w"
        (3, "p q r s"),        # grams: "p q r","q r s" — none shared
        (4, "too short"),      # < 3 tokens
        (5, ""),               # empty
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in cross_doc_dup_grams(docs, n=3, min_docs=2).collect()
    }
    assert out[1]["n_grams"] == 3 and abs(out[1]["dup_frac"] - round(1 / 3, 6)) < 1e-9
    assert out[2]["n_grams"] == 2 and out[2]["dup_frac"] == 0.5
    assert out[3]["n_grams"] == 2 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["dup_frac"] == 0.0
    assert out[5]["n_grams"] == 0 and out[5]["dup_frac"] == 0.0


def test_cross_doc_dup_grams_within_doc_repeat_not_shared(spark):
    from sparkrdf.textops import cross_doc_dup_grams

    # "m n o" occurs twice WITHIN doc 1 only — distinct-doc df is 1, so it
    # must NOT count as shared (the within-doc signal belongs to
    # repetition_stats, not here)
    docs = spark.createDataFrame(
        [(1, "m n o m n o"), (2, "u v w")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in cross_doc_dup_grams(docs, n=3, min_docs=2).collect()
    }
    assert out[1]["dup_frac"] == 0.0 and out[1]["n_grams"] == 4
    with pytest.raises(ValueError):
        cross_doc_dup_grams(docs, n=3, min_docs=1)


def test_knn_join_exact_small(spark):
    from sparkrdf.similarity import knn_join

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = knn_join(emb, k=2)
    by_id = {}
    for r in out.collect():
        by_id.setdefault(r.id_a, []).append((r.rank, r.id_b, r.score))
    assert [b for _, b, _ in sorted(by_id[1])] == [2, 3]  # 2 closest, then orthogonal 3
    assert [b for _, b, _ in sorted(by_id[4])] == [3, 2]  # -x: y first, then 2
    assert all(len(v) == 2 for v in by_id.values())


def test_jvm_vector_folds_bit_equal_hof(spark, monkeypatch):
    """The compiled JVM vector folds (sparkrdf.VecDot / VecSqDist) must be
    BIT-equal to the Catalyst aggregate(zip_with) folds they replace —
    same left-to-right accumulation, float->double widening before the
    arithmetic, the zip_with null/length contract — across dots, norms,
    cosines, squared distances and the LSH signature, on array<float>
    columns as stored. Hard-gated: conftest builds the jar, so missing JVM
    folds are a build regression, not a skip."""
    import struct

    import sparkrdf.similarity as S
    from pyspark.sql import functions as F
    from sparkrdf.session import jvm_udfs

    assert {"sparkrdf_vdot", "sparkrdf_vsqd"} <= jvm_udfs(spark), "JVM vector UDFs missing"

    rows = [
        (1, [1.0, 0.5, -0.25, 3.0]),
        (2, [0.1, 0.2, 0.3, 0.4]),
        (3, [-1.5, 2.5, 0.0, 1e-7]),
        # no all-zero row: cosine's division is ANSI-strict on BOTH paths
        # (knn_join itself filters zero norms before scoring)
        (4, [1e-30, 0.0, 0.0, 0.0]),
        # float products that round differently in float than in double
        (5, [0.1, 0.3, 1.7, -2.2]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    other = F.array(*[F.lit(x).cast("float") for x in (0.3, 0.7, 0.11, 5.5)])

    def proj():
        e = F.col("embedding")
        return emb.select(
            "vec_id",
            S._dot(e, F.reverse(e)).alias("d"),
            S._dot(e, other).alias("d2"),
            S._norm(e).alias("n"),
            S.cosine(e, F.reverse(e)).alias("c"),
            S._sqdist(e, other).alias("q"),
            S.lsh_signature(e, S.lsh_hyperplanes(dim=4, n_planes=6)).alias("sig"),
        )

    def run():
        df = proj()
        return "sparkrdf_vdot" in df._jdf.queryExecution().analyzed().toString(), sorted(df.collect())

    used_jvm, jvm = run()
    monkeypatch.setattr(S, "jvm_udfs", lambda session: frozenset())
    hof_used_jvm, hof = run()
    assert used_jvm and not hof_used_jvm

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    for a, b in zip(jvm, hof):
        assert a["vec_id"] == b["vec_id"]
        for f in ("d", "d2", "n", "c", "q"):
            assert bits(a[f]) == bits(b[f]), (a["vec_id"], f, a[f], b[f])
        assert a["sig"] == b["sig"]

    # zip_with length contract: mismatched lengths go NULL on both paths
    two = spark.createDataFrame(
        [([1.0, 2.0], [1.0, 2.0, 3.0])], "a array<double>, b array<double>"
    )
    assert two.select(S._dot(F.col("a"), F.col("b"))).first()[0] is None
    monkeypatch.undo()
    assert two.select(S._dot(F.col("a"), F.col("b"))).first()[0] is None


def test_knn_join_zero_norm_excluded(spark):
    # a zero vector has NaN cosine with everything, and NaN sorts above all
    # doubles descending — unguarded it would be the #1 neighbor of every row
    from sparkrdf.similarity import knn_join

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = knn_join(emb, k=1).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert got == {(1, 2), (2, 1)}  # 3 appears neither as query nor candidate
    assert all(r.score == r.score for r in out)  # no NaN scores


def test_knn_join_cell_restriction_and_recall(spark):
    from sparkrdf.similarity import knn_join

    rows = [
        (1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "a"),
        (3, [0.95, 0.05], "b"),  # true nearest of 1, but in another cell
        (4, [0.0, 1.0], "a"),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label string")
    out = {(r.id_a, r.rank): r.id_b for r in knn_join(emb, k=1, cell_col="label").collect()}
    assert out[(1, 1)] == 2  # same-cell candidate only — 3 is invisible
    exact = {(r.id_a, r.rank): r.id_b for r in knn_join(emb, k=1).collect()}
    assert exact[(1, 1)] == 3  # exhaustive config recovers the true neighbor
