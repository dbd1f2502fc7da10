"""Corpus-scrubbing operators: PII redaction, decontamination, TF-IDF,
and the graph statistics added alongside them (pipeline.scrub,
analytics clustering_coefficient / degree_assortativity)."""

import math

import pytest
from pyspark.sql import functions as F

from jasminegraph_spark.analytics import (
    clustering_coefficient,
    degree_assortativity,
)
from jasminegraph_spark.pipeline import (
    decontaminate,
    pii_redact,
    tfidf_top_terms,
    token_ngrams,
)


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (1, "contact me at alice@example.com or bob.smith@corp.co.uk today"),
        (2, "ssn 123-45-6789 phone 555-123-4567 server 10.0.0.1"),
        (3, "no pii here, just text with numbers 12345 and dots..."),
        (4, "two mails x@y.io y@z.org and ip 192.168.1.255"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_pii_redact_counts_and_spans(pii_docs):
    out = {r["doc_id"]: r for r in pii_redact(pii_docs).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_redactions"] == 2
    assert "<EMAIL>" in out[1]["redacted_text"]
    assert "alice" not in out[1]["redacted_text"].split("@")[0] or True
    assert "@" not in out[1]["redacted_text"].replace("<EMAIL>", "")
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1 and out[2]["n_ipv4"] == 1
    assert "<SSN>" in out[2]["redacted_text"] and "<IPV4>" in out[2]["redacted_text"]
    assert out[3]["n_redactions"] == 0
    assert out[3]["redacted_text"].startswith("no pii here")
    assert out[4]["n_email"] == 2 and out[4]["n_ipv4"] == 1


def test_pii_email_ip_interaction(spark):
    # "user@1.2.3.44" is NOT an email (TLD must be alphabetic) — the IPv4
    # rule picks up the numeric host; a digit-bearing but valid email
    # domain stays ONE email redaction with no IP fragment
    df = spark.createDataFrame(
        [(1, "mail user@1.2.3.44 end"), (2, "mail user@host99.example.com end")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert out[1]["n_email"] == 0 and out[1]["n_ipv4"] == 1
    assert out[1]["redacted_text"] == "mail user@<IPV4> end"
    assert out[2]["n_email"] == 1 and out[2]["n_ipv4"] == 0
    assert out[2]["redacted_text"] == "mail <EMAIL> end"


def test_token_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "")], "doc_id: long, text: string"
    )
    out = token_ngrams(df, n=4).collect()
    # doc 1 has 3 tokens < n → no grams (and no sequence(1,0) artifact)
    assert {r["doc_id"] for r in out} == {2}
    assert out[0]["ngram"] == "a b c d"


def test_decontaminate_flags_overlap_only(spark):
    train = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "completely different words appear in this one here"),
            (12, "quick brown fox jumps high"),
        ],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame(
        [(90, "watch the quick brown fox jumps now")], "doc_id: long, text: string"
    )
    hits = {r["doc_id"]: r["n_hit_ngrams"] for r in decontaminate(train, bench, n=4).collect()}
    # doc 10 shares "the quick brown fox" and "quick brown fox jumps";
    # doc 12 shares "quick brown fox jumps"; doc 11 shares nothing
    assert hits == {10: 2, 12: 1}


def test_tfidf_ranks_rare_terms_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common words only"),
            (3, "common words only again"),
        ],
        "doc_id: long, text: string",
    )
    top = tfidf_top_terms(docs, k=2)
    d1 = [r["term"] for r in top.filter(F.col("doc_id") == 1).orderBy("rank").collect()]
    # zebra: tf=1, df=1 → idf high; common: tf=3 in doc 1, df=3 → idf=1
    n, scores = 3, {}
    for term, tf, df in [("zebra", 1, 1), ("common", 3, 3)]:
        scores[term] = tf * (math.log((n + 1) / (df + 1)) + 1)
    expected = sorted(scores, key=lambda t: (-scores[t], t))
    assert d1 == expected
    # rank is dense per doc and capped at k
    assert top.groupBy("doc_id").agg(F.max("rank").alias("m")).filter(
        F.col("m") > 2
    ).count() == 0


@pytest.fixture(scope="module")
def tiny_graph(spark):
    # triangle 1-2-3 plus pendant 3-4: triangles=1, wedges: deg(1)=2,
    # deg(2)=2, deg(3)=3, deg(4)=1 → 1+1+3+0 = 5 wedges
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src: long, dst: long"
    )


def test_clustering_coefficient_tiny(tiny_graph):
    r = clustering_coefficient(tiny_graph).first()
    assert r["n_triangles"] == 1 and r["n_wedges"] == 5
    assert r["global_cc"] == "%.6f" % (3.0 / 5.0)


def test_degree_assortativity_star_is_negative(spark):
    # a star graph is maximally disassortative (hub pairs with leaves only)
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src: long, dst: long")
    r = degree_assortativity(star).first()
    assert r["n_endpoints"] == 10
    assert float(r["assortativity"]) == -1.0


def test_degree_assortativity_matches_numpy(tiny_graph):
    import numpy as np

    r = degree_assortativity(tiny_graph).first()
    deg = {1: 2, 2: 2, 3: 3, 4: 1}
    pairs = []
    for a, b in [(1, 2), (2, 3), (1, 3), (3, 4)]:
        pairs += [(deg[a], deg[b]), (deg[b], deg[a])]
    x = np.array([p[0] for p in pairs], dtype=float)
    y = np.array([p[1] for p in pairs], dtype=float)
    expect = np.corrcoef(x, y)[0, 1]
    assert abs(float(r["assortativity"]) - expect) < 1e-6


def test_repetition_scores_flags_loops(spark):
    from jasminegraph_spark.pipeline import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "six totally different words here now"),
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in repetition_scores(docs).collect()}
    # all 5 bigrams of doc 1 are "spam spam" → dup fraction 4/5
    assert abs(out[1]["dup_bigram_frac"] - 0.8) < 1e-9
    assert out[1]["top_token_frac"] == 1.0
    assert out[2]["dup_bigram_frac"] == 0.0
    assert abs(out[2]["top_token_frac"] - 1 / 6) < 1e-9


def test_gopher_rules(spark):
    """Every Gopher rule trips on a targeted fixture and the composite
    `passes` flag is exact-integer arithmetic (no float thresholds)."""
    from jasminegraph_spark.pipeline import gopher_rules

    good = (
        "the quick brown fox jumps over that lazy dog and runs away "
        "with great speed to be sure of it all " * 3
    )
    docs = spark.createDataFrame(
        [
            (1, good),  # passes every rule
            (2, "the and of it"),  # < 50 words
            (3, ("#" * 40) + " " + good),  # symbol ratio > 0.1
            (4, "\n".join("- bullet line the and of" for _ in range(20))),  # 100% bullets
            (5, good.replace(" ", "... \n", 40)),  # ellipsis-ended lines
            (6, " ".join("12345" for _ in range(80)) + " the and"),  # alpha < 80%
            (7, "zzz qqq " * 40),  # no stopwords
            (8, " ".join("a" for _ in range(80)) + " the and of"),  # mean len < 3
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert out[1]["passes"] == 1
    for bad in (2, 3, 4, 5, 6, 7, 8):
        assert out[bad]["passes"] == 0, bad
    # signal spot checks
    assert out[2]["n_words"] == 4 and out[2]["n_stop_hits"] >= 2
    assert out[3]["n_symbols"] == 40
    assert out[4]["n_bullet_lines"] == out[4]["n_lines"] == 20
    assert out[5]["n_ellipsis_lines"] == 40
    assert out[6]["n_alpha_words"] == 2
    assert out[7]["n_stop_hits"] == 0


def test_c4_rules(spark):
    """C4 line/page heuristics (Raffel et al. 2020 §2.2): terminal-punct
    + >=5-word + no-javascript line filter; lorem-ipsum / curly-brace /
    <3-sentence page drops — each rule pinned on a handcrafted doc."""
    from jasminegraph_spark.pipeline import c4_rules

    good = (
        "this is a perfectly fine sentence one.\n"
        "here is another sentence with enough words!\n"
        'and a third one that ends with a quote?"\n'
        "short line.\n"  # < 5 words → dropped by the line filter
        "no terminal punctuation on this line at all"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + "\nlorem ipsum dolor sit amet consectetur."),
            (3, good + "\nvar config = { mode: 1 }."),
            (4, "only two sentences live here today fine.\nsecond full sentence sits right here now!"),
            (5, "the javascript runtime is discussed here at length.\n" + good),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in c4_rules(docs).collect()}
    assert out[1]["passes"] == 1
    assert out[1]["n_lines"] == 5 and out[1]["n_kept_lines"] == 3
    assert out[1]["n_sentences"] == 3
    assert out[2]["passes"] == 0 and out[2]["has_lorem"] == 1
    assert out[3]["passes"] == 0 and out[3]["has_brace"] == 1
    assert out[4]["passes"] == 0 and out[4]["n_sentences"] == 2
    # the javascript line is dropped but the page still passes on the rest
    assert out[5]["passes"] == 1 and out[5]["n_kept_lines"] == 3


def test_normalize_text(spark):
    """Normalization rules pinned: zero-width strip, curly-quote/dash
    folding, control-char fold, whitespace collapse; clean text passes
    through unchanged (changed=0)."""
    from jasminegraph_spark.pipeline import normalize_text

    rows = [
        (1, "plain text stays identical"),
        (2, "curly ‘quotes’ and “double” ones"),
        (3, "tab\there\nnewline – dash — emdash"),
        (4, "zero​width‌stuff﻿ gone   and   spaces"),
    ]
    out = {r["doc_id"]: r for r in normalize_text(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).collect()}
    assert out[1]["text_norm"] == "plain text stays identical"
    assert out[1]["changed"] == 0
    assert out[2]["text_norm"] == "curly 'quotes' and \"double\" ones"
    assert out[3]["text_norm"] == "tab here newline - dash - emdash"
    assert out[4]["text_norm"] == "zerowidthstuff gone and spaces"
    assert all(out[i]["changed"] == 1 for i in (2, 3, 4))
    assert out[4]["orig_len"] > out[4]["norm_len"]


def test_bigram_logprob_shuffled_below_natural(spark):
    """The bigram score separates natural from shuffled text even when
    unigram distributions are IDENTICAL — the signal unigram scoring
    can't see; single-word docs produce no bigrams."""
    from jasminegraph_spark.pipeline import bigram_logprob, unigram_logprob

    # corpus dominated by the natural phrasing; one shuffled outlier
    rows = [(i, "the cat sat on the mat") for i in range(1, 11)]
    rows.append((11, "mat the on sat cat the"))  # same unigrams, shuffled
    rows.append((12, "solo"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bg = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert bg[1]["avg_logprob"] > bg[11]["avg_logprob"]
    assert 12 not in bg  # no bigrams in a one-token doc
    ug = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(docs).collect()}
    assert abs(ug[1] - ug[11]) < 1e-9  # unigram scoring is blind to order
