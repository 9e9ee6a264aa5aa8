"""Benchmark decontamination (operators/decontam.py) and PII scrub
(functions/pii.py): exact match semantics, the short-text sequence
guard, normalization, and the broadcast plan shape that keeps the
100-TB document side shuffle-free through the benchmark join.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.functions.pii import (
    PII_TYPES,
    pii_count,
    redact_pii,
    scrub_pii,
)
from rdf_knowledge_extractor_spark.operators.decontam import (
    contamination_report,
    decontaminate,
    word_ngrams,
)

BENCH_PASSAGE = (
    "what is the capital of france the capital of france is paris "
    "which lies on the seine"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # 0: contains the benchmark passage verbatim, mid-document
        (0, "some preamble text here " + BENCH_PASSAGE + " and a closing line"),
        # 1: contains it with different case and punctuation
        (1, "What is the CAPITAL of France? The capital of France is "
            "Paris, which lies on the Seine!"),
        # 2: clean — long but shares no 3-gram
        (2, " ".join(f"word{i}" for i in range(60))),
        # 3: shorter than 3 words — can never match
        (3, "the capital"),
        # 4: clean with 2-word overlaps only
        (4, "what is rome the capital city of france"),
    ]
    return rows


@pytest.fixture(scope="module")
def docs(spark, corpus):
    return spark.createDataFrame(corpus, ["doc_id", "text"])


@pytest.fixture(scope="module")
def bench_set(spark):
    return spark.createDataFrame([(0, BENCH_PASSAGE)], ["qid", "text"])


def test_word_ngrams_basic(spark):
    df = spark.createDataFrame([("The cat, the DOG!",)], ["t"])
    [row] = df.select(word_ngrams(F.col("t"), 2).alias("g")).collect()
    assert row.g == ["the cat", "cat the", "the dog"]


def test_word_ngrams_short_text_is_empty_not_descending(spark):
    # size-n+1 < 1 must yield [], not a DESCENDING sequence of starts
    df = spark.createDataFrame([("only two",), ("", ), ("one",)], ["t"])
    rows = df.select(word_ngrams(F.col("t"), 3).alias("g")).collect()
    assert [r.g for r in rows] == [[], [], []]


def test_decontaminate_flags_verbatim_and_normalized(docs, bench_set):
    clean, report = decontaminate(docs, bench_set)
    flagged = {r.doc_id for r in report.collect()}
    assert flagged == {0, 1}
    assert {r.doc_id for r in clean.collect()} == {2, 3, 4}


def test_report_counts_distinct_matched_ngrams(docs, bench_set):
    report = contamination_report(docs, bench_set)
    by_id = {r.doc_id: r.n_matched for r in report.collect()}
    # the benchmark passage has 17 words -> 15 3-grams, 13 distinct
    # ("the capital of" and "capital of france" repeat), all present
    # verbatim in doc 0 and (normalized) in doc 1
    assert by_id == {0: 13, 1: 13}


def test_two_word_overlap_is_not_contamination(docs, bench_set):
    # doc 4 shares 2-word runs ("what is", "the capital", "of france")
    # but no 3-gram
    report = contamination_report(docs, bench_set)
    assert report.filter(F.col("doc_id") == 4).count() == 0


def test_benchmark_side_is_broadcast(docs, bench_set):
    report = contamination_report(docs, bench_set)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        report.explain()
    assert "BroadcastExchange" in buf.getvalue()


# -- PII ------------------------------------------------------------

def test_pii_counts_and_redaction(spark):
    text = (
        "mail bob.smith+x@example.co.uk or call 555-123-4567, "
        "server at 10.0.255.7 works"
    )
    df = scrub_pii(spark.createDataFrame([(1, text)], ["doc_id", "text"]))
    [r] = df.collect()
    assert (r.n_email, r.n_ipv4, r.n_phone) == (1, 1, 1)
    assert r.redacted == "mail <EMAIL> or call <PHONE>, server at <IPV4> works"


def test_pii_redaction_order_email_wins_over_inner_ip(spark):
    # the domain EMBEDS an IPv4, but the e-mail is masked first and
    # whole; counts still see both independently on the original text
    df = scrub_pii(
        spark.createDataFrame([(1, "x user@10.0.0.1.example.com y")],
                              ["doc_id", "text"])
    )
    [r] = df.collect()
    assert r.redacted == "x <EMAIL> y"
    assert (r.n_email, r.n_ipv4) == (1, 1)
    # a bare IP mailbox-host is NOT an e-mail under the alphabetic-TLD
    # pattern — the IP arm redacts it instead
    [r2] = scrub_pii(
        spark.createDataFrame([(1, "x user@10.0.0.1 y")], ["doc_id", "text"])
    ).collect()
    assert r2.redacted == "x user@<IPV4> y"
    assert (r2.n_email, r2.n_ipv4) == (0, 1)


def test_pii_no_match_and_null(spark):
    df = scrub_pii(
        spark.createDataFrame([(1, "nothing here"), (2, None)],
                              "doc_id long, text string")
    )
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1].n_email == 0 and rows[1].redacted == "nothing here"
    assert rows[2].n_email is None and rows[2].redacted is None


def test_pii_scrub_is_shuffle_free(spark):
    df = scrub_pii(spark.createDataFrame([(1, "a")], ["doc_id", "text"]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    assert "Exchange" not in buf.getvalue()


def test_pii_types_registry_shape():
    assert list(PII_TYPES) == ["email", "ipv4", "phone"]
    for pattern, token in PII_TYPES.values():
        assert token.startswith("<") and token.endswith(">")


# -- char-bigram entropy ---------------------------------------------

def test_char_bigram_entropy_closed_forms(spark):
    import math

    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        char_bigram_entropy,
    )

    df = spark.createDataFrame(
        [
            (1, "aaaa"),      # bigrams: aa x3 -> entropy 0
            (2, "abab"),      # ab,ba,ab -> p=(2/3,1/3)
            (3, "x"),         # too short -> 0 bigrams, entropy 0
            (4, ""),          # empty -> 0 bigrams, entropy 0
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in char_bigram_entropy(df).collect()}
    assert (rows[1].n_bigrams, rows[1].entropy) == (3, 0.0)
    expect = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert rows[2].entropy == round(expect, 4)
    assert (rows[3].n_bigrams, rows[3].entropy) == (0, 0.0)
    assert (rows[4].n_bigrams, rows[4].entropy) == (0, 0.0)


def test_char_bigram_entropy_prefix_cap(spark):
    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        ENTROPY_MAX_CHARS,
        char_bigram_entropy,
    )

    df = spark.createDataFrame([(1, "ab" * 1000)], ["doc_id", "text"])
    [r] = char_bigram_entropy(df).collect()
    # capped at the prefix, not the full doc
    assert r.n_bigrams == ENTROPY_MAX_CHARS - 1
