"""Round-5 training-data operators: bigram-LM perplexity, duplicate
n-gram span detection, and target-weight corpus mixing — closed-form
expectations computed by hand or by an independent pure-Python model.
"""

from __future__ import annotations

import math

import pytest

from rdf_knowledge_extractor_spark.operators.dupspans import duplicate_span_report
from rdf_knowledge_extractor_spark.operators.lm_score import (
    bigram_lm_scores,
    doc_bigrams,
)
from rdf_knowledge_extractor_spark.operators.mixing import mix_to_weights


# -- bigram LM --------------------------------------------------------

def _py_bigram_lm(texts: dict[int, str]) -> dict[int, tuple[int, float, float]]:
    """Independent pure-Python add-one bigram LM (the operator's
    contract, reimplemented without Spark)."""
    toks = {d: t.split() for d, t in texts.items()}
    vocab = {w for ts in toks.values() for w in ts}
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    out = {}
    for d, ts in toks.items():
        bgs = list(zip(ts, ts[1:]))
        if not bgs:
            out[d] = (0, 0.0, 1.0)
            continue
        h = -sum(
            math.log((c2[bg] + 1.0) / (c1[bg[0]] + len(vocab)))
            for bg in bgs
        ) / len(bgs)
        out[d] = (len(bgs), round(h, 4), round(math.exp(h), 4))
    return out


def test_bigram_lm_matches_independent_model(spark):
    texts = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "zz",          # 1 token -> no bigrams
        4: "",             # empty -> no bigrams
        5: "the cat sat on the mat",  # exact dup of 1 -> same score
    }
    df = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.n_bigrams, r.cross_entropy, r.ppl)
        for r in bigram_lm_scores(df).collect()
    }
    assert got == _py_bigram_lm(texts)
    # repeated fluent text scores LOWER than the one-off continuation
    assert got[1][1] < got[2][1]


def test_doc_bigrams_multiplicity(spark):
    df = spark.createDataFrame([(1, "a b a b a")], ["doc_id", "text"])
    rows = {
        (r.w1, r.w2): r.cnt for r in doc_bigrams(df).collect()
    }
    assert rows == {("a", "b"): 2, ("b", "a"): 2}


# -- duplicate spans --------------------------------------------------

def test_duplicate_span_report_closed_form(spark):
    # 8-token windows; doc 1 and 2 share the window "a b c d e f g h";
    # doc 3 is disjoint; doc 4 is too short for any window.
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),  # windows: "a … h", "b … i"
            (2, "x a b c d e f g h"),  # windows: "x … g", "a … h"
            (3, "p q r s t u v w y"),  # windows: "p … w", "q … y"
            (4, "a b c d e f g"),      # too short
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_windows, r.n_shared, r.shared_frac)
        for r in duplicate_span_report(df).collect()
    }
    assert got == {
        1: (2, 1, 0.5),
        2: (2, 1, 0.5),
        3: (2, 0, 0.0),
        4: (0, 0, 0.0),
    }


def test_duplicate_span_in_doc_repeat_not_shared(spark):
    # the same gram twice WITHIN one doc is not cross-document
    df = spark.createDataFrame(
        [(1, "a b c d e f g h a b c d e f g h"), (2, "z z z z z z z z")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_windows, r.n_shared)
        for r in duplicate_span_report(df).collect()
    }
    assert got == {1: (9, 0), 2: (1, 0)}


# -- corpus mixing ----------------------------------------------------

def test_mix_to_weights_proportions_and_determinism(spark):
    rows = [(i, "web" if i % 4 else "code") for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # web: 3000 docs, code: 1000 docs; recipe 50/50 -> code binds:
    # T = min(3000/0.5, 1000/0.5) = 2000 -> keep 1000 of each target
    out = mix_to_weights(df, {"web": 0.5, "code": 0.5})
    counts = {
        r.source: r.cnt
        for r in out.groupBy("source").count().withColumnRenamed(
            "count", "cnt"
        ).collect()
    }
    assert counts["code"] == 1000  # binding group keeps everything
    assert abs(counts["web"] - 1000) < 100  # hash-sampled at 1/3
    rates = {
        r.source: r.mix_rate
        for r in out.select("source", "mix_rate").distinct().collect()
    }
    assert rates == {"code": 1.0, "web": round(1000.0 / 3000.0, 4)}
    # deterministic: identical second run
    again = mix_to_weights(df, {"web": 0.5, "code": 0.5})
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_mix_to_weights_drops_unlisted_and_validates(spark):
    df = spark.createDataFrame(
        [(1, "web"), (2, "spam")], ["doc_id", "source"]
    )
    out = mix_to_weights(df, {"web": 1.0})
    assert [r.doc_id for r in out.collect()] == [1]
    with pytest.raises(ValueError):
        mix_to_weights(df, {})
    with pytest.raises(ValueError):
        mix_to_weights(df, {"web": 0.0})
