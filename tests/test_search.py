"""BM25 search operator: independent-Python differential + plan shape."""

from __future__ import annotations

import contextlib
import io
import math
import re

import pytest

from rdf_knowledge_extractor_spark.operators.search import (
    bm25_topk,
    doc_postings,
    tokenize_query,
)

DOCS = [
    (1, "Fast table scan beats slow scan; the table is fast."),
    (2, "hash merge hash merge hash partition"),
    (3, "agg row value, agg row value, agg row!"),
    (4, "a table of values: value value VALUE"),
    (5, "scan"),
    (6, "punctuation---only...!!!"),
    (7, ""),
]


def _reference_bm25(docs, queries, k=10, k1=1.2, b=0.75):
    """Independent plain-Python Okapi BM25 (no Spark code reused)."""
    tok = lambda s: [t for t in re.split("[^a-z0-9]+", s.lower()) if t]
    bags = {d: tok(t) for d, t in docs}
    lens = {d: len(ts) for d, ts in bags.items() if ts}
    n = len(lens)
    avgdl = sum(lens.values()) / n
    out = []
    for qid in sorted(queries):
        terms = sorted(set(tok(queries[qid])))
        scores = {}
        for d, ts in bags.items():
            s = 0.0
            for term in terms:
                tf = ts.count(term)
                if not tf:
                    continue
                df = sum(1 for ts2 in bags.values() if term in ts2)
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * lens[d] / avgdl)
                )
            if s:
                scores[d] = s
        ranked = sorted(scores, key=lambda d: (-round(scores[d], 6), d))
        out += [
            (qid, i + 1, d, round(scores[d], 4))
            for i, d in enumerate(ranked[:k])
        ]
    return out


def _df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_bm25_matches_independent_reference(spark):
    queries = {"q1": "fast scan", "q2": "hash merge", "q3": "value table"}
    got = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in bm25_topk(_df(spark), queries, k=3).collect()
    )
    assert got == sorted(_reference_bm25(DOCS, queries, k=3))


def test_bm25_empty_and_no_hit_queries(spark):
    # a query with no corpus hits yields zero rows for that query only
    rows = bm25_topk(_df(spark), {"q": "zzz absent"}, k=5).collect()
    assert rows == []
    with pytest.raises(ValueError):
        bm25_topk(_df(spark), {}, k=5)
    with pytest.raises(ValueError):
        bm25_topk(_df(spark), {"q": "scan"}, k=0)


def test_postings_single_parse(spark):
    rows = {
        (r.doc_id, r.term): (r.tf, r.doc_len)
        for r in doc_postings(_df(spark)).collect()
    }
    assert rows[(2, "hash")] == (3, 6)
    assert rows[(1, "scan")] == (2, 10)
    assert (6, "punctuation") in rows and rows[(6, "punctuation")][1] == 2
    assert not any(d == 7 for d, _ in rows)  # empty doc yields nothing


def test_tokenize_query_twin():
    assert tokenize_query("Fast-SCAN, 42!") == ["fast", "scan", "42"]
    assert tokenize_query("...") == []


def test_rrf_fuse_closed_form(spark):
    from rdf_knowledge_extractor_spark.operators.search import rrf_fuse

    # lexical hits 30..39 at ranks 3..12 below docs 10 and 20
    lex = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2)] + [("q", 27 + r, r) for r in range(3, 13)],
        ["query_id", "doc_id", "rank"],
    )
    vec = spark.createDataFrame(
        [("q", 20, 1), ("q", 40, 2)], ["query_id", "doc_id", "rank"]
    )
    got = {
        r.doc_id: (r.rank, r.rrf)
        for r in rrf_fuse([lex, vec]).collect()
    }
    # doc 20: both systems -> 1/62 + 1/61; docs 10/40 rank-1/2 singles
    assert got[20] == (1, round(1 / 62 + 1 / 61, 6))
    assert got[10] == (2, round(1 / 61, 6))
    assert got[40] == (3, round(1 / 62, 6))
    assert got[30] == (4, round(1 / 63, 6))
    # 13 fused docs: the top 10 cut the three weakest
    assert len(got) == 10 and not {37, 38, 39} & set(got)
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_bm25_plan_shape(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bm25_topk(_df(spark), {"q": "scan table"}, k=2).explain(
            mode="formatted"
        )
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # query terms, dfreq and corpus stats all arrive as broadcasts
    assert "BroadcastHashJoin" in plan
    # top-k per query is a map-side partial group limit
    assert "WindowGroupLimit" in plan
