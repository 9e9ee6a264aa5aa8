"""Split assignment (operators/splits.py) and TF-IDF keyword
extraction (operators/tfidf.py): determinism, boundary handling, and
the scale-relevant plan shapes (zero-shuffle split; WindowGroupLimit
top-k)."""

from __future__ import annotations

import contextlib
import hashlib
import io
import math

import pytest
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.splits import (
    assign_splits,
    split_boundaries,
)
from rdf_knowledge_extractor_spark.operators.tfidf import tfidf_top_terms


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"doc {i}") for i in range(2000)], ["doc_id", "text"]
    )


def test_split_boundaries_normalize_and_clamp():
    b = split_boundaries({"train": 9, "val": 0.5, "test": 0.5})
    assert [n for n, _ in b] == ["train", "val", "test"]
    assert b[0][1] == format(int(0.9 * (1 << 32)), "08x")
    assert b[-1][1] == "ffffffff"
    with pytest.raises(ValueError):
        split_boundaries({})
    with pytest.raises(ValueError):
        split_boundaries({"a": 0.0})


def test_assign_splits_matches_reference_hash(docs):
    rows = assign_splits(docs).collect()
    bounds = split_boundaries({"train": 0.9, "val": 0.05, "test": 0.05})
    for r in rows:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8]
        expect = next(n for n, upper in bounds if h < upper or upper == "ffffffff")
        assert r.split == expect, r.doc_id


def test_assign_splits_proportions_and_total(docs):
    counts = {
        r.split: r["count"]
        for r in assign_splits(docs).groupBy("split").count().collect()
    }
    assert sum(counts.values()) == 2000  # every doc assigned exactly once
    assert 0.85 * 2000 < counts["train"] < 0.95 * 2000
    assert counts["val"] > 0 and counts["test"] > 0


def test_assign_splits_zero_shuffle(docs):
    out = assign_splits(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "Exchange" not in buf.getvalue()


def test_tfidf_scores_and_ranks(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "banana cherry shared"),
            (3, "cherry cherry cherry shared"),
            (4, "t1 t2 t3 t4 t5 t6 t7 shared"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df)
    rows = {(r.doc_id, r.rank): r for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> 2*ln(4); banana tf=1 df=2 -> ln(2)
    assert rows[(1, 1)].term == "apple"
    assert rows[(1, 1)].tfidf == round(2 * math.log(4), 4)
    assert rows[(1, 2)].term == "banana"
    assert rows[(1, 2)].tfidf == round(math.log(2), 4)
    # 'shared' appears in every doc -> idf = ln(1) = 0, never ranks
    # above a distinctive term
    assert rows[(3, 1)].term == "cherry"
    # docs 1-3 keep all their 3, 3 and 2 terms; doc 4's eight terms
    # are cut to the top 5 (t1-t7 tie at ln(4), term asc)
    assert [rows[(4, r)].term for r in range(1, 6)] == ["t1", "t2", "t3", "t4", "t5"]
    assert len(rows) == 3 + 3 + 2 + 5


def test_tfidf_topk_is_window_group_limit(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    out = tfidf_top_terms(df)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "WindowGroupLimit" in buf.getvalue()

