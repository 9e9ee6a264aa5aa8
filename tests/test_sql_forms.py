"""The batch path's operators, built from SQL text, against their
Column-API forms.

`first_occurrence_dedup`, `canonicalize_triples` and `entity_universe`
build their plans from `selectExpr`/`F.expr` text (a few py4j calls
instead of several per Column call).  The Column-API forms they
replaced are kept here as references; rows AND full schemas (names,
types, nullability, column order) must match on hostile inputs:
column names that need backtick quoting, NULL ordinals, `https://` and
literal objects, NULL subjects and objects, a shuffled column order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
from rdf_knowledge_extractor_spark.operators.dedup import (
    ORDER_COLS,
    TRIPLE_KEY,
    first_occurrence_dedup,
)
from rdf_knowledge_extractor_spark.operators.linking import entity_universe


def _dedup_columns(df):
    payload = [c for c in df.columns if c not in TRIPLE_KEY]
    ordinal = F.struct(
        *[
            part
            for c in ORDER_COLS
            for part in (
                F.col(c).isNull().cast("int").alias(f"_isnull_{c}"),
                F.col(c).alias(c),
            )
        ]
    )
    first = F.min_by(F.struct(*payload), ordinal)
    return (
        df.groupBy(*TRIPLE_KEY)
        .agg(first.alias("_first"))
        .select(*TRIPLE_KEY, *[F.col(f"_first.{c}").alias(c) for c in payload])
        .select(*df.columns)
    )


def _canonicalize_columns(triples, mapping):
    m_subj = mapping.select(
        F.col("uri").alias("subject"), F.col("canonical").alias("_subj_canon")
    )
    m_obj = mapping.select(
        F.col("uri").alias("object"), F.col("canonical").alias("_obj_canon")
    )
    out = (
        triples.join(m_subj, on="subject", how="left")
        .join(m_obj, on="object", how="left")
        .withColumn("subject", F.coalesce(F.col("_subj_canon"), F.col("subject")))
        .withColumn(
            "object",
            F.when(
                F.col("object").startswith("http://")
                | F.col("object").startswith("https://"),
                F.coalesce(F.col("_obj_canon"), F.col("object")),
            ).otherwise(F.col("object")),
        )
        .select(*triples.columns)
    )
    return _dedup_columns(out)


def _universe_two_branch(triples):
    subs = triples.select(F.col("subject").alias("uri"))
    objs = triples.select(F.col("object").alias("uri")).filter(
        F.col("object").startswith("http://") | F.col("object").startswith("https://")
    )
    return subs.unionByName(objs).distinct()


X = "http://x/"
S = "https://s/"

# (subject, predicate, object, confidence, source file, x-y, doc_seq, triple_seq)
ROWS = [
    (X + "a", "p", X + "b", 0.9, "d1", "m1", 0, 0),
    (X + "a", "p", X + "b", 0.1, "d2", "m2", 1, 0),           # later duplicate
    (X + "a", "p", X + "b", 0.5, "d0", "m0", None, None),     # NULL ordinals
    (X + "c", "p", "a literal", 1.0, "d1", None, 0, 1),
    (X + "c", "p", "a literal", 0.2, "d3", "m3", None, 4),    # NULL doc_seq
    (X + "c", "p", "a literal", 0.3, "d4", "m4", 0, None),    # NULL triple_seq
    (S + "e", "q", S + "f", 1.0, "d2", "m5", 2, 0),           # https both ends
    (X + "g", "q", "https-looking literal", 1.0, "d2", None, 2, 1),
    (None, "q", X + "a", 1.0, "d5", None, 3, 0),              # NULL subject
    (X + "h", "q", None, 1.0, "d5", None, 3, 1),              # NULL object
    (None, "q", None, 1.0, "d6", None, None, None),
]
SCHEMA = (
    "subject string, predicate string, object string, confidence float, "
    "`source file` string, `x-y` string, doc_seq long, triple_seq int"
)
MAPPING = [
    (X + "a", X + "a"),
    (X + "b", X + "a"),
    (X + "c", X + "a"),
    (S + "e", X + "e"),
    (S + "f", X + "e"),
    ("a literal", "never applied to a literal object"),
]


@pytest.fixture(scope="module", params=["declared", "shuffled"])
def triples(spark, request):
    df = spark.createDataFrame(ROWS, SCHEMA)
    if request.param == "shuffled":
        df = df.select("x-y", "triple_seq", "object", "source file",
                       "doc_seq", "subject", "confidence", "predicate")
    return df


@pytest.fixture(scope="module")
def mapping(spark):
    return spark.createDataFrame(MAPPING, "uri string, canonical string")


def _same(got, want):
    assert got.schema == want.schema
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )


def test_first_occurrence_dedup_matches_column_form(triples):
    got = first_occurrence_dedup(triples)
    _same(got, _dedup_columns(triples))
    # the first occurrence won; NULL ordinals lost to real ones
    first = {(r.subject, r.object): r["source file"] for r in got.collect()}
    assert first[(X + "a", X + "b")] == "d1"
    assert first[(X + "c", "a literal")] == "d1"


def test_canonicalize_matches_column_form(triples, mapping):
    got = canonicalize_triples(triples, mapping)
    _same(got, _canonicalize_columns(triples, mapping))
    spo = {(r.subject, r.object) for r in got.collect()}
    assert (X + "e", X + "e") in spo and (X + "a", "a literal") in spo


def test_canonicalize_non_nullable_schema(spark, mapping):
    """Non-nullable key columns keep their nullability through the
    rewrite, as they did through the Column form."""
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    df = spark.createDataFrame(
        [(X + "b", "p", S + "f", 1.0, None, {}, 0, 0)], TRIPLE_SCHEMA
    )
    _same(canonicalize_triples(df, mapping), _canonicalize_columns(df, mapping))
    _same(first_occurrence_dedup(df), _dedup_columns(df))


def test_dedup_quotes_any_column_name(spark):
    """Names the Column form's `_first.<name>` lookup could not reach
    (a dot, a backtick) come through the quoted SQL form intact."""
    df = spark.createDataFrame(
        [("s", "p", "o", "late", 1, 0), ("s", "p", "o", "early", 0, 0)],
        "subject string, predicate string, object string, "
        "`a.b``c` string, doc_seq int, triple_seq int",
    )
    out = first_occurrence_dedup(df)
    assert out.columns == df.columns
    assert [tuple(r) for r in out.collect()] == [("s", "p", "o", "early", 0, 0)]


@pytest.mark.parametrize("merged", [False, True])
def test_entity_universe_one_exchange_and_two_branch_rows(triples, merged):
    """One scan, and over the merged batch (the pipeline's input) ONE
    merge exchange below the distinct's own: a union of two selects
    planned the merge twice, the object filter pushed into one branch
    so neither exchange was reused."""
    import contextlib
    import io

    src = first_occurrence_dedup(triples) if merged else triples
    got = entity_universe(src)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain()
    plan = buf.getvalue()
    assert plan.count("Exchange") == 1 + merged, plan
    assert plan.count("Scan ExistingRDD") == 1, plan
    want = _universe_two_branch(src)
    assert got.columns == want.columns == ["uri"]
    rows = sorted((r.uri for r in got.collect()), key=repr)
    assert rows == sorted((r.uri for r in want.collect()), key=repr)
    # a NULL subject is a universe row; literal and NULL objects add none
    assert None in rows and "a literal" not in rows
    assert "https-looking literal" not in rows and S + "f" in rows


def test_canonical_key_shingles_match_char_shingles(spark):
    """`with_canonical_key`'s SQL shingles are the grams of the Column
    helper `char_shingles(key, 3)`, on keys shorter than, equal to and
    longer than a gram, with repeats, and an empty key."""
    from rdf_knowledge_extractor_spark.functions.text_analysis import char_shingles
    from rdf_knowledge_extractor_spark.operators.linking import with_canonical_key

    uris = [X + "ab", X + "Abc", X + "aaaa", X + "TechCorp", "x#Zz-Top Inc",
            X + "", X + "Über_Straße", None]
    ents = spark.createDataFrame([(u,) for u in uris], "uri string")
    got = with_canonical_key(ents)
    want = got.select("uri", char_shingles(F.col("key"), 3).alias("shingles"))
    assert got.columns == ["uri", "key", "shingles"]
    assert got.schema["shingles"] == want.schema["shingles"]
    got_rows = map(tuple, got.select("uri", "shingles").collect())
    assert sorted(got_rows, key=repr) == sorted(map(tuple, want.collect()), key=repr)
