"""Dedup operator semantics vs the reference's sequential scans."""

from __future__ import annotations

from rdf_knowledge_extractor_spark.operators.dedup import (
    first_occurrence_dedup,
    insert_new_triples,
)


def _triples(spark, rows):
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_first_occurrence_keeps_first_payload(spark):
    # duplicate (s,p,o) with different confidence/source: FIRST wins
    # (ref:src/core/extractor.rs:327-343 pushes only the first seen)
    df = _triples(
        spark,
        [
            ("s", "p", "o", 0.9, "docA", {}, 0, 0),
            ("s", "p", "o", 0.1, "docB", {}, 1, 0),
            ("s", "p", "o2", 1.0, "docB", {}, 1, 1),
            ("s", "p", "o", 0.5, "docA", {}, 0, 5),
        ],
    )
    out = first_occurrence_dedup(df).collect()
    assert len(out) == 2
    kept = {r.object: r for r in out}
    assert abs(kept["o"].confidence - 0.9) < 1e-6 and kept["o"].source == "docA"
    assert kept["o"].doc_seq == 0 and kept["o"].triple_seq == 0


def test_insert_if_absent(spark):
    # ref:src/knowledge_graph/mod.rs:91-114 — skip existing, count added
    graph = _triples(spark, [("s1", "p", "o", 1.0, None, {}, 0, 0)])
    batch = _triples(
        spark,
        [
            ("s1", "p", "o", 0.2, "new", {}, 1, 0),  # exists → skipped
            ("s2", "p", "o", 1.0, "new", {}, 1, 1),  # new
            ("s2", "p", "o", 0.9, "new", {}, 1, 2),  # dup within batch
        ],
    )
    new_rows, updated = insert_new_triples(graph, batch)
    assert new_rows.count() == 1
    assert updated.count() == 2
    row = new_rows.first()
    assert row.subject == "s2" and row.confidence == 1.0  # first in batch won


def test_insert_into_empty(spark):
    batch = _triples(spark, [("a", "b", "c", 1.0, None, {}, 0, 0)])
    new_rows, updated = insert_new_triples(None, batch)
    assert new_rows.count() == 1 and updated.count() == 1


def test_first_occurrence_dedup_native_order_types(spark):
    """The ordinal columns may be string/timestamp — native-type struct
    ordering, not a lossy cast-to-long (ADVICE r2); nulls still lose."""
    from datetime import datetime

    from rdf_knowledge_extractor_spark.operators.dedup import (
        first_occurrence_dedup,
    )

    df = spark.createDataFrame(
        [
            ("s", "p", "o", "b-file", datetime(2024, 1, 2), "late"),
            ("s", "p", "o", "a-file", datetime(2024, 1, 1), "early"),
            ("s", "p", "o", None, None, "nullish"),
            ("s2", "p", "o", None, None, "only-null"),
        ],
        "subject string, predicate string, object string, "
        "doc_seq string, triple_seq timestamp, tag string",
    )
    out = {
        r.subject: r.tag
        for r in first_occurrence_dedup(df).collect()
    }
    assert out == {"s": "early", "s2": "only-null"}
