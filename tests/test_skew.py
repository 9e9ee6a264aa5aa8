"""Skew handling: hot-key detection and the hot-head-entity smoke for
the linking stage (SURVEY §5.6)."""

from __future__ import annotations

from rdf_knowledge_extractor_spark.operators.skew import detect_hot_keys


def test_detect_hot_keys(spark):
    rows = [("hot",)] * 5000 + [(f"k{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "k string")
    hot = detect_hot_keys(df, "k", threshold_ratio=0.5, min_count=100)
    assert [(r.k, r.n) for r in hot.collect()] == [("hot", 5000)]


def test_linking_with_hot_head_entity(spark, example_config):
    """Hot head entity: one company referenced by thousands of triples.
    The linking stage must complete and produce the same mapping as the
    cold-key case (prefix bucket caps + AQE; the result must stay
    exact)."""
    from rdf_knowledge_extractor_spark.operators.linking import link_entities

    BASE = "http://business.example.org/resource/"
    NS = "http://business.example.org/ontology#"
    rows = []
    # hot head: 5000 triples pointing at the same company (plus alias)
    for i in range(5000):
        rows.append(
            (BASE + f"Person{i}", NS + "worksFor", BASE + "MegacorpInc", 1.0, f"d{i}", {}, i, 0)
        )
    rows.append((BASE + "Megacorp", NS + "locatedIn", "Austin", 1.0, "dx", {}, 9999, 0))
    rows.append((BASE + "MegacorpInc", NS + "hasName", "Megacorp Inc.", 1.0, "dy", {}, 9998, 0))
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    triples = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    mapping = link_entities(triples)
    m = {r.uri: r.canonical for r in mapping.collect()}
    # alias merged despite the hot key; persons untouched
    assert m[BASE + "MegacorpInc"] == m[BASE + "Megacorp"]
    assert m[BASE + "Person17"] == BASE + "Person17"
    # mapping is total over the universe
    assert len(m) == 5002
