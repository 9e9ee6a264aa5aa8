"""Skew handling: the hot-key probe and the hot-head-entity smoke for
the linking stage (SURVEY §5.6)."""

from __future__ import annotations

from rdf_knowledge_extractor_spark.operators.skew import has_hot_key


def test_has_hot_key_bounds(spark):
    """Hot = one key meets both lower bounds (share of rows, row count);
    each bound is checked at its edge, and no rows means no hot key."""
    rows = [("hot",)] * 5000 + [(f"k{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "k string")
    assert has_hot_key(df, "k", threshold_ratio=0.5, min_count=100)
    assert has_hot_key(df, "k", threshold_ratio=0.5, min_count=5000)
    assert not has_hot_key(df, "k", threshold_ratio=0.5, min_count=5001)
    assert has_hot_key(df, "k", threshold_ratio=5000 / 5100, min_count=1)
    assert not has_hot_key(df, "k", threshold_ratio=0.99, min_count=1)
    assert not has_hot_key(df.limit(0), "k", threshold_ratio=0.5, min_count=1)


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
