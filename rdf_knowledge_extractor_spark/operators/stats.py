"""Graph statistics & entity accessors.

Parity targets:
- stats (ref:src/knowledge_graph/mod.rs:234-253): total + distinct
  subjects/predicates/objects.  Exact count-distinct: Catalyst plans the
  three distincts as one Expand + two-level aggregate over one scan.
- get_entities_by_type (ref:src/knowledge_graph/mod.rs:168-185):
  predicate CONTAINS 'type' (substring, faithfully loose) and object ==
  namespace-qualified type URI.
- get_entity_properties (ref:src/knowledge_graph/mod.rs:187-199):
  subject's predicate → list(objects).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def graph_statistics(graph: DataFrame) -> DataFrame:
    return graph.agg(
        F.count(F.lit(1)).alias("total_triples"),
        F.countDistinct("subject").alias("unique_subjects"),
        F.countDistinct("predicate").alias("unique_predicates"),
        F.countDistinct("object").alias("unique_objects"),
    )


def get_entities_by_type(graph: DataFrame, entity_type: str, namespace: str) -> DataFrame:
    type_uri = entity_type if entity_type.startswith("http") else namespace + entity_type
    return (
        graph.filter(F.col("predicate").contains("type") & (F.col("object") == type_uri))
        .select(F.col("subject").alias("entity"))
    )


def get_entity_properties(graph: DataFrame, entity_uri: str) -> DataFrame:
    """DataFrame(predicate, objects array<string>) for one subject.

    The subject filter prunes partitions/row-groups when the graph
    table is laid out by subject bucket (see plans/pipeline.py).
    """
    return (
        graph.filter(F.col("subject") == entity_uri)
        .groupBy("predicate")
        .agg(F.collect_list("object").alias("objects"))
    )
