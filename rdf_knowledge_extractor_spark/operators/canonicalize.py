"""Canonicalization: remap triple subjects/objects to canonical ids.

Applies the entity-linking mapping (operators/linking.py) to the
triple table: subjects always, objects only when URI-shaped (literal
objects are never entity references).  Missing mapping rows fall back
to the original term, so the remap is total.

Scale: two equi-joins on the mapping.  At or below
`dispatch.DRIVER_MAX_EDGES` entities the mapping is a local relation, a
leaf the planner broadcasts with no linking join to re-plan; above it,
distinct entities ≪ triples, so AQE picks broadcast when it fits.
After the remap, coreferent duplicates are collapsed with
first-occurrence dedup (same semantics as the merge path).  The output
keeps the input's column order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.dedup import first_occurrence_dedup


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """mapping: DataFrame(uri, canonical)."""
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
        # the joins moved `object` and `subject` to the front
        .select(*triples.columns)
    )
    return first_occurrence_dedup(out)
