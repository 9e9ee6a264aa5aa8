"""Knowledge-graph JSON store reader/writer.

The reference persists its entire store as one pretty-printed JSON
array of triple structs (ref:src/knowledge_graph/mod.rs:47-66 load,
:82-89 save).  Reader: a driver-side `json.load`, which keeps the
array order (the reference rewrites the whole file per insert, so
files are small).  The row order in the file is the store's insertion order — we
materialize it as `doc_seq=-1, triple_seq=<file position>` so loaded
store rows sort strictly BEFORE any new extraction batch (whose docs
start at doc_seq=0).  The reference appends new triples after existing
store content (Vec push, ref:src/knowledge_graph/mod.rs:91-114);
without the -1 sentinel, a re-saved store would interleave old and new
rows under orderBy(doc_seq, triple_seq) nondeterministically.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame


def read_kg_json(spark, path: str) -> DataFrame:
    """Load a reference-format store file, preserving insertion order."""
    # driver-side json.load keeps array order; files are small by the
    # reference's own admission (whole store rewritten per insert).
    with open(path, encoding="utf-8") as f:
        items = json.load(f)
    rows = [
        (
            t.get("subject", ""),
            t.get("predicate", ""),
            t.get("object", ""),
            float(t.get("confidence", 1.0)),
            t.get("source"),
            dict(t.get("metadata") or {}),
            -1,  # store rows precede any new batch (append-order parity)
            i,
        )
        for i, t in enumerate(items)
    ]
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def write_kg_json(df: DataFrame, path: str) -> None:
    """Byte-compatible store save (pretty JSON array, serde field order/
    shape: source omitted when null — ref:src/core/extractor.rs:20-21)."""
    from rdf_knowledge_extractor_spark.sinks.serialization import serialize_json

    with open(path, "w", encoding="utf-8") as f:
        f.write(serialize_json(df))
