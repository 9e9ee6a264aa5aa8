"""Triple deduplication operators.

The reference has two dedup paths, both O(n²)/O(n·m) in-memory scans:

- merge-path first-occurrence dedup (ref:src/core/extractor.rs:327-343):
  keep the FIRST occurrence of each (s,p,o); the first row's
  confidence/source/metadata win.  DataFrames are unordered, so "first"
  is materialized via explicit `(doc_seq, triple_seq)` ordinals and a
  `min_by` aggregate — a single hash-partitioned shuffle on the key,
  scale-safe (no O(n²)).

- store insert-if-absent (ref:src/knowledge_graph/mod.rs:91-114):
  `add_triples` skips (s,p,o) already present and reports how many rows
  were added.  Expressed as a left ANTI join against the existing graph
  (shuffle-hash/SMJ picked by AQE; at Iceberg scale this is
  `MERGE INTO … WHEN NOT MATCHED THEN INSERT`).  The TRANSACTIONAL
  commit of that insert — write-new-files + atomic manifest swap,
  idempotent per batch — lives in `plans/store.py` (TripleStore);
  this module is the pure compute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_KEY = ("subject", "predicate", "object")
# the ordinal that decides which occurrence is first
ORDER_COLS = ("doc_seq", "triple_seq")


def q(name: str) -> str:
    """`name` quoted as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def first_occurrence_dedup(df: DataFrame) -> DataFrame:
    """Keep the first occurrence per (s, p, o) (first row's payload wins).

    Equivalent semantics to ref:src/core/extractor.rs:327-343,
    expressed as `min_by(payload, ordinal)` aggregation rather than a
    window: the hash aggregate gets a MAP-SIDE PARTIAL COMBINE, so only
    one pre-combined row per (key, input-partition) crosses the
    shuffle — a window would shuffle EVERY duplicate row and sort each
    group.  At web scale (many near-identical extractions per key) the
    shuffled volume drops from O(rows) to O(distinct keys × partitions).
    Determinism: `ORDER_COLS` form a unique ordinal per row
    (`dropDuplicates` would be nondeterministic about the survivor).
    """
    payload = [c for c in df.columns if c not in TRIPLE_KEY]
    # Order on the NATIVE column types (string/timestamp/numeric all
    # compare correctly inside the struct); a leading is-null flag per
    # ordinal column gives nulls-last parity with the previous window
    # form — null ordinals (error-sentinel rows) never win over real
    # ones, without a lossy cast-to-long (ADVICE r2).  SQL text, not
    # Column calls: each F.* call is several py4j round trips, so the
    # plan builds in three calls (45 → 13 ms per call on the crawl batch).
    ordinal = ", ".join(
        f"'_isnull_{c}', cast(isnull({q(c)}) AS int), '{c}', {q(c)}" for c in ORDER_COLS
    )
    payload_struct = ", ".join(q(c) for c in payload)
    first = f"min_by(struct({payload_struct}), named_struct({ordinal})) AS _first"
    return (
        df.groupBy(*TRIPLE_KEY)
        .agg(F.expr(first))
        # restore original column order
        .selectExpr(*[c if c in TRIPLE_KEY else f"_first.{q(c)}" for c in df.columns])
    )


def insert_new_triples(
    graph_df: DataFrame | None,
    batch_df: DataFrame,
    dedup_batch: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(new_rows, updated_graph) — store-style insert-if-absent.

    Parity with ref:src/knowledge_graph/mod.rs:91-114: rows whose
    (s,p,o) already exist in the graph are skipped; the batch is also
    self-deduplicated (the reference's sequential loop implies it).
    `new_rows.count()` is the reference's returned added-count.
    """
    batch = first_occurrence_dedup(batch_df) if dedup_batch else batch_df
    if graph_df is None:
        return batch, batch
    new_rows = batch.join(
        graph_df.select(*TRIPLE_KEY), on=list(TRIPLE_KEY), how="left_anti"
    )
    updated = graph_df.unionByName(new_rows, allowMissingColumns=True)
    return new_rows, updated


def merge_results(per_doc_triples: DataFrame, deduplicate: bool = True) -> DataFrame:
    """Merge-path (`--merge`) union + dedup
    (ref:src/core/extractor.rs:210-244).  Inputs are already one
    DataFrame in this engine; the merge is the global first-occurrence
    dedup across documents ordered by (doc_seq, triple_seq)."""
    if deduplicate:
        return first_occurrence_dedup(per_doc_triples)
    return per_doc_triples
