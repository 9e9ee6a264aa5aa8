"""Sequence packing: assign documents to fixed-token-budget training
bins.

LLM pre-training consumes fixed-length sequences; packing many short
documents per sequence instead of padding each one is a standard
throughput lever.  Corpus-scale packing joins the curation/decontam
family of beyond-reference operators (the reference engine scopes
itself to small KGs — /root/reference/README.md).

`pack_sequences_binned` is deterministic and shard-parallel (a GLOBAL
greedy pack would be a single sequential pass — a one-partition window
that cannot scale; real pipelines pack per shard/worker, which is
exactly Spark's partition model) and pure Catalyst: within each shard
(doc_id % n_shards), order by doc_id, take the exclusive running token
count, and cut bins at multiples of `max_tokens` (bin =
floor(cumsum_exclusive / max_tokens)).  One window over the shard
partitioning = ONE shuffle at any scale.  Bins can overshoot by at most
(longest doc - 1) tokens — the documented bounded-overflow trade for
staying whole-stage-codegen; exactly SQL-expressible, so it carries
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from rdf_knowledge_extractor_spark.functions.text_analysis import word_count


def pack_sequences_binned(
    docs: DataFrame,
    max_tokens: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DataFrame(<id_col>, shard, bin, n_tokens) — bounded-overflow
    packing: bin = floor(exclusive-cumsum / max_tokens) within the
    shard's doc_id order."""
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    t = docs.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        word_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.select(
        id_col,
        "shard",
        F.floor(cum_excl / max_tokens).cast("long").alias("bin"),
        "n_tokens",
    )
