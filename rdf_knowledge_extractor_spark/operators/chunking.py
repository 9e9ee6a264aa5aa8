"""Document chunking: explode long documents into overlapping
fixed-token windows.

Embedding/RAG pipelines index chunks, not documents; chunking is the
fan-out step between curation and embedding.  Sibling of the
decontam/packing beyond-reference operators (the reference engine
scopes itself to small KGs — /root/reference/README.md).

Pure Catalyst: tokenize once, then `explode(transform(sequence(...)))`
builds every window JVM-side inside whole-stage codegen — a
zero-shuffle map over the scan at any scale, with the document→chunk
fan-out (× ~n_tokens/stride) handled by Spark's Generate operator,
never a Python loop.

Window semantics (deliberately the simplest SQL-expressible rule, so
the DuckDB oracle is exact): chunk i starts at token i*CHUNK_STRIDE
(0-based) for every i*CHUNK_STRIDE < n_tokens and spans up to
CHUNK_TOKENS tokens, so consecutive chunks overlap by half and every
token is covered.  The final chunk may be shorter than CHUNK_TOKENS; a
document with fewer tokens yields exactly one chunk; an
empty/whitespace document yields none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CHUNK_TOKENS = 32
CHUNK_STRIDE = 16


def chunk_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """DataFrame(<id_col>, chunk_idx, n_tokens, chunk_text) — sliding
    whitespace-token windows (see module docstring for the window
    rule)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # trim("") splits to [""] — normalize to a true empty array so an
    # empty document yields zero chunks, not one empty chunk
    toks = F.when(F.length(F.trim(F.col(text_col))) == 0,
                  F.array().cast("array<string>")).otherwise(toks)
    n = F.size(toks)
    # chunk starts: 0, CHUNK_STRIDE, ... while start < n_tokens.  sequence's
    # upper bound must not go below the lower bound (it would DESCEND),
    # hence the greatest(...) floor and the outer empty-doc guard.
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil(n / CHUNK_STRIDE).cast("long") - F.lit(1), F.lit(0)),
    )
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.slice(toks, i * CHUNK_STRIDE + F.lit(1), CHUNK_TOKENS).alias("_w"),
        ),
    )
    return (
        docs.select(
            F.col(id_col),
            F.explode(
                F.when(n > 0, chunks).otherwise(
                    F.array().cast(
                        "array<struct<chunk_idx:bigint,_w:array<string>>>"
                    )
                )
            ).alias("_c"),
        )
        .select(
            id_col,
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.size("_c._w").cast("long").alias("n_tokens"),
            F.array_join("_c._w", " ").alias("chunk_text"),
        )
    )
