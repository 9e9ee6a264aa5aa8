"""Cross-document duplicate n-gram span detection.

The span-level complement to whole-document near-dedup (Lee et al.,
"Deduplicating Training Data Makes Language Models Better"): slide a
k-token window over every document, find windows whose gram occurs in
two or more DISTINCT documents, and report each document's share of
such shared spans.  High shared_frac flags boilerplate, mirrored
articles, and licence blocks that whole-doc MinHash misses because
the surrounding text differs.  Beyond-reference family (the reference
engine scopes itself to small KGs — /root/reference/README.md).

The window is `WINDOW_TOKENS` (8) tokens wide.

Scale shape (everything Catalyst, no Python):

- window grams are built JVM-side from the token array
  (`transform(sequence(…), s -> array_join(slice(a, s, k)))`) and
  exploded — fan-out is O(tokens) rows, stride 1, zero shuffle;
- gram → distinct-document count is ONE hash aggregate
  (`count_distinct(doc)` partials combine map-side);
- the join back to window positions reuses the aggregate's hash
  partitioning on its side; a hot gram (a boilerplate sentence
  repeated across millions of pages) skews only the probe side,
  which AQE skew-join splits — and the per-doc result aggregate
  re-shuffles by doc id, dissolving the hot gram's partition;
- grams travel as the window text, which is what the DuckDB oracle
  compares against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WINDOW_TOKENS = 8


def doc_window_grams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, gram) — one row per `WINDOW_TOKENS`-token window
    position (stride 1), the gram being the window's tokens joined by
    one space.  Docs with fewer tokens contribute no rows."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.when(
        F.size(toks) >= WINDOW_TOKENS,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(WINDOW_TOKENS - 1)),
            lambda s: F.array_join(F.slice(toks, s, WINDOW_TOKENS), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
    )


def duplicate_span_report(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, n_windows, n_shared, shared_frac) — per document: the
    number of `WINDOW_TOKENS`-token window positions, how many of them
    carry a gram that also appears in at least one OTHER document, and
    the shared fraction (4 dp).  Every input document keeps a row;
    shorter docs report (0, 0, 0.0)."""
    wins = doc_window_grams(docs, id_col=id_col, text_col=text_col)
    gram_docs = wins.groupBy("gram").agg(
        F.count_distinct(id_col).alias("_ndocs")
    )
    per_doc = (
        wins.join(gram_docs, on="gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_nw"),
            F.sum(
                F.when(F.col("_ndocs") >= 2, 1).otherwise(0)
            ).alias("_ns"),
        )
    )
    return (
        docs.select(id_col).distinct()
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("_nw"), F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce(F.col("_ns"), F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.coalesce(F.col("_ns") / F.col("_nw"), F.lit(0.0)), 4
            ).alias("shared_frac"),
        )
    )
