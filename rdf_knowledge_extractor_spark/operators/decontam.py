"""Benchmark decontamination: drop training documents that share a
word n-gram with a benchmark/eval set.

Standard LLM training-data hygiene (the reference engine has no
corpus-scale analytics — /root/reference/README.md scopes it to small
KGs — so this family extends the engine for the 100-TB pipeline the
way operators/curation.py does): a document is *contaminated* when any
of its word `NGRAM_N`-grams also occurs in the benchmark corpus.
`NGRAM_N` is 3, which gives the synthetic word-soup corpora non-trivial
overlap; the common published choice for real text is 13.

Spark-first shape, sized for 100 TB of documents vs a benchmark of at
most a few hundred MB:

- the benchmark's distinct n-grams are BROADCAST — eval sets are
  MB-scale, so the join against the document side is map-side only
  (no shuffle of the 100-TB side);
- the per-document match report aggregates ONLY the matching rows
  (post-join), so the single shuffle carries contaminated grams, not
  the corpus;
- the clean-side anti join is on the (typically tiny) contaminated-id
  set; AQE picks broadcast when it fits.

Tokenization is lowercase alphanumeric-run words — punctuation and
case differences between the training copy and the benchmark copy of
the same passage do not hide contamination.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

NGRAM_N = 3


def words(text: Column) -> Column:
    """array<string> of lowercase alphanumeric-run tokens."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"),
        lambda x: x != "",
    )


def word_ngrams(text: Column) -> Column:
    """array<string> of space-joined word n-grams of `text`, n = `NGRAM_N`.

    Texts with fewer than n words produce an EMPTY array — the guard
    matters because `sequence(1, size-n+1)` on a short text would have
    stop < start, and Spark's sequence then DESCENDS instead of being
    empty (same trap as operators/textdedup._pair_combos).
    """
    t = words(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(NGRAM_N - 1)),
        lambda i: F.array_join(F.slice(t, i, NGRAM_N), " "),
    )
    return F.when(F.size(t) >= NGRAM_N, grams).otherwise(
        F.array().cast("array<string>")
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """DataFrame(<id_col>, n_matched) — one row per contaminated doc,
    n_matched = how many DISTINCT of its `NGRAM_N`-grams occur in the
    benchmark.  Docs sharing nothing with the benchmark are absent."""
    bench_grams = (
        benchmark.select(
            F.explode(word_ngrams(F.col(bench_text_col))).alias("_g")
        )
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col))).alias("_g"),
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), on="_g", how="inner")
        .groupBy(id_col)
        .agg(F.count_distinct("_g").alias("n_matched"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(clean_docs, report) — clean_docs is `docs` minus every document
    sharing at least one word n-gram with `benchmark`; report is
    contamination_report's per-doc match counts."""
    report = contamination_report(
        docs, benchmark,
        id_col=id_col, text_col=text_col, bench_text_col=bench_text_col,
    )
    clean = docs.join(report.select(id_col), on=id_col, how="left_anti")
    return clean, report
