"""Distributed byte-pair-encoding tokenizer: corpus training + encode.

BPE is the canonical LLM training-data tokenizer (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units";
the GPT-2 variant).  Beyond-reference family — the reference engine
has no tokenizer (/root/reference/README.md).

Training scale shape — the corpus is touched ONCE:

- the corpus collapses to a (word, count) frequency table first (one
  explode + one hash-agg shuffle); every merge iteration then runs on
  that vocabulary-sized frame, never on raw text;
- each iteration: explode adjacent symbol pairs (weighted by word
  count) → one map-side-combined hash aggregate → a 1-row argmax
  `collect` (a legitimate driver-side scalar, same as the
  connected-components convergence check) → a pure-Catalyst fold
  rewrites each word's symbol array (leftmost non-overlapping merge,
  exactly the textbook rule);
- `localCheckpoint(eager)` per iteration truncates the growing fold
  lineage — the same bounded-round pattern as components.py and
  pagerank.py.

Determinism: argmax ties break on (pair_count desc, left asc,
right asc), so training is reproducible across partitionings — the
pytest differential retrains with an independent pure-Python
implementation and asserts identical merge tables.

Encoding applies a TRAINED merge list (the model artifact — tiny, a
closure broadcast) with the standard min-rank loop per word.  Merge
application is inherently sequential per word, so this is the
documented Arrow-batched Pandas-UDF slow path, with an LRU word cache
exploiting the Zipfian word distribution (most batch tokens hit the
cache, not the loop).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, syms) — whitespace words, counts, char-split
    symbol arrays.  The only corpus-sized pass in training."""
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # split between every char; drop the trailing empty string the
        # end-of-string split position produces
        .withColumn(
            "syms",
            F.filter(
                F.split(F.col("word"), "(?!^)"), lambda s: s != ""
            ),
        )
    )


def _merge_in_array(syms, left: str, right: str):
    """Fold that rewrites one merge over a symbol array: leftmost,
    non-overlapping (after a merge the new tail symbol is the fused
    token, so it can never immediately re-match `left`)."""
    fused = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(fused))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Train `n_merges` BPE merges on the corpus; returns the ordered
    merge table [(left, right, pair_count), …] — the model artifact.
    Stops early when no pair occurs at least twice."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = _word_counts(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            words.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.element_at("syms", i + 1).alias("l"),
                            F.element_at("syms", i + 2).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        left, right, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((left, right, n))
        words = words.withColumn(
            "syms", _merge_in_array(F.col("syms"), left, right)
        ).localCheckpoint(eager=True)
    return merges


def bpe_merges_df(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> DataFrame:
    """(rank, left, right, merged, pair_count) — the trained merge
    table as a DataFrame (driver-contract surface for the trainer;
    iterative training is not SQL-expressible, so correctness is
    carried by the independent-Python differential test)."""
    merges = train_bpe(docs, n_merges, text_col=text_col)
    return docs.sparkSession.createDataFrame(
        [
            (i + 1, l, r, l + r, n)
            for i, (l, r, n) in enumerate(merges)
        ],
        "rank INT, left STRING, right STRING, merged STRING, pair_count LONG",
    )


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode loop: repeatedly fuse the lowest-rank
    adjacent pair (leftmost-first within a rank tie)."""
    syms = list(word)
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        # fuse ALL occurrences of that pair, leftmost non-overlapping
        left, right = syms[best], syms[best + 1]
        out, i = [], 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] == left
                and syms[i + 1] == right
            ):
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, tokens, n_tokens) — encode each document with a
    trained merge table.  Per-word merge application is sequential by
    nature, so this is the documented Pandas-UDF path: Arrow batches,
    a per-executor word→tokens cache (Zipf makes the hit rate high),
    and only (id, tokens) crossing back."""
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}
    schema = StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType),
            StructField("tokens", ArrayType(StringType())),
            StructField("n_tokens", IntegerType()),
        ]
    )

    def _encode(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks_col, n_col = [], []
            for text in pdf[text_col]:
                toks: list[str] = []
                for w in (text or "").lower().split():
                    hit = cache.get(w)
                    if hit is None:
                        if len(cache) > 200_000:
                            cache.clear()
                        hit = cache[w] = _encode_word(w, ranks)
                    toks.extend(hit)
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "tokens": toks_col,
                    "n_tokens": n_col,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(_encode, schema)
