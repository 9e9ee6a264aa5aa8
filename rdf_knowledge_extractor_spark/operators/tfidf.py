"""TF-IDF keyword extraction: top-k characteristic terms per document.

The classic corpus-relative term weighting (tf · ln(N/df)) — used for
keyword tagging, near-dup explanation, and cheap topic features in
training-data pipelines.  Beyond-reference family (the reference
engine scopes itself to small KGs — /root/reference/README.md).

Scale shape:

- term frequencies: one hash aggregate over the exploded terms
  (map-side partial combine);
- document frequencies: a second hash aggregate over the DISTINCT
  (doc, term) pairs — derived from the tf table, so the corpus is
  tokenized exactly once;
- the corpus size N is a 1-row aggregate crossJoined in (broadcast
  nested loop over one row — no driver-side .count() action, the
  whole thing stays one lazy plan);
- top-k per doc is the rank≤k window idiom, which Spark compiles to
  WindowGroupLimit (map-side partial top-k before the shuffle —
  `quota_per_group`'s audited pattern).

The score is rounded to 4 dp and ordering uses the ROUNDED value with
a term tie-break, so ranks are reproducible in any engine with ln()
(1-ulp libm differences cannot reorder results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

TOP_K = 5


def tfidf_top_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """DataFrame(<id_col>, term, tf, df, tfidf, rank) — per document,
    the `TOP_K` highest-tf·ln(N/df) terms (rank 1 = most characteristic;
    ties broken by term asc).  Terms are whitespace tokens, exactly
    `curation.top_terms`' tokenization."""
    terms = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.count_distinct(F.col(id_col)).alias("_n")
    )
    scored = (
        tf.join(df_tbl, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )
