"""Corpus-curation operators for training-data pipelines.

The selection half of a web-scale data pipeline (the dedup half lives
in operators/textdedup.py): deterministic sampling, per-source quota
capping, a composite quality gate, and vocabulary extraction.  Every
operator is pure Catalyst (whole-stage codegen, no Python) and has an
exact ANSI-SQL equivalent used as its DuckDB oracle in
`__spark_entry__.py`.

Scale notes (100 TB):

- `deterministic_sample` is a stateless per-row predicate — narrow,
  no shuffle, evaluated at scan speed, and reproducible across
  engines/runs (the selection is a pure function of the id).
- `quota_per_group` uses the rank≤k window idiom, which Spark compiles
  to `WindowGroupLimit` (partial top-k BEFORE the shuffle since 3.5):
  a hot source never ships more than k rows per map task, so the
  classic crawl-frequency skew (one domain = 10% of the crawl) is
  bounded at the map side, not salted after the fact.
- `dedup_keep_first` is the same idiom partitioned by content
  fingerprint (rank≤1 ⇒ map-side single-survivor per partition).
- `top_terms`' groupBy(term) benefits from map-side partial
  aggregation; the final global top-k is a TakeOrderedAndProject
  (no full sort of the term table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.functions.text_analysis import (
    detect_language,
    quality_metrics,
)

# the quality-score quantiles `quality_percentiles` reports
QUALITY_QUANTILES = (0.5, 0.9, 0.99)
# docs kept per group by `quota_per_group` and `weighted_sample_per_group`
QUOTA_K = 5
WEIGHTED_SAMPLE_K = 20
# `top_terms`' vocabulary size and its minimum count
TOP_TERMS_K = 100
TOP_TERMS_MIN_COUNT = 2


def _hash_hex8(col: Column) -> Column:
    """First 8 lowercase hex chars of md5 — an engine-portable uniform
    32-bit priority (DuckDB's md5 produces the identical string, so
    oracle selections match byte-for-byte)."""
    return F.substring(F.md5(col.cast("string")), 1, 8)


def sample_threshold_hex(rate: float) -> str:
    """Lexicographic hex threshold for `deterministic_sample`:
    keep iff hash_hex8(id) < format(floor(rate·2³²), '08x').
    Clamped to 8 hex chars — a 9-char '100000000' (rate ≥ 1) would
    break the fixed-width lexicographic-compare invariant ('f' > '1')."""
    return format(min(max(int(rate * (1 << 32)), 0), (1 << 32) - 1), "08x")


def deterministic_sample(
    docs: DataFrame, rate: float, id_col: str = "doc_id"
) -> DataFrame:
    """Reproducible Bernoulli sample: keep iff the md5-derived 32-bit
    priority of the id falls below rate·2³².  Lexicographic compare of
    fixed-width lowercase hex == numeric compare, so the predicate is
    portable to any engine with md5()."""
    if rate >= 1.0:
        return docs
    return docs.filter(
        _hash_hex8(F.col(id_col)) < F.lit(sample_threshold_hex(rate))
    )


def quota_per_group(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """At most `QUOTA_K` docs per group, chosen by uniform deterministic
    priority (md5 of the id; ties broken by id).  rank≤k compiles to
    WindowGroupLimit — map-side partial top-k, see module notes."""
    w = Window.partitionBy(group_col).orderBy(
        _hash_hex8(F.col(id_col)), F.col(id_col)
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= QUOTA_K)
        .drop("_rn")
    )


def dedup_keep_first(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-content dedup keeping the smallest id per fingerprint
    (rank≤1 over md5(text) ⇒ map-side single survivor per group)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def curate_corpus(
    docs: DataFrame,
    lang: str = "en",
    min_words: int = 10,
    min_quality: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Composite training-data gate: exact dedup (keep-first) →
    predicted-language filter → length / digit-ratio (≤ 0.3) /
    quality-score thresholds.  Returns (id, lang_pred, n_words,
    quality_score) — the manifest a downstream tokenizer job would
    consume.

    Plan shape (audited — two prior versions were scale traps):
    - metrics + gate run SCAN-SIDE, before the dedup shuffle: they are
      pure functions of the text, so identical texts gate identically
      and the keep-first survivor per text group is unchanged — while
      the expensive scoring keeps full scan parallelism (dedup-first
      put it AFTER the exchange, where AQE size-based coalescing
      legitimately merged the small post-shuffle output into ONE
      partition and serialized all scoring through a single task) and
      the shuffle moves only gate survivors.
    - the metric columns pass through `explode(array(struct(…)))` — a
      Generate node — before the filter: predicate pushdown cannot
      cross a generator, so each metric expression is evaluated ONCE
      instead of being re-inlined into the pushed-down predicate
      (measured 15× on 7 KB documents)."""
    scored = quality_metrics(docs, text_col=text_col).withColumn(
        "lang_pred", detect_language(F.col(text_col))
    )
    metric_cols = ("lang_pred", "n_words", "digit_ratio", "quality_score")
    packed = scored.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(
            F.array(F.struct(*[F.col(c).alias(c) for c in metric_cols]))
        ).alias("_m"),
    )
    gated = packed.filter(
        (F.col("_m.lang_pred") == lang)
        & (F.col("_m.n_words") >= min_words)
        & (F.col("_m.digit_ratio") <= 0.3)
        & (F.col("_m.quality_score") >= min_quality)
    )
    return dedup_keep_first(gated, text_col=text_col, id_col=id_col).select(
        id_col,
        F.col("_m.lang_pred").alias("lang_pred"),
        F.col("_m.n_words").alias("n_words"),
        F.col("_m.quality_score").alias("quality_score"),
    )


def top_terms(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Global top-`TOP_TERMS_K` vocabulary of the terms seen at least
    `TOP_TERMS_MIN_COUNT` times: (term, cnt), count desc / term asc.

    explode(split) → hash-agg with map-side partial combine → global
    top-k via orderBy+limit (TakeOrderedAndProject, never a full
    sort of the vocabulary)."""
    terms = docs.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term")
    ).filter(F.length("term") > 0)
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= TOP_TERMS_MIN_COUNT)
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(TOP_TERMS_K)
    )


def rollup_report(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    count_alias: str = "n_docs",
    sum_col: str = "n_chars",
    sum_alias: str = "sum_chars",
) -> DataFrame:
    """ROLLUP report over `group_cols` with subtotal rows labelled 'ALL'
    via `grouping()` — a data-NULL group value stays NULL in detail rows
    and is NEVER conflated with the rollup-total line (a
    `coalesce(col, 'ALL')` would silently merge dirty-data NULLs into
    the subtotal at scale).

    One shuffle: Catalyst expands the grouping sets in a single
    hash-aggregate pass with map-side partial aggregation.
    """
    gflags = [F.grouping(c).alias(f"_g_{c}") for c in group_cols]
    agged = docs.rollup(*group_cols).agg(
        F.count(F.lit(1)).alias(count_alias),
        F.sum(sum_col).alias(sum_alias),
        *gflags,
    )
    labelled = [
        F.when(F.col(f"_g_{c}") == 1, F.lit("ALL"))
        .otherwise(F.col(c))
        .alias(c)
        for c in group_cols
    ]
    return agged.select(*labelled, count_alias, sum_alias)


def quality_percentiles(docs: DataFrame) -> DataFrame:
    """Per-predicted-language quality-score distribution
    (n_docs + one column per `QUALITY_QUANTILES` entry, named
    p50/p90/p99), rounded to 4 dp.

    Aggregates with `percentile` (linear interpolation), which
    hash-matches the DuckDB `quantile_cont` oracle; it buffers each
    language group's scores.
    """
    scored = quality_metrics(docs).withColumn(
        "lang_pred", detect_language(F.col("text"))
    )

    return scored.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.percentile("quality_score", F.lit(q)), 4).alias(
                f"p{round(q * 100)}"
            )
            for q in QUALITY_QUANTILES
        ],
    )


def repetition_metrics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document:

    - ``n_lines``            non-empty line count
    - ``dup_line_frac``      fraction of non-empty lines that repeat an
                             earlier line (1 - distinct/total)
    - ``dup_line_char_frac`` fraction of line characters living in
                             repeated occurrences (Σ (cnt-1)·len / Σ cnt·len)
    - ``bullet_line_frac``   lines starting with a bullet marker
    - ``ellipsis_line_frac`` lines ending in '...' or '…'

    Shape: posexplode lines → one (id, line)-keyed partial-agg shuffle →
    one id-keyed agg. Both aggregations get map-side combine; no UDFs,
    no windows — the plan survives 100× scale-up with cost O(lines).
    Empty/whitespace-only lines are dropped first (boilerplate markers
    measure CONTENT lines).
    """
    lines = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
    ).where(F.trim(F.col("_line")) != "")
    per_line = lines.groupBy(id_col, "_line").agg(F.count(F.lit(1)).alias("_cnt"))
    bullet = F.col("_line").rlike(r"^\s*([-*•‣◦]|\d+[.)])\s")
    ellipsis = F.col("_line").rlike(r"(\.\.\.|…)\s*$")
    return (
        per_line.groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_lines"),
            F.round(
                (F.sum("_cnt") - F.count(F.lit(1))) / F.sum("_cnt"), 4
            ).alias("dup_line_frac"),
            F.round(
                F.sum((F.col("_cnt") - 1) * F.length("_line"))
                / F.sum(F.col("_cnt") * F.length("_line")),
                4,
            ).alias("dup_line_char_frac"),
            F.round(
                F.sum(F.when(bullet, F.col("_cnt")).otherwise(0)) / F.sum("_cnt"), 4
            ).alias("bullet_line_frac"),
            F.round(
                F.sum(F.when(ellipsis, F.col("_cnt")).otherwise(0)) / F.sum("_cnt"), 4
            ).alias("ellipsis_line_frac"),
        )
        .select(
            id_col, "n_lines", "dup_line_frac", "dup_line_char_frac",
            "bullet_line_frac", "ellipsis_line_frac",
        )
    )


def weighted_sample_per_group(
    docs: DataFrame,
    weight_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """At most `WEIGHTED_SAMPLE_K` docs per group, sampled WITHOUT replacement with
    probability proportional to `weight_col` (Efraimidis–Spirakis
    A-ES: priority = u^(1/w) with u the md5-derived uniform in (0,1];
    the k largest priorities per group are exactly a weighted
    reservoir sample).  Quality-weighted subsampling for corpus
    curation — keep the best-scored docs per source with a controlled
    amount of exploration instead of a hard top-k cutoff.

    Deterministic and engine-portable: u = (md5_32(id)+1)/2^32, so
    the oracle reproduces selections exactly; rank≤k compiles to
    WindowGroupLimit (map-side partial top-k, nothing but the k
    survivors per group crosses the shuffle).  Rows with weight <= 0
    or NULL are excluded (they'd have priority 0).  The A-ES key is
    computed per row at scan speed — no extra shuffle versus
    `quota_per_group`.
    """
    u = (
        F.conv(_hash_hex8(F.col(id_col)), 16, 10).cast("double") + 1.0
    ) / F.lit(4294967296.0)
    key = F.pow(u, 1.0 / F.col(weight_col))
    w = Window.partitionBy(group_col).orderBy(
        F.col("_aes").desc(), F.col(id_col)
    )
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("_aes", F.round(key, 12))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= WEIGHTED_SAMPLE_K)
        .drop("_rn", "_aes")
    )
