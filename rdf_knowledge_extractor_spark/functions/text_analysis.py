"""Text-analysis functions for the training-data pipeline.

All pure Catalyst column expressions (whole-stage codegen; zero
Python) so they run at 100 TB scan speed: language ID (stopword
heuristic), quality scoring, token counting, fingerprinting, and
shingling.  Each has an exact ANSI-SQL equivalent used as the DuckDB
oracle in `__spark_entry__.py`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language ID (language identification without models)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
    "it": [" il ", " che ", " per "],
    "pt": [" não ", " uma ", " dos "],
    "nl": [" het ", " een ", " van "],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def occurrence_count(text: Column, needle: str) -> Column:
    """Non-overlapping occurrences of `needle` — portable to ANSI SQL as
    (length(x) - length(replace(x, n, ''))) / length(n), which is
    exactly what the DuckDB oracles use.

    Evaluated as `regexp_count` on the escaped literal, NOT via the
    replace/length form: both count the same non-overlapping left-to-
    right matches (verified value-identical, and the SQL form stays
    the oracle), but replace REBUILDS the string per call, with cost
    proportional to match count — on 7 KB docs where a stopword hits
    ~10³ times, the 10-needle chain measured 3.1 s/20k docs vs 0.16 s
    for regexp_count (the counter never materializes a copy)."""
    import re as _re

    return F.regexp_count(text, F.lit(_re.escape(needle))).cast("long")


def lang_score(text: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    score = F.lit(0).cast("long")
    for marker in LANG_MARKERS[lang]:
        score = score + occurrence_count(padded, marker)
    return score


def detect_language(text: Column) -> Column:
    """argmax over marker-set hit counts; 'und' when all zero.
    Deterministic tie-break: language list order.

    Expression shape matters at scale: a fold of nested
    `when(s > best, …)` duplicates every score subtree ~3× per
    language (exponential tree → blows the whole-stage-codegen limit,
    and the interpreted fallback has no common-subexpression
    elimination — measured 6× slowdown inside composite projections).
    Instead: ONE array of (score, -index, lang) structs — each score
    expression appears exactly once — reduced with `array_max`
    (lexicographic struct compare = max score, then earliest language
    index), plus a sentinel ('und', score 0, index rank above all real
    languages) so the all-zero case needs no second reference to the
    max."""
    langs = list(LANG_MARKERS)
    entries = [
        F.struct(
            lang_score(text, lang).alias("s"),
            F.lit(-i).alias("ni"),  # earliest language wins score ties
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    sentinel = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(1).alias("ni"),  # beats every real lang at score 0
        F.lit("und").alias("lang"),
    )
    return F.array_max(F.array(sentinel, *entries)).getField("lang")


def word_count(text: Column) -> Column:
    """Whitespace token count (ref word-count analog:
    ref:src/templates/mod.rs:226 `split_whitespace().count()`).

    Counted as separator-run count + 1 on the trimmed string — equal
    by construction to `size(split(trimmed, '\\s+'))` (trimmed text has
    no leading/trailing run, so k runs delimit k+1 tokens) without
    materializing a ~n_words string array per row just to take its
    size (the array dominated the metric projection's cost at 7 KB
    docs)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.regexp_count(trimmed, F.lit(r"\s+")) + 1
    )


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: alnum runs + isolated punctuation."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_words, avg_word_len, digit_ratio, stop_ratio, quality_score.

    The five BASE measures (char/word/space/digit/stopword counts) are
    materialized ONCE behind a single-element `explode(array(struct))`
    Generate barrier, and every ratio is derived from the struct
    fields.  Without the barrier, Catalyst's project collapsing
    re-inlines each alias into every consumer, and codegen's
    subexpression elimination cannot hoist them back out of the
    `when()` branches they land in — so the O(len) primitives (the
    `\\s+` split behind word_count, the digit regexp_replace, the ten
    stopword scans) were each evaluated up to 5× per row.  Measured on
    20k 7 KB docs, local[8]: 8.5 s → ~2 s for the full metric
    projection.  Values are bit-identical; only evaluation count
    changes."""
    t = F.col(text_col)
    padded = F.concat(F.lit(" "), t, F.lit(" "))
    stop_hits = F.lit(0).cast("long")
    for w in STOPWORDS:
        stop_hits = stop_hits + occurrence_count(padded, f" {w} ")
    base = F.struct(
        F.length(t).alias("n_chars"),
        word_count(t).cast("long").alias("n_words"),
        occurrence_count(t, " ").alias("n_spaces"),
        # digit COUNT without materializing the stripped copy
        F.regexp_count(t, F.lit("[0-9]")).cast("long").alias("digits"),
        stop_hits.alias("stop_hits"),
    )
    packed = df.select("*", F.explode(F.array(base)).alias("_qm"))
    n_chars = F.col("_qm.n_chars")
    n_words = F.col("_qm.n_words")
    avg_word_len = F.round(
        F.when(n_words > 0, (n_chars - F.col("_qm.n_spaces")) / n_words)
        .otherwise(F.lit(0.0)), 4
    )
    digit_ratio = F.round(
        F.when(n_chars > 0, F.col("_qm.digits") / n_chars).otherwise(F.lit(0.0)), 4
    )
    stop_ratio = F.round(
        F.when(n_words > 0, F.col("_qm.stop_hits") / n_words).otherwise(F.lit(0.0)),
        4,
    )
    quality = F.round(
        F.least(F.lit(1.0), stop_ratio * 2)
        * F.when((avg_word_len >= 2) & (avg_word_len <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
        * (F.lit(1.0) - digit_ratio),
        4,
    )
    return (
        packed.withColumn("n_words", n_words)
        .withColumn("avg_word_len", avg_word_len)
        .withColumn("digit_ratio", digit_ratio)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("quality_score", quality)
        .drop("_qm")
    )


def fingerprint_md5(text: Column) -> Column:
    """Deterministic content fingerprint (md5 hex — portable)."""
    return F.md5(text)


def char_shingles(text: Column, k: int = 9, distinct: bool = True) -> Column:
    """Character k-gram array (pure Catalyst); distinct by default.

    `distinct=False` skips the string-level hash-set pass for callers
    that deduplicate later at a cheaper level (e.g. the minhash path
    distincts the int64 hashes instead — same set, pointwise hashing).
    """
    n = F.length(text)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: text.substr(i, F.lit(k)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(n >= k, grams).otherwise(F.array(text))


# the prefix `char_bigram_entropy` reads, in characters
ENTROPY_MAX_CHARS = 256


def char_bigram_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, n_bigrams, entropy) — Shannon entropy (nats, 4 dp) of
    the character-bigram distribution over the first
    `ENTROPY_MAX_CHARS` characters.

    A Gopher-style gibberish signal: natural language sits in a narrow
    entropy band, while key-mash/minified/encoded blobs score high and
    single-character repetition scores near 0.  The prefix cap bounds
    the fan-out (≤ ENTROPY_MAX_CHARS-1 bigram rows per doc) so the explode
    stays O(docs·ENTROPY_MAX_CHARS), not O(corpus bytes), at 100 TB; two hash
    aggregates (bigram counts, then the entropy fold), both map-side
    combinable.  Docs shorter than 2 chars yield zero bigrams and are
    reported with entropy 0.0."""
    t = F.substring(F.col(text_col), 1, ENTROPY_MAX_CHARS)
    n = F.length(t)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: t.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = df.select(
        F.col(id_col), F.explode_outer(bigrams).alias("_bg")
    )
    counts = pairs.groupBy(id_col, "_bg").agg(
        F.count(F.lit(1)).alias("_c")
    )
    # NULL _bg marks a too-short doc (explode_outer): it still yields
    # a group so the doc survives into the report with entropy 0
    per_doc = counts.groupBy(id_col).agg(
        F.sum(F.when(F.col("_bg").isNotNull(), F.col("_c")).otherwise(0))
        .alias("_total"),
        F.collect_list(
            F.when(F.col("_bg").isNotNull(), F.col("_c"))
        ).alias("_cs"),
    )
    ent = F.aggregate(
        "_cs",
        F.lit(0.0),
        lambda acc, c: acc
        - (c / F.col("_total")) * F.log(c / F.col("_total")),
    )
    return per_doc.select(
        id_col,
        F.col("_total").cast("long").alias("n_bigrams"),
        F.round(F.when(F.col("_total") > 0, ent).otherwise(F.lit(0.0)), 4)
        .alias("entropy"),
    )
