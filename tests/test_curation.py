"""Corpus-curation operators (operators/curation.py).

Deterministic selection semantics + the scale-relevant plan shape
(rank≤k compiles to WindowGroupLimit, i.e. map-side partial top-k).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.curation import (
    QUOTA_K,
    TOP_TERMS_K,
    TOP_TERMS_MIN_COUNT,
    WEIGHTED_SAMPLE_K,
    curate_corpus,
    dedup_keep_first,
    deterministic_sample,
    quota_per_group,
    sample_threshold_hex,
    top_terms,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    texts = {
        "en": "the cat and the dog sat on the mat and looked at the sun of a day "
        "for a while in the park with a friend and the bird is on the tree",
        "de": "der hund und die katze und der vogel und die sonne und der baum "
        "und die blume und der tag und die nacht und der wald und die stadt",
        "short": "the and of",
        "digits": "the 123456 and 789012 of 345678 the 901234 and 567890 of "
        "111 222 333 444 555 666 777 888 999 000 123 456 789 012 345",
    }
    for i in range(40):
        kind = ["en", "de", "short", "digits"][i % 4]
        # two exact duplicates of doc 0's text at ids 20, 24 (kind 'en')
        text = texts["en"] if i in (20, 24) else texts[kind] + ("" if i < 4 else f" tail{i}")
        rows.append((i, text, f"src{i % 3}"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_sample_matches_reference_hash_rule(docs):
    rate = 0.5
    got = {r.doc_id for r in deterministic_sample(docs, rate).collect()}
    thresh = sample_threshold_hex(rate)
    want = {
        i
        for i in range(40)
        if hashlib.md5(str(i).encode()).hexdigest()[:8] < thresh
    }
    assert got == want and 0 < len(got) < 40


def test_sample_is_stable_and_monotone(docs):
    s1 = {r.doc_id for r in deterministic_sample(docs, 0.3).collect()}
    s2 = {r.doc_id for r in deterministic_sample(docs, 0.3).collect()}
    s_big = {r.doc_id for r in deterministic_sample(docs, 0.8).collect()}
    assert s1 == s2
    assert s1 <= s_big  # same hash rule ⇒ nested samples


def test_sample_rate_boundaries(docs):
    # rate ≥ 1 keeps everything (a naive 9-char hex threshold would
    # lexicographically drop ~94%); rate 0 keeps nothing
    assert deterministic_sample(docs, 1.0).count() == 40
    assert deterministic_sample(docs, 1.5).count() == 40
    assert deterministic_sample(docs, 0.0).count() == 0
    assert len(sample_threshold_hex(1.0)) == 8


def test_spread_skips_exchange_bearing_plans(docs, spark):
    # operators accept derived inputs: an aggregated DF's plan contains
    # an Exchange — spread must not touch .rdd there (under AQE that
    # would eagerly run every upstream stage)
    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    derived = docs.groupBy("source").agg(
        F.first("text").alias("text"), F.min("doc_id").alias("doc_id")
    )
    assert spread(derived) is derived
    scan = spark.createDataFrame([(1, "x")], "doc_id long, text string").coalesce(1)
    assert spread(scan).rdd.getNumPartitions() >= scan.rdd.getNumPartitions()


def test_quota_caps_every_group(docs):
    out = quota_per_group(docs, group_col="source")
    sizes = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"src0": QUOTA_K, "src1": QUOTA_K, "src2": QUOTA_K}
    # deterministic: same selection on re-run
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in quota_per_group(docs, group_col="source").collect())
    assert a == b


def test_quota_plan_uses_window_group_limit(docs):
    plan = quota_per_group(docs, group_col="source")._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_dedup_keep_first_keeps_min_id(docs):
    out = dedup_keep_first(docs)
    ids = {r.doc_id for r in out.collect()}
    # ids 20 and 24 duplicate doc 0's text — only 0 survives
    assert 0 in ids and 20 not in ids and 24 not in ids
    assert len(ids) == 38


def test_curate_filters_lang_length_digits(docs):
    out = curate_corpus(docs, lang="en", min_words=10).collect()
    ids = {r.doc_id for r in out}
    # 'en' docs are ids ≡ 0 (mod 4) minus the dup ids; 'short' fails
    # min_words; 'digits' fails digit_ratio/quality; 'de' fails lang
    assert ids and all(i % 4 == 0 for i in ids)
    assert all(r.lang_pred == "en" and r.n_words >= 10 for r in out)
    assert 20 not in ids and 24 not in ids  # removed by dedup tier


def test_top_terms_order_and_threshold(docs):
    out = top_terms(docs).collect()
    freq = {}
    for r in docs.collect():
        for t in r.text.split():
            freq[t] = freq.get(t, 0) + 1
    want = sorted(
        ((t, c) for t, c in freq.items() if c >= TOP_TERMS_MIN_COUNT),
        key=lambda tc: (-tc[1], tc[0]),
    )[:TOP_TERMS_K]
    assert [tuple(r) for r in out] == want
    assert 0 < len(want) < len(freq)  # the count threshold bites
    counts = [r.cnt for r in out]
    assert counts == sorted(counts, reverse=True)
    assert out[0].term == "the"  # dominant term in the corpus
    # ties broken by term asc
    for a, b in zip(out, out[1:]):
        if a.cnt == b.cnt:
            assert a.term < b.term


def test_rollup_report_null_group_not_conflated_with_total(spark):
    """A data-NULL lang must stay its own detail row, distinct from the
    'ALL' subtotal line (grouping() labels, VERDICT r2 #5) — checked
    value-for-value against DuckDB's GROUPING() on the same rows."""
    import duckdb

    from rdf_knowledge_extractor_spark.operators.curation import rollup_report

    rows = [
        ("en", "web", 10),
        ("en", "web", 20),
        ("de", "web", 30),
        (None, "web", 40),   # dirty data: NULL lang
        (None, None, 50),    # NULL lang AND source
    ]
    docs = spark.createDataFrame(rows, "lang string, source string, n_chars int")
    got = {
        (r.lang, r.source): (r.n_docs, r.sum_chars)
        for r in rollup_report(docs).collect()
    }
    # NULL-lang detail rows survive as NULL, not 'ALL'
    assert got[(None, "web")] == (1, 40)
    assert got[(None, None)] == (1, 50)
    # the real grand total counts everything
    assert got[("ALL", "ALL")] == (5, 150)
    # lang-level subtotal for NULL lang: lang=NULL, source='ALL'
    assert got[(None, "ALL")] == (2, 90)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(lang VARCHAR, source VARCHAR, n_chars INT)")
    con.executemany("INSERT INTO documents VALUES (?,?,?)", rows)
    oracle = {
        (lang, src): (n, s)
        for lang, src, n, s in con.execute(
            """
            SELECT CASE WHEN GROUPING(lang)=1 THEN 'ALL' ELSE lang END,
                   CASE WHEN GROUPING(source)=1 THEN 'ALL' ELSE source END,
                   CAST(count(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
            FROM documents GROUP BY ROLLUP(lang, source)
            """
        ).fetchall()
    }
    assert got == oracle


def test_repetition_metrics_gopher_signals(spark):
    from rdf_knowledge_extractor_spark.operators.curation import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "unique one\nunique two\nunique three"),
            (2, "same line\nsame line\nsame line\nother"),
            (3, "- bullet a\n- bullet b\nplain text here"),
            (4, "read more...\nnormal line\ncontinues…"),
            (5, "   \n\n  \nonly real line"),  # whitespace lines dropped
        ],
        "doc_id long, text string",
    )
    m = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    assert m[1].dup_line_frac == 0.0 and m[1].n_lines == 3
    assert m[2].n_lines == 4
    assert m[2].dup_line_frac == 0.5          # 2 repeats / 4 lines
    # repeated chars: 2 extra * len('same line')=9 → 18 / (3*9 + 5)=32
    assert m[2].dup_line_char_frac == round(18 / 32, 4)
    assert m[3].bullet_line_frac == round(2 / 3, 4)
    assert m[4].ellipsis_line_frac == round(2 / 3, 4)
    assert m[5].n_lines == 1


def test_repetition_metrics_plan_two_hash_aggs_no_window(spark):
    from rdf_knowledge_extractor_spark.operators.curation import repetition_metrics

    docs = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = (
        repetition_metrics(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_langid_seven_languages(spark):
    """Marker-set language ID across the extended language set; ties
    break to the earliest dict entry; all-zero → 'und'."""
    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        detect_language,
    )
    from pyspark.sql import functions as F

    samples = [
        ("en", "the cat and the dog of the house and the tree"),
        ("de", "der hund und die katze und der vogel und die sonne"),
        ("fr", "le chien et les chats et le soleil et les arbres"),
        ("es", "el perro y los gatos y el sol y los arboles"),
        ("it", "il cane che corre per il parco che vede per caso"),
        ("pt", "uma casa dos santos não longe dos campos uma vez"),
        ("nl", "het huis van een man van het dorp een keer van hier"),
        ("und", "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(samples, "expected string, text string")
    got = {
        r.expected: r.pred
        for r in df.select(
            "expected", detect_language(F.col("text")).alias("pred")
        ).collect()
    }
    assert got == {want: want for want, _ in samples}


# -- round-4: langid marker pinning (VERDICT r3 item 7) ------------------

# Verbatim copy of the engine's marker dictionary.  The langid
# CORRECTNESS oracle (__spark_entry__ text_langid) builds its SQL from
# the live LANG_MARKERS dict, so the SQL *logic* is independent but the
# marker SETS are shared — a bad marker edit would pass both engine and
# oracle.  This pinned copy turns any drift in either direction into a
# test failure that forces a deliberate re-pin.
PINNED_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
    "it": [" il ", " che ", " per "],
    "pt": [" não ", " uma ", " dos "],
    "nl": [" het ", " een ", " van "],
}


def test_lang_markers_pinned():
    from rdf_knowledge_extractor_spark.functions.text_analysis import LANG_MARKERS

    assert LANG_MARKERS == PINNED_LANG_MARKERS, (
        "LANG_MARKERS drifted from the pinned fixture; if the change is "
        "intentional, update PINNED_LANG_MARKERS *and* re-validate the "
        "text_langid oracle"
    )


def test_quality_metrics_barrier_single_evaluation(spark):
    """The base text measures must be computed ONCE behind a Generate
    barrier (round 5): without it, project collapsing re-inlines each
    alias into every consuming ratio and the O(len) primitives run up
    to 5x per row.  Guard: the optimized plan contains a Generate, and
    the expensive regex primitives appear ONLY in it (13 = word_count
    + spaces + digits + 10 stopwords), not re-inlined above."""
    import contextlib
    import io

    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        quality_metrics,
    )

    df = quality_metrics(
        spark.createDataFrame([(1, "a b", "s")], ["doc_id", "text", "source"])
    ).select("n_words", "quality_score").filter("quality_score >= 0")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert plan.count("Generate") >= 1
    assert plan.count("regexp_extract_all") == 13


def test_weighted_sample_per_group_matches_independent_aes(spark):
    """Selections must equal an independent Python A-ES evaluation of
    the same md5-uniform priorities."""
    import hashlib

    from rdf_knowledge_extractor_spark.operators.curation import (
        weighted_sample_per_group,
    )

    rows = [(i, "g" + str(i % 3), float(1 + (i * 7) % 50)) for i in range(90)]
    rows += [(1000, "g0", 0.0), (1001, "g1", None)]  # excluded
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])

    def aes(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 4294967296.0
        return round(u ** (1.0 / w), 12)

    expect = set()
    for g in ("g0", "g1", "g2"):
        grp = [(i, w) for i, gg, w in rows if gg == g and w and w > 0]
        grp.sort(key=lambda t: (-aes(*t), t[0]))
        expect |= {i for i, _ in grp[:WEIGHTED_SAMPLE_K]}

    got = {
        r.doc_id
        for r in weighted_sample_per_group(
            df, weight_col="w", group_col="source"
        ).collect()
    }
    assert got == expect
    assert 1000 not in got and 1001 not in got
