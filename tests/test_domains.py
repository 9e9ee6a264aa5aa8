"""Registrable-domain extraction, per-domain report, list filters."""

from __future__ import annotations

import contextlib
import io


from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.domains import (
    domain_report,
    filter_domains,
    registrable_domain,
)

CASES = [
    ("https://deep.sub.example.co.uk/p?a=1", "example.co.uk"),
    ("http://www.example.com/x", "example.com"),
    ("https://user:pw@example.com:8080/y#z", "example.com"),
    ("ftp://EXAMPLE.ORG./f", "example.org"),
    ("https://192.168.0.1/admin", "192.168.0.1"),
    ("https://localhost/", "localhost"),
    ("not a url", ""),
    ("https://a.b.c.com.au", "c.com.au"),
    ("https://ac.uk/", "ac.uk"),  # bare suffix: only 2 labels, kept
]


def test_registrable_domain_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], ["url"])
    got = [
        r.d
        for r in df.select(
            registrable_domain(F.col("url")).alias("d")
        ).collect()
    ]
    assert got == [want for _, want in CASES]


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "https://a.example.com/1", 100),
            (2, "https://b.example.com/2", 200),
            (3, "https://spam.bad.co.uk/x", 50),
            (4, "https://other.org/", 10),
        ],
        ["doc_id", "url", "n_chars"],
    )


def test_domain_report_counts_and_share(spark):
    rows = {r.domain: r for r in domain_report(_docs(spark)).collect()}
    assert rows["example.com"].n_docs == 2
    assert rows["example.com"].total_chars == 300
    assert rows["example.com"].avg_chars == 150.0
    assert rows["example.com"].share == 0.5
    assert rows["bad.co.uk"].n_docs == 1
    assert set(rows) == {"example.com", "bad.co.uk", "other.org"}


def test_filter_domains_block_allow(spark):
    d = _docs(spark)
    blocked = filter_domains(d, blocklist=["BAD.co.uk"])
    assert {r.doc_id for r in blocked.collect()} == {1, 2, 4}
    assert blocked.columns == d.columns  # helper column dropped


CANON_CASES = [
    (
        "HTTPS://User:pw@Example.COM:443/a/b/?b=2&utm_source=x&a=1#frag",
        "https://example.com/a/b?a=1&b=2",
    ),
    ("http://example.com:80/", "http://example.com/"),
    ("http://example.com:8080/x/", "http://example.com:8080/x"),
    ("https://example.com", "https://example.com/"),
    ("https://example.com/?gclid=abc&fbclid=z", "https://example.com/"),
    ("not a url", ""),
    (
        "https://example.com/a//b/?z=1&y=2&y=1",
        "https://example.com/a//b?y=1&y=2&z=1",
    ),
]


def test_canonical_url_cases(spark):
    from rdf_knowledge_extractor_spark.operators.domains import canonical_url

    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], ["url"])
    got = [
        r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in CANON_CASES]


def test_canonical_url_idempotent_and_dedups(spark):
    from rdf_knowledge_extractor_spark.operators.domains import canonical_url

    variants = [
        "https://Example.com/page?a=1&utm_campaign=x",
        "HTTPS://example.com:443/page/?a=1",
        "https://u@example.com/page?utm_source=s&a=1#top",
    ]
    df = spark.createDataFrame([(u,) for u in variants], ["url"])
    canon = df.select(canonical_url(F.col("url")).alias("c"))
    vals = {r.c for r in canon.collect()}
    assert vals == {"https://example.com/page?a=1"}
    # canonicalizing a canonical URL is a fixpoint
    twice = canon.select(canonical_url(F.col("c")).alias("c2")).collect()
    assert {r.c2 for r in twice} == vals


def test_filter_plan_is_broadcast_no_extra_shuffle(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filter_domains(_docs(spark), blocklist=["bad.co.uk"]).explain(
            mode="formatted"
        )
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    tree = plan.split("\n\n", 1)[0]
    # corpus side must not shuffle: only the broadcast exchange appears
    assert "Exchange hashpartitioning" not in plan.split("(1) ")[0]
    assert tree.count("BroadcastExchange") == 1
