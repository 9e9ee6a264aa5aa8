"""End-to-end extraction pipeline tests: pages → html_to_text →
mapInPandas extractor (stub LLM) → normalize/validate/dedup → triples,
scored P/R against the generator's ground truth (target per
BASELINE.json: ≥ 0.95; the deterministic pipeline should hit 1.0)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.functions.extract import (
    extract_triples_stage,
    parse_llm_response,
    split_triples_and_lineage,
)
from rdf_knowledge_extractor_spark.functions.html_text import with_extracted_text
from rdf_knowledge_extractor_spark.functions.prompts import (
    build_extraction_prompt,
    truncate_to_bytes,
)
from rdf_knowledge_extractor_spark.sources.pages import (
    generate_corpus,
    pages_dataframe,
)

N_PAGES = 80


@pytest.fixture(scope="module")
def extracted(spark, example_config):
    pages = pages_dataframe(spark, N_PAGES, seed=42).drop("text")
    pages = with_extracted_text(pages)
    out = extract_triples_stage(pages, example_config, client_kind="stub")
    out.cache()
    out.count()
    return out


def test_pipeline_precision_recall(spark, extracted):
    triples, _ = split_triples_and_lineage(extracted)
    got = {
        (r.subject, r.predicate, r.object)
        for r in triples.select("subject", "predicate", "object").collect()
    }
    gold = {t for page in generate_corpus(N_PAGES, 42) for t in page.gold_triples}
    assert got, "no triples extracted"
    tp = len(got & gold)
    precision = tp / len(got)
    recall = tp / len(gold)
    assert precision >= 0.95, (precision, sorted(got - gold)[:5])
    assert recall >= 0.95, (recall, sorted(gold - got)[:5])


def test_lineage_has_all_docs(spark, extracted):
    _, lineage = split_triples_and_lineage(extracted)
    assert lineage.count() == N_PAGES
    assert lineage.filter(F.size("errors") > 0).count() == 0


def test_confidence_and_source(extracted):
    triples, _ = split_triples_and_lineage(extracted)
    row = triples.filter(F.col("predicate").endswith("hasRole")).first()
    assert row.confidence == pytest.approx(0.95)  # stub emits 0.95 on hasRole
    assert row.source.startswith("https://crawl.example.org/")
    other = triples.filter(F.col("predicate").endswith("locatedIn")).first()
    assert other.confidence == 1.0  # default (ref:extractor.rs:26)


# -- parse_llm_response unit semantics (ref:src/core/extractor.rs:246-293) --

def test_parse_bare_array(example_config):
    raw = '[{"subject": "A", "predicate": "p", "object": "o"}]'
    triples, err = parse_llm_response(raw, example_config)
    assert err is None
    assert triples[0]["subject"] == example_config.rdf_schema.base_uri + "A"
    assert triples[0]["predicate"] == example_config.rdf_schema.namespace + "p"
    assert triples[0]["object"] == "o"  # objects never normalized


def test_parse_triples_wrapper(example_config):
    raw = '{"triples": [{"subject": "http://x/a", "predicate": "http://x/p", "object": "v"}]}'
    triples, err = parse_llm_response(raw, example_config)
    assert err is None and len(triples) == 1
    assert triples[0]["subject"] == "http://x/a"  # already http → untouched


def test_parse_fenced(example_config):
    raw = '```json\n[{"subject": "http://x/a", "predicate": "http://x/p", "object": "v"}]\n```'
    triples, err = parse_llm_response(raw, example_config)
    assert err is None and len(triples) == 1
    raw2 = '```\n[{"subject": "http://x/a", "predicate": "http://x/p", "object": "v"}]\n```'
    triples2, err2 = parse_llm_response(raw2, example_config)
    assert err2 is None and len(triples2) == 1


def test_parse_drops_incomplete(example_config):
    raw = (
        '[{"subject": "a", "predicate": "p", "object": ""},'
        ' {"subject": "", "predicate": "p", "object": "o"},'
        ' {"predicate": "p", "object": "o"},'
        ' {"subject": 5, "predicate": "p", "object": "o"},'
        ' {"subject": "ok", "predicate": "p", "object": "o"}]'
    )
    triples, err = parse_llm_response(raw, example_config)
    assert err is None
    assert len(triples) == 1 and triples[0]["object"] == "o"


def test_parse_other_object_returns_empty(example_config):
    triples, err = parse_llm_response('{"no_triples": 1}', example_config)
    assert err is None and triples == []


def test_parse_invalid_json_is_error(example_config):
    triples, err = parse_llm_response("not json at all", example_config)
    assert triples == [] and err is not None


def test_parse_confidence(example_config):
    raw = '[{"subject": "a", "predicate": "p", "object": "o", "confidence": 0.5}]'
    triples, _ = parse_llm_response(raw, example_config)
    assert triples[0]["confidence"] == 0.5
    raw2 = '[{"subject": "a", "predicate": "p", "object": "o", "confidence": true}]'
    triples2, _ = parse_llm_response(raw2, example_config)
    assert triples2[0]["confidence"] == 1.0  # bool is not f64 (ref as_f64)


# -- prompt construction (ref:src/core/llm_client.rs:256-319) --

def test_truncate_to_bytes():
    assert truncate_to_bytes("abc") == "abc"
    long = "é" * 5000  # 2 bytes each
    out = truncate_to_bytes(long)
    assert len(out.encode("utf-8")) == 8000
    odd = truncate_to_bytes("a" + long)  # boundary backoff
    assert len(odd.encode("utf-8")) == 7999


def test_prompt_sections(example_config):
    p = build_extraction_prompt(
        "DOC TEXT", example_config.extraction_questions, example_config.rdf_schema
    )
    assert p.startswith("## Document Content\nDOC TEXT\n\n")
    assert "## Information to Extract\n" in p
    assert "- org_name: What organizations are mentioned in the document?\n" in p
    assert "  Constraints: Must be proper noun, Full organization name\n" in p
    assert f"Base URI: {example_config.rdf_schema.base_uri}\n" in p
    assert "\nAvailable Predicates:\n" in p
    assert "## Instructions" in p
    assert "Return the triples as a JSON array" in p


def test_fused_html_extract_equals_two_stage(spark, example_config):
    """extract_triples_stage(html_col=...) must produce exactly the
    rows of with_extracted_text -> extract_triples_stage (the fused
    path is the bandwidth optimization, not a semantic change)."""
    from rdf_knowledge_extractor_spark.functions.extract import (
        extract_triples_stage,
    )
    from rdf_knowledge_extractor_spark.functions.html_text import (
        with_extracted_text,
    )
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    cfg = example_config
    pages = pages_dataframe(spark, 40, seed=13).drop("text")
    two_stage = extract_triples_stage(
        with_extracted_text(pages).select("url", "doc_seq", "text"), cfg
    )
    fused = extract_triples_stage(pages, cfg, html_col="html")
    cols = two_stage.columns
    a = sorted(tuple(str(r[c]) for c in cols) for r in two_stage.collect())
    b = sorted(tuple(str(r[c]) for c in cols) for r in fused.collect())
    assert a == b and len(a) > 0
