"""HTML → text extraction, byte-identical to the reference extractor.

Reference semantics (ref:src/handlers/mod.rs:96-141, UrlHandler):

1. Parse the document as HTML5 (html5ever `Html::parse_document`).
2. For every ``body`` element (HTML5 tree building guarantees at most
   one): collect **all descendant text nodes** in tree order, join
   them with a single space, trim; keep if non-empty
   (ref:src/handlers/mod.rs:114-122).  NOTE: ``script``/``style``
   text inside ``body`` IS included by this path.
3. If no parts were produced, fall back to iterating **every element**
   in the document (the ``*`` selector) in tree order, skipping
   elements *named* ``script``/``style`` (their text still leaks in
   via ancestor elements!), emitting each element's descendant-text
   join (ref:src/handlers/mod.rs:124-138).  This path double-counts
   nested text by construction — reproduced faithfully.
4. Output is ``"\\n".join(parts)`` (ref:src/handlers/mod.rs:140).

Parsing is done by the WHATWG-faithful tokenizer + tree constructor in
`html5_tokenizer.py` / `html5_tree.py` (all insertion modes, foster
parenting, adoption agency, rawtext/RCDATA/script-escape states,
scripting-enabled noscript, frameset documents) — the same algorithm
html5ever implements, so text-node placement and run boundaries match.
Known approximations are documented in html5_tree.py and exercised by
tests/test_html_differential.py.

Spark surface: `html_to_text` / `html_metadata` are Arrow-batched
pandas UDFs (no per-row Python dispatch through Spark; the per-row
parse itself is inherently scalar work, batched via Arrow transfer).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdf_knowledge_extractor_spark.functions.html5_tree import (  # noqa: F401
    Node,
    parse_document,
)


def extract_text(html: str) -> str:
    """Reference-faithful HTML→text (ref:src/handlers/mod.rs:109-140)."""
    root = parse_document(html)

    parts: list[str] = []
    for body in root.find_all("body"):  # tree builder yields exactly one
        joined = " ".join(body.descendant_texts())
        trimmed = joined.strip()
        if trimmed:
            parts.append(trimmed)

    if not parts:  # fallback: every element, skipping script/style by name
        for el in root.iter_elements():
            if el.name in ("script", "style"):
                continue
            joined = " ".join(el.descendant_texts())
            trimmed = joined.strip()
            if trimmed:
                parts.append(trimmed)

    return "\n".join(parts)


def _serialize_text(s: str) -> str:
    """html5ever serializer escaping for text nodes (used by
    scraper's `inner_html()`): & < > and NBSP."""
    return (
        s.replace("&", "&amp;")
        .replace("\xa0", "&nbsp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def extract_metadata(html: str) -> dict[str, str]:
    """HTML metadata (ref:src/handlers/mod.rs:143-177): title via
    `inner_html()` (re-serialized, so entities are RE-escaped — 'A &amp;
    B' stays 'A &amp; B') + <meta name=description|keywords|author>.
    `source` is empty: the page's URL lives in its own column."""
    root = parse_document(html)
    meta: dict[str, str] = {"source": "", "type": "url"}
    titles = root.find_all("title")
    if titles:
        # title is RCDATA: children are text nodes; inner_html re-escapes
        meta["title"] = "".join(
            _serialize_text(c) for c in titles[0].children if isinstance(c, str)
        )
    for el in root.find_all("meta"):
        name = el.attrs.get("name")
        content = el.attrs.get("content")
        if name in ("description", "keywords", "author") and content is not None:
            meta[name] = content
    return meta


# ---------------------------------------------------------------------------
# Spark surface — Arrow-batched pandas UDFs
# ---------------------------------------------------------------------------

def _decode(b) -> str:
    if b is None:
        return ""
    if isinstance(b, (bytes, bytearray)):
        return bytes(b).decode("utf-8", errors="replace")
    return str(b)


@F.pandas_udf(T.StringType())
def html_to_text(html: pd.Series) -> pd.Series:
    """binary html → extracted text (vectorized Arrow transfer)."""
    return html.map(lambda b: extract_text(_decode(b)))


@F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
def html_metadata(html: pd.Series) -> pd.Series:
    return html.map(lambda b: extract_metadata(_decode(b)))


def with_extracted_text(pages_df, html_col: str = "html", out_col: str = "text"):
    """pages(url, warc_ts, html, …) → same + extracted `text` column."""
    return pages_df.withColumn(out_col, html_to_text(F.col(html_col)))
