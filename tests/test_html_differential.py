"""Differential/adversarial byte-identity suite for the HTML→text
extractor (THE flagship invariant, BASELINE.json input_hint).

The true differential — compiling the reference's html5ever/scraper
extractor and diffing outputs — requires crates.io, which is
unreachable in this sandbox (documented with evidence in
DIFFERENTIAL.md; the ready-to-run harness lives in
tools/diff_harness/).  This suite is the offline fallback the round-1
verdict prescribed: expected outputs are DERIVED BY HAND from the
WHATWG tree-construction algorithm html5ever implements
(§13.2.6: adoption agency, foster parenting, rawtext/RCDATA/script
escape states, frameset, noscript-with-scripting) combined with the
reference's extraction walk (ref:src/handlers/mod.rs:109-140):

    parts = [trim(" ".join(body descendant texts))]   (if non-empty)
    fallback: per-element joins, skipping script/style BY NAME
    output = "\\n".join(parts)

Each golden below cites the spec behavior it pins.
"""

from __future__ import annotations

import pytest

from rdf_knowledge_extractor_spark.functions.html_text import (
    extract_metadata,
    extract_text,
)

# (label, html, expected_extracted_text)
GOLDENS = [
    # --- adoption agency -------------------------------------------------
    ("aaa-basic", "<body><b>1<p>2</b>3</p></body>", "1 2 3"),
    ("aaa-anchor", "<a href=x>1<div>2<div>3</a>4</div></div>", "1 2 3 4"),
    ("aaa-nobr", "<nobr>a<nobr>b</nobr>c", "a b c"),
    # --- foster parenting (text REORDERS before the table) ---------------
    ("foster-pre-row", "<body>a<table>b<tr><td>c</td></tr>d</table>e</body>",
     "abd c e"),
    ("foster-between-cells", "<table><tr><td>a</td>b<td>c</td></tr></table>",
     "b a c"),
    ("foster-ws-stays", "<table><tr> <td>a</td> </tr></table>", "a"),
    ("foster-formatting", "<table><b>x<tr><td>y", "x y"),
    # --- rawtext / RCDATA / script states ---------------------------------
    ("style-in-body-included", "<body><style>p{color:red}</style>x</body>",
     "p{color:red} x"),
    ("script-escaped",
     '<body><script><!-- var a = "</script>"; --></script>rest</body>',
     '<!-- var a = " "; -->rest'),
    ("script-double-escaped",
     "<body><script><!--<script></script>--></script>after</body>",
     "<!--<script></script>--> after"),
    ("noscript-rawtext-scripting-on",
     "<body><noscript><p>never</p></noscript>yes</body>",
     "<p>never</p> yes"),
    ("xmp-rawtext", "<body><xmp><p>raw</p></xmp>tail</body>", "<p>raw</p> tail"),
    ("textarea-rcdata-lf-skip", "<body><textarea>\n&lt;x&gt;</textarea></body>",
     "<x>"),
    ("title-out-of-body", "<title>A<b>B</b></title><body>x</body>", "x"),
    ("plaintext", "<body><plaintext>a<b>c", "a<b>c"),
    ("pre-lf-skip", "<body><pre>\nkeep\n</pre></body>", "keep"),
    # --- frameset: NO body element → per-element fallback ----------------
    ("frameset-fallback",
     "<frameset><frame src=a><noframes>nf</noframes></frameset>",
     "nf\nnf\nnf"),
    # --- empty body → fallback double-counts head text --------------------
    ("empty-body-fallback", "<head><title>T</title></head><body>   </body>",
     "T\nT\nT"),
    # --- implied closures --------------------------------------------------
    ("p-implied", "<p>one<p>two</p>", "one two"),
    ("li-implied", "<ul><li>a<li>b</ul>c", "a b c"),
    ("dd-dt", "<dl><dt>t<dd>d</dl>x", "t d x"),
    ("select-options", "<select><option>a<option>b</select>c", "a b c"),
    # --- after-body reprocessing ------------------------------------------
    ("after-body-text", "<html><body>a</body>b</html>", "ab"),
    ("after-after-body-text", "<html><body>a</body></html>c", "ac"),
    ("second-body-merges", "<body>a</body><body>b</body>", "ab"),
    # --- tokenizer edge cases ----------------------------------------------
    ("stray-end-br", "x</br>y", "x y"),
    ("lt-non-alpha", "<body>a < b <3 c</body>", "a < b <3 c"),
    ("unterminated-quote-swallows", '<body>a<span title="x>b</span>c</body>', "a"),
    ("processing-instruction", "<body><?php echo ?>x</body>", "x"),
    ("cdata-as-bogus-comment", "<body>a<![CDATA[b]]>c</body>", "a c"),
    ("comment-splits-runs", "<body>a<!--c-->b</body>", "a b"),
    ("comment-empty-form", "<body>a<!-->b</body>", "a b"),
    ("comment-bang-close", "<body>a<!-- x --!>b</body>", "a b"),
    ("eof-in-tag", "<body>a<span", "a"),
    ("end-tag-space-bogus", "<body>a</ b>c</body>", "a c"),
    # --- entities -----------------------------------------------------------
    ("entity-legacy-nosemi", "<div>&ampx &amp=y &notin; &notit;</div>",
     "&x &=y ∉ ¬it;"),
    ("entity-numeric", "<div>&#65;&#x42;&#0;&#151;</div>", "AB�—"),
    ("entity-in-rcdata", "<textarea>&amp;&lt;</textarea>", "&<"),
    ("entity-raw-in-script", "<body><script>&amp;</script>x</body>", "&amp; x"),
    # --- sectioning ----------------------------------------------------------
    ("head-body-ws", "<head> <title>T</title> </head> x <body>y</body>", "x y"),
    ("whitespace-only-doc", "   \n\t  ", ""),
    ("no-body-tag", "<p>no body tag", "no body tag"),
    ("double-space-at-tag-boundary",
     "<body><p>partnership with <b>Acme</b>.</p></body>",
     "partnership with  Acme ."),
    # --- svg/math text placement (deviation-safe shapes) --------------------
    ("svg-title-text", "<body><svg><title>s</title></svg>t</body>", "s t"),
    ("math-text", "<body><math><mi>x</mi></math>y</body>", "x y"),
    # --- quirks table-in-p (same extraction either way, pins no-crash) ------
    ("quirks-table-in-p", "<p>a<table><tr><td>b</td></tr></table>c", "a b c"),
    ("noquirks-table-in-p",
     "<!DOCTYPE html><p>a<table><tr><td>b</td></tr></table>c", "a b c"),
]


@pytest.mark.parametrize("label,html,expected", GOLDENS, ids=[g[0] for g in GOLDENS])
def test_spec_derived_goldens(label, html, expected):
    assert extract_text(html) == expected


# ---------------------------------------------------------------------------
# metadata semantics (scraper inner_html for title; first-attr-wins)
# ---------------------------------------------------------------------------

def test_metadata_title_inner_html_reescapes():
    meta = extract_metadata("<title>A &amp; B &lt;ok&gt;</title><body>x</body>")
    # inner_html re-serializes the decoded text node, so & < > re-escape
    assert meta["title"] == "A &amp; B &lt;ok&gt;"


def test_metadata_meta_tags_and_duplicate_attrs():
    html = (
        '<meta name=description content="first" content="second">'
        '<meta name="keywords" content="a,&amp;b">'
        '<meta name="author" content="X">'
        '<meta name="other" content="ignored">'
        "<body>x</body>"
    )
    meta = extract_metadata(html)
    assert meta["description"] == "first"  # first duplicate attribute wins
    assert meta["keywords"] == "a,&b"
    assert meta["author"] == "X"
    assert "other" not in meta
    assert meta["source"] == "" and meta["type"] == "url"


def test_metadata_attr_entity_legacy_rule():
    # &amp followed by alnum is NOT decoded in attribute context
    meta = extract_metadata('<meta name=description content="a&ampb &amp;c"><body>x</body>')
    assert meta["description"] == "a&ampb &c"


# ---------------------------------------------------------------------------
# corpus differential: ≥1,000 pages incl. malformed variants
# ---------------------------------------------------------------------------

def _mutate(html: bytes, k: int) -> bytes:
    """Deterministic adversarial mutations: truncation, tag injection,
    entity garbage, unclosed quotes, table wrappers."""
    injections = [
        b"<b><i>misnest</b></i>",
        b"<table>stray<tr>cells",
        b"<script>if (a<b) {x='</div>'}</script>",
        b"<!-- unterminated comment",
        b'<span title="unclosed>',
        b"&notareal; &#xZZ; &#40000000;",
        b"</p></div></table>",
        b"<noscript><meta name=x content=y></noscript>",
        b"\x00nul\x00bytes",
        b"<plaintext>tail",
    ]
    inj = injections[k % len(injections)]
    cut = (k * 37) % max(len(html) - 1, 1)
    if k % 3 == 0:
        return html[:cut] + inj + html[cut:]
    if k % 3 == 1:
        return html[:cut]  # truncation (EOF mid-anything)
    return html[:cut] + inj  # truncate + inject


def test_corpus_1000_pages_byte_identity_and_robustness():
    from rdf_knowledge_extractor_spark.sources.pages import generate_page

    n_clean, n_mut = 600, 600
    # clean pages: expected text known by construction
    for i in range(n_clean):
        pg = generate_page(i, seed=31)
        got = extract_text(pg.html.decode("utf-8"))
        assert got == pg.text, f"byte mismatch on clean page {i}"
    # adversarial mutations: must not crash, must be deterministic
    for i in range(n_mut):
        pg = generate_page(i % n_clean, seed=31)
        raw = _mutate(pg.html, i)
        html = raw.decode("utf-8", errors="replace")
        a = extract_text(html)
        b = extract_text(html)
        assert a == b, f"nondeterministic output on mutated page {i}"
        assert isinstance(a, str)


def test_deeply_nested_does_not_blow_stack():
    html = "<body>" + "<div>" * 4000 + "deep" + "</div>" * 4000 + "</body>"
    assert extract_text(html) == "deep"
