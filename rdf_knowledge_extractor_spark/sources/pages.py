"""Deterministic synthetic Common-Crawl-style pages generator.

Produces the `pages` table mandated by BASELINE.json `input_hint`
(`url, warc_ts, html:binary, text, lang`) where the `text` column is
the *expected* output of the reference HTML→text extractor
(ref:src/handlers/mod.rs:109-140) — derived **by construction** while
composing the HTML (we track exactly which text nodes we emit, in tree
order), not by running our own parser.  This makes it a true
byte-identity oracle.

Each page also carries a deterministic ground-truth triple set
(business facts rendered as rigid sentence patterns that the stub LLM
extractor recovers), enabling triple P/R scoring and entity-linking
evaluation (alias surface forms map to one canonical entity).
"""

from __future__ import annotations

import datetime as dt
import html as _html
import random
from dataclasses import dataclass, field

BASE_URI = "http://business.example.org/resource/"
NAMESPACE = "http://business.example.org/ontology#"
PREFIX = "biz"

_COMPANY_STEMS = [
    "TechCorp", "DataSystems", "GlobalTech", "InnoSoft", "CloudNine",
    "QuantumLeap", "BrightPath", "NexGen", "BlueRiver", "SilverOak",
    "RedStone", "GreenField", "IronGate", "StarLight", "DeepMetrics",
    "FastLane", "PrimeAxis", "CoreLogicx", "VistaWave", "PolarisData",
]
_COMPANY_SUFFIXES = ["Inc.", "Corp", "Solutions", "Industries", "Group", "Labs"]
_FIRST = ["Sarah", "John", "Michael", "Jennifer", "David", "Laura", "Robert",
          "Emily", "James", "Anna", "Carlos", "Maria", "Wei", "Priya", "Omar"]
_LAST = ["Johnson", "Smith", "Chen", "Walsh", "Garcia", "Patel", "Kim",
         "Brown", "Davis", "Nguyen", "Mueller", "Rossi", "Tanaka", "Okafor"]
_ROLES = ["CEO", "CTO", "CFO", "VP of Engineering", "Chief Architect",
          "Head of Sales", "COO", "VP of Product"]
_CITIES = ["San Francisco", "New York", "Austin", "Seattle", "Boston",
           "London", "Berlin", "Tokyo", "Singapore", "Toronto"]
_FILLER = [
    "The quarterly report highlights steady growth across all segments.",
    "Analysts expect continued momentum in the coming fiscal year.",
    "The board approved an expanded research budget last month.",
    "Customer satisfaction scores reached an all-time high.",
    "Supply chain constraints eased during the final quarter.",
    "Revenue guidance was raised following strong demand.",
    "The company repurchased shares under its existing program.",
    "New regional offices are planned for next year.",
]


def _camel(name: str) -> str:
    """Surface form → URI local name (strip punctuation, CamelCase)."""
    return "".join(ch for ch in name.title() if ch.isalnum())


@dataclass
class Page:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str                      # expected extractor output (golden)
    lang: str
    doc_seq: int
    gold_triples: list[tuple[str, str, str]] = field(default_factory=list)
    # canonical entity ids for alias evaluation: surface URI -> canonical URI
    alias_map: dict[str, str] = field(default_factory=dict)


class _HtmlComposer:
    """Builds HTML while tracking emitted body text nodes in tree order."""

    def __init__(self):
        self.parts: list[str] = []
        self.body_text_nodes: list[str] = []

    def raw(self, markup: str):
        self.parts.append(markup)

    def text(self, s: str, in_body: bool = True):
        """Escaped text content; recorded as one text node."""
        self.parts.append(_html.escape(s, quote=False))
        if in_body:
            self.body_text_nodes.append(s)

    def entity_text(self, markup: str, decoded: str):
        """Raw body markup with entities; `decoded` is the resulting node."""
        self.parts.append(markup)
        self.body_text_nodes.append(decoded)

    def ws(self, s: str):
        """Inter-tag whitespace — still a text node inside body."""
        self.parts.append(s)
        self.body_text_nodes.append(s)

    def html_bytes(self) -> bytes:
        return "".join(self.parts).encode("utf-8")

    def expected_text(self) -> str:
        # one <body> ⇒ one part ⇒ no "\n" (ref:src/handlers/mod.rs:114-122,140)
        return " ".join(self.body_text_nodes).strip()


def _make_company(rng: random.Random) -> tuple[str, list[str]]:
    """Return (canonical surface form, alias surface forms)."""
    stem = rng.choice(_COMPANY_STEMS)
    suffix = rng.choice(_COMPANY_SUFFIXES)
    canonical = f"{stem} {suffix}"
    aliases = [canonical, stem]
    if suffix == "Inc.":
        aliases.append(f"{stem}, Inc.")
    return canonical, aliases


def generate_page(doc_seq: int, seed: int = 42, n_filler: int | None = None) -> Page:
    """`n_filler` overrides the random 1-4 filler paragraphs — used by the
    scaling bench to generate realistically-sized (multi-KB) pages."""
    rng = random.Random((seed << 20) ^ doc_seq)
    company, aliases = _make_company(rng)
    partner, partner_aliases = _make_company(rng)
    while partner.split(" ")[0] == company.split(" ")[0]:
        partner, partner_aliases = _make_company(rng)
    person = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
    role = rng.choice(_ROLES)
    city = rng.choice(_CITIES)

    company_uri = BASE_URI + _camel(company)
    partner_uri = BASE_URI + _camel(partner)
    person_uri = BASE_URI + _camel(person)

    # alias mention uses a different surface form → different URI that the
    # entity-linking stage must merge into the canonical one
    alias_form = rng.choice(aliases)
    alias_uri = BASE_URI + _camel(alias_form)

    gold = [
        (company_uri, NAMESPACE + "hasName", company),
        (person_uri, NAMESPACE + "hasRole", role),
        (person_uri, NAMESPACE + "worksFor", company_uri),
        (company_uri, NAMESPACE + "locatedIn", city),
        (company_uri, NAMESPACE + "partneredWith", partner_uri),
        (partner_uri, NAMESPACE + "hasName", partner),
    ]

    c = _HtmlComposer()
    c.raw("<!DOCTYPE html>")
    c.raw("<html>")
    c.raw("<head>")
    c.raw("<title>")
    c.text(f"{company} — Quarterly Update", in_body=False)
    c.raw("</title>")
    c.raw(f'<meta name="description" content="{_html.escape(company)} news">')
    c.raw("</head>")
    c.raw("<body>")
    c.ws("\n  ")
    c.raw("<h1>")
    c.text(f"{company} Quarterly Update")
    c.raw("</h1>")
    c.ws("\n  ")
    c.raw("<div class=\"content\">")
    c.ws("\n    ")
    c.raw("<p>")
    c.text(f"{company} is led by {person}, who serves as {role}.")
    c.raw("</p>")
    c.ws("\n    ")
    c.raw("<p>")
    c.text(f"{company} is headquartered in {city}.")
    c.raw("</p>")
    c.ws("\n    ")
    c.raw("<p>")
    # nested inline markup inside a sentence (tests tree-order text join)
    c.text(f"{company} announced a partnership with ")
    c.raw("<b>")
    c.text(partner)
    c.raw("</b>")
    c.text(".")
    c.raw("</p>")
    c.ws("\n    ")
    if rng.random() < 0.5:
        # alias mention sentence (same facts under an alias surface form)
        c.raw("<p>")
        c.text(f"{alias_form} is headquartered in {city}.")
        c.raw("</p>")
        c.ws("\n    ")
        gold.append((alias_uri, NAMESPACE + "locatedIn", city))
    if rng.random() < 0.35:
        # script INSIDE body: its text IS included by the reference body
        # path (ref:src/handlers/mod.rs:114-122 collects all descendants)
        script_text = f"var q={rng.randint(1, 999)};"
        c.raw("<script>")
        c.entity_text(script_text, script_text)
        c.raw("</script>")
        c.ws("\n    ")
    if rng.random() < 0.4:
        # HTML entities in flowing text
        filler = rng.choice(_FILLER)
        c.raw("<p>")
        c.entity_text(
            f"Earnings &amp; outlook: {filler}",
            f"Earnings & outlook: {filler}",
        )
        c.raw("</p>")
        c.ws("\n    ")
    for _ in range(rng.randint(1, 4) if n_filler is None else n_filler):
        c.raw("<p>")
        c.text(" ".join(rng.choice(_FILLER) for _ in range(1 if n_filler is None else 6)))
        c.raw("</p>")
        c.ws("\n    ")
    c.raw("</div>")
    c.ws("\n")
    c.raw("</body>")
    c.raw("</html>")

    url = f"https://crawl.example.org/{seed}/{doc_seq:08d}.html"
    ts = dt.datetime(2025, 1, 1) + dt.timedelta(seconds=doc_seq * 37 % 31_536_000)
    page = Page(
        url=url,
        warc_ts=ts,
        html=c.html_bytes(),
        text=c.expected_text(),
        lang="en",
        doc_seq=doc_seq,
        gold_triples=gold,
    )
    page.alias_map = {alias_uri: company_uri, company_uri: company_uri,
                      partner_uri: partner_uri, person_uri: person_uri}
    return page


def generate_corpus(n_pages: int, seed: int = 42) -> list[Page]:
    return [generate_page(i, seed) for i in range(n_pages)]


def pages_dataframe(spark, n_pages: int, seed: int = 42, num_partitions: int | None = None):
    """pages DataFrame per input_hint schema + doc_seq ordinal.

    At real scale this is `spark.read.format("iceberg").load(...)`;
    the generator stands in for the 10^12-doc crawl table.
    """
    from pyspark.sql import types as T

    corpus = generate_corpus(n_pages, seed)
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("doc_seq", T.LongType(), False),
        ]
    )
    rows = [(p.url, p.warc_ts, p.html, p.text, p.lang, p.doc_seq) for p in corpus]
    df = spark.createDataFrame(rows, schema)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def pages_dataframe_distributed(
    spark,
    n_pages: int,
    seed: int = 42,
    num_partitions: int | None = None,
    n_filler: int | None = None,
):
    """Executor-side page generation (each page is a pure function of
    (seed, doc_seq)) — scales to millions of pages without shipping
    them through the driver.  Same rows as `pages_dataframe`."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("doc_seq", T.LongType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            pages = [generate_page(int(i), seed, n_filler) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [p.url for p in pages],
                    "warc_ts": [p.warc_ts for p in pages],
                    "html": [p.html for p in pages],
                    "text": [p.text for p in pages],
                    "lang": [p.lang for p in pages],
                    "doc_seq": [p.doc_seq for p in pages],
                }
            )

    n_part = num_partitions or spark.sparkContext.defaultParallelism * 2
    base = spark.range(0, n_pages, numPartitions=n_part).select(F.col("id"))
    return base.mapInPandas(gen, schema=schema)
