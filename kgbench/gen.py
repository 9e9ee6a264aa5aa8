"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of its seed and sizes (same seed, same
bytes; see `fingerprint`) and returns the ground truth its workload's
correctness gate needs:

- `crawl_input`: synthetic crawl pages from `sources.pages`, their gold
  triples and the entity clusters the linker must produce;
- `resolve_input`: pre-extracted triple batches over a constructed
  entity universe, the clusters, and the expected committed triple set
  after every batch;
- `query_input`: a graph with heavy-tailed degree, split into the
  batches the store is built from (DuckDB answers the queries over the
  same triples).
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random
from dataclasses import dataclass, field

from rdf_knowledge_extractor_spark.sources.pages import generate_page

# The linker's rules, restated independently: the key is the URI's local
# name with one trailing corporate suffix removed at a lowercase/digit
# boundary, lowercased, non-alphanumerics dropped; two keys are fuzzy
# duplicates when their character-3-gram sets have Jaccard >= 0.85.
LINK_THRESHOLD = 0.85
_SUFFIXES = ("Inc", "Corp", "Corporation", "Solutions", "Industries",
             "Group", "Labs", "Ltd", "Llc", "Gmbh")
# generated names keep every pair at least this far from the threshold
_ABOVE, _BELOW = 0.90, 0.75


def link_key(uri: str) -> str:
    local = uri.rsplit("/", 1)[-1].rsplit("#", 1)[-1]
    unsuffixed = local
    for s in _SUFFIXES:
        if local.endswith(s) and len(local) > len(s) and (
            local[-len(s) - 1].islower() or local[-len(s) - 1].isdigit()
        ):
            unsuffixed = local[: -len(s)]
            break
    norm = "".join(c for c in local if c.isascii() and c.isalnum()).lower()
    stripped = "".join(c for c in unsuffixed if c.isascii() and c.isalnum()).lower()
    return stripped if len(stripped) >= 3 else norm


def shingles(key: str) -> frozenset[str]:
    return frozenset(key[i : i + 3] for i in range(len(key) - 2)) if len(key) >= 3 else frozenset([key])


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def reference_clusters(uris) -> dict[str, str]:
    """uri -> canonical (min URI of its cluster) under the linker's rules:
    equal keys, or keys whose shingle Jaccard reaches the threshold,
    joined transitively.  Candidate key pairs come from an inverted
    index on 3-grams, so this scales to the benchmark's universes."""
    uris = sorted(set(uris))
    by_key: dict[str, list[str]] = {}
    for u in uris:
        by_key.setdefault(link_key(u), []).append(u)
    keys = sorted(by_key)
    sh = {k: shingles(k) for k in keys}
    parent = {k: k for k in keys}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    for a, b in similar_pairs(sh, LINK_THRESHOLD):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    canon: dict[str, str] = {}
    for k in keys:
        r = find(k)
        canon[r] = min(canon.get(r, by_key[k][0]), by_key[k][0])
    return {u: canon[find(k)] for k, us in by_key.items() for u in us}


def similar_pairs(sh: dict[str, frozenset], threshold: float):
    """Key pairs whose shingle Jaccard is >= threshold."""
    postings: dict[str, list[str]] = {}
    for k, s in sh.items():
        for g in s:
            postings.setdefault(g, []).append(k)
    for k, s in sh.items():
        shared: dict[str, int] = {}
        for g in s:
            for other in postings[g]:
                if other > k:
                    shared[other] = shared.get(other, 0) + 1
        for other, n in shared.items():
            if n / (len(s) + len(sh[other]) - n) >= threshold:
                yield k, other


def canonical_triples(triples, canon: dict[str, str]) -> set[tuple[str, str, str]]:
    """The committed form of `triples`: subjects and URI objects remapped."""
    out = set()
    for s, p, o in triples:
        if o.startswith(("http://", "https://")):
            o = canon.get(o, o)
        out.add((canon.get(s, s), p, o))
    return out


def fingerprint(obj) -> str:
    """sha256 of the repr of a generated input: equal iff byte-identical."""
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _zipf_sampler(rng: random.Random, n: int, s: float):
    cum = list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))
    total = cum[-1]
    return lambda: bisect.bisect_left(cum, rng.random() * total)


# ---------------------------------------------------------------------------
# crawl_build
# ---------------------------------------------------------------------------

CRAWL_PREDICATES = ["hasName", "hasRole", "worksFor", "locatedIn", "partneredWith"]


@dataclass
class CrawlInput:
    rows: list[tuple]                      # (url, html, doc_seq)
    gold: set[tuple[str, str, str]]        # gold triples over all pages
    alias_map: dict[str, str]              # surface URI -> company URI
    html_bytes: int


def crawl_input(seed: int, n_pages: int, n_filler: int) -> CrawlInput:
    pages = [generate_page(i, seed, n_filler) for i in range(n_pages)]
    gold: set = set()
    alias_map: dict[str, str] = {}
    for p in pages:
        gold.update(p.gold_triples)
        alias_map.update(p.alias_map)
    return CrawlInput(
        rows=[(p.url, p.html, p.doc_seq) for p in pages],
        gold=gold,
        alias_map=alias_map,
        html_bytes=sum(len(p.html) for p in pages),
    )


# ---------------------------------------------------------------------------
# entity_resolve
# ---------------------------------------------------------------------------

ER_BASE = "http://er.example.org/entity/"
ER_NS = "http://er.example.org/ontology#"
_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_CITIES = ["Austin", "Boston", "Berlin", "Lagos", "Lima", "Oslo", "Osaka",
           "Perth", "Quito", "Seoul", "Tunis", "Vienna"]


@dataclass
class ResolveInput:
    batches: list[list[tuple]]             # rows in TRIPLE_SCHEMA order
    clusters: dict[str, str]               # every URI -> its cluster's canonical
    expected_added: list[int]              # rows each batch adds to the store
    expected_total: list[int]              # store rows after each batch
    expected_final: set[tuple[str, str, str]]
    props: dict = field(default_factory=dict)


def _er_name(rng: random.Random) -> tuple[str, str]:
    """Two capitalised words, 3-4 and 3 syllables: 12-14 letters, so
    one appended letter usually keeps Jaccard >= 0.90 (the caller
    rejects the names where it does not)."""
    w1 = "".join(rng.choice(_SYL) for _ in range(rng.randint(3, 4)))
    w2 = "".join(rng.choice(_SYL) for _ in range(3))
    return w1.capitalize(), w2.capitalize()


def _er_universe(rng: random.Random, n_clusters: int, distractor_share: float):
    """Clusters of surface local names, rejection-sampled until every
    within-cluster key pair has Jaccard >= 0.90 and every cross-cluster
    pair <= 0.75.  Member 0 is the canonical form and sorts first."""
    clusters: list[list[str]] = []
    kinds = {"suffix": 0, "punct": 0, "typo": 0, "distractor": 0}
    keys: dict[str, int] = {}                  # key -> cluster index
    sh: dict[str, frozenset] = {}
    postings: dict[str, set[str]] = {}

    def conflicts(new_keys: dict[str, frozenset]) -> bool:
        for k, s in new_keys.items():
            if k in keys:
                return True
            shared: dict[str, int] = {}
            for g in s:
                for other in postings.get(g, ()):
                    shared[other] = shared.get(other, 0) + 1
            for other, n in shared.items():
                if n / (len(s) + len(sh[other]) - n) > _BELOW:
                    return True
        return False

    while len(clusters) < n_clusters:
        if clusters and rng.random() < distractor_share:
            # near-miss sibling: same first word, a different second word
            first = clusters[rng.randrange(len(clusters))][0]
            w1 = first[: [i for i, c in enumerate(first) if c.isupper()][1]]
            w2 = _er_name(rng)[1]
            kind = "distractor"
        else:
            w1, w2 = _er_name(rng)
            kind = None
        canon = w1 + w2
        members, used = [canon], [kind] if kind else []
        if rng.random() < 0.5:
            members.append(canon + rng.choice(["Inc", "Group", "Labs", "Corp"]))
            used.append("suffix")
        if rng.random() < 0.3:
            members.append(f"{w1}_{w2}")  # '_' sorts after letters
            used.append("punct")
        if rng.random() < 0.25:
            members.append(canon + canon[-1])  # doubled final letter
            used.append("typo")
        member_keys = {link_key(m) for m in members}
        msh = {k: shingles(k) for k in member_keys}
        if min((jaccard(a, b) for a, b in itertools.combinations(msh.values(), 2)), default=1.0) < _ABOVE:
            continue
        if conflicts(msh):
            continue
        for k in used:
            kinds[k] += 1
        idx = len(clusters)
        clusters.append(sorted(members))
        for k, s in msh.items():
            keys[k] = idx
            sh[k] = s
            for g in s:
                postings.setdefault(g, set()).add(k)
    return clusters, kinds


def resolve_input(seed: int, n_clusters: int, n_batches: int, mentions_per_batch: int,
                  zipf_s: float = 1.1, distractor_share: float = 0.1) -> ResolveInput:
    rng = random.Random(seed)
    clusters, kinds = _er_universe(rng, n_clusters, distractor_share)
    uri = lambda local: ER_BASE + local  # noqa: E731
    canon_of = {uri(m): uri(c[0]) for c in clusters for m in c}
    # each entity's fixed facts; URI objects name a cluster, not a form
    facts = []
    for i, c in enumerate(clusters):
        f = [("hasName", ("lit", c[0])), ("locatedIn", ("lit", rng.choice(_CITIES)))]
        for _ in range(rng.randint(1, 3)):
            f.append(("partneredWith", ("ent", rng.randrange(n_clusters))))
        if i:
            f.append(("subsidiaryOf", ("ent", rng.randrange(i))))
        facts.append(f)
    pick = _zipf_sampler(rng, n_clusters, zipf_s)
    order = list(range(n_clusters))
    rng.shuffle(order)  # popularity rank is independent of name order

    batches, added, totals = [], [], []
    committed: set = set()
    doc_seq = 0
    for b in range(n_batches):
        raw: list[tuple[str, str, str]] = []
        for _ in range(mentions_per_batch):
            ci = order[pick()]
            pred, (kind, val) = rng.choice(facts[ci])
            s = uri(rng.choice(clusters[ci]))
            o = uri(rng.choice(clusters[val])) if kind == "ent" else val
            raw.append((s, ER_NS + pred, o))
        # every batch carries the canonical form of each entity it
        # mentions, so per-batch linking picks the global canonical id
        present = {t[0] for t in raw} | {t[2] for t in raw if t[2].startswith("http")}
        for canon in sorted({canon_of[u] for u in present} - present):
            local = canon[len(ER_BASE):]
            raw.append((canon, ER_NS + "hasName", local))
        rows = []
        for i, (s, p, o) in enumerate(raw):
            if i % 8 == 0:
                doc_seq += 1
            rows.append((s, p, o, 0.9, f"er://{seed}/b{b}/d{doc_seq}", None, doc_seq, i % 8))
        batches.append(rows)
        canon_rows = canonical_triples(raw, canon_of)
        new = canon_rows - committed
        committed |= new
        added.append(len(new))
        totals.append(len(committed))
    n_uris = sum(len(c) for c in clusters)
    props = {
        "clusters": n_clusters,
        "surface_uris": n_uris,
        "alias_mix": kinds,
        "zipf_s": zipf_s,
        "batches": n_batches,
        "rows_per_batch": [len(b) for b in batches],
        "anti_join_drop_share": round(1 - sum(added) / sum(
            len(canonical_triples([r[:3] for r in b], canon_of)) for b in batches), 4),
    }
    return ResolveInput(batches, canon_of, added, totals, committed, props)


# ---------------------------------------------------------------------------
# graph_query
# ---------------------------------------------------------------------------

KG_BASE = "http://kg.example.org/resource/"
KG_NS = "http://kg.example.org/ontology#"
_ROLES = ["CEO", "CTO", "CFO", "COO", "Engineer", "Analyst", "Designer", "Manager"]


@dataclass
class QueryInput:
    triples: list[tuple[str, str, str]]
    batches: list[list[tuple[str, str, str]]]
    companies: list[str]
    persons: list[str]
    cities: list[str]
    deepest: list[str]                     # companies max_depth - 1 levels down
    props: dict = field(default_factory=dict)


def query_input(seed: int, n_companies: int, n_persons: int, n_batches: int,
                max_depth: int = 4) -> QueryInput:
    rng = random.Random(seed)
    companies = [f"{KG_BASE}Company{i}" for i in range(n_companies)]
    persons = [f"{KG_BASE}Person{i}" for i in range(n_persons)]
    cities = [f"City{i}" for i in range(40)]
    pick_company = _zipf_sampler(rng, n_companies, 1.0)
    pick_city = _zipf_sampler(rng, len(cities), 1.0)
    pick_fanout = _zipf_sampler(rng, 12, 1.5)
    t: list[tuple[str, str, str]] = []
    # bounded-depth subsidiary forest: level(c) < max_depth
    level = [0] * n_companies
    for i, c in enumerate(companies):
        t.append((c, KG_NS + "hasName", f"Company {i}"))
        t.append((c, KG_NS + "locatedIn", cities[pick_city()]))
        for j in {pick_company() for _ in range(pick_fanout() + 1)} - {i}:
            t.append((c, KG_NS + "partneredWith", companies[j]))
        if i >= 8 and rng.random() < 0.8:
            parent = rng.randrange(i)
            if level[parent] < max_depth - 1:
                level[i] = level[parent] + 1
                t.append((c, KG_NS + "subOrgOf", companies[parent]))
    for i, p in enumerate(persons):
        t.append((p, KG_NS + "hasName", f"Person {i}"))
        t.append((p, KG_NS + "hasRole", rng.choice(_ROLES)))
        t.append((p, KG_NS + "worksFor", companies[pick_company()]))
    t = sorted(set(t))
    rng.shuffle(t)
    size = -(-len(t) // n_batches)
    batches = [t[i : i + size] for i in range(0, len(t), size)]
    indeg: dict[str, int] = {}
    for _s, _p, o in t:
        if o.startswith("http"):
            indeg[o] = indeg.get(o, 0) + 1
    props = {
        "triples": len(t),
        "companies": n_companies,
        "persons": n_persons,
        "file_sets": len(batches),
        "max_in_degree": max(indeg.values()),
        "max_depth": max_depth,
    }
    deepest = [c for c, lv in zip(companies, level) if lv == max_depth - 1]
    return QueryInput(t, batches, companies, persons, cities, deepest, props)
