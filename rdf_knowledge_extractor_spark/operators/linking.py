"""Entity linking: coreferent entity URIs produced by extraction
("TechCorp Inc." / "TechCorp" / "TechCorp, Inc." …) resolved to one
canonical URI WITHOUT an O(n²) comparison — the north-star stage
(BASELINE.json; the reference keeps every surface form distinct).

1. universe  = distinct subjects + URI objects, one projection over one
   scan (a NULL subject is no entity); key (lowercased local name,
   non-alnum and one trailing corporate suffix stripped) and its
   char-3-gram shingles are Catalyst columns built from SQL text, one
   definition for both arms;
2. key tier  = each key group collapses to its min-URI representative
   (equal keys ⇒ equal shingles ⇒ J = 1);
3. blocking  = PPJoin prefix filter over the representatives: each
   set's ⌊(1−t)·n⌋+1 rarest shingles (`textdedup._prefix_len`) enter an
   inverted index — exact recall at the threshold;
4. verify    = Jaccard ≥ `LINK_THRESHOLD` on the unrounded ratio;
5. cluster   = union of the verified edges; canonical = min URI.

SparkER and MinoanER (PAPERS.md) keep blocking, comparison and
clustering as separate steps resolved in a fixed number of them; at
crawl-batch scale all of them fit one collect.  So ONE size decision,
the shared `dispatch.DRIVER_MAX_EDGES`, picks the arm:

- **driver arm** (`_link_driver`) — a universe of at most that many
  entities comes back in one `bounded_collect` and steps 2–5 run in
  Python; the mapping returns as a local relation built through Arrow.
  While it builds its prefix postings it counts the pairs they hold
  (each append to a posting of c keys adds c pairs) and gives way to
  the distributed arm as soon as the count passes the same bound, so a
  hot gram in every prefix cannot make the driver build quadratic
  pairs.
- **distributed arm** (`_link_distributed`) — a groupBy for the key
  tier, `textdedup._bucket_candidate_pairs` over the ranked prefixes
  (postings over `dispatch.MAX_BUCKET_SIZE` routed through a
  distributed self-join, never dropped), `textdedup._verified_pairs`
  and `connected_components`.
"""

from __future__ import annotations

import itertools
from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators import dispatch
from rdf_knowledge_extractor_spark.operators.components import (
    connected_components,
    union_find,
)
from rdf_knowledge_extractor_spark.operators.textdedup import (
    _bucket_candidate_pairs,
    _prefix_len,
    _verified_pairs,
    rarest_first_prefix,
    shingle_hash_col,
)

# corporate suffix tokens, matched ONLY at a CamelCase token boundary
# (lookbehind for a lowercase char/digit) so stems like "Techcorp"
# keep their embedded "corp"
_SUFFIXES = "Inc|Corp|Corporation|Solutions|Industries|Group|Labs|Ltd|Llc|Gmbh"

# shingle-Jaccard threshold of a fuzzy link (see verified_edges)
LINK_THRESHOLD = 0.85


def entity_universe(triples: DataFrame) -> DataFrame:
    """Distinct entity URIs: all subjects + URI-shaped objects.

    One projection over one scan, so the input's plan (the merge
    exchange) runs once: each row contributes its subject and, when
    URI-shaped, its object, exploded and made distinct.  A NULL subject
    stays a universe row; a literal or NULL object adds none."""
    return triples.selectExpr(
        "explode(CASE WHEN startswith(object, 'http://')"
        " OR startswith(object, 'https://')"
        " THEN array(subject, object) ELSE array(subject) END) AS uri"
    ).distinct()


def key_shingles(key: str) -> str:
    """SQL of the char-3-gram shingle array of the canonical-key column
    `key`: the grams of `text_analysis.char_shingles(key, 3)`, one
    definition for entities and representatives."""
    return (
        f"CASE WHEN length({key}) >= 3 THEN array_distinct(transform("
        f"sequence(1, length({key}) - 2), i -> substr({key}, i, 3)))"
        f" ELSE array({key}) END"
    )


def with_canonical_key(entities: DataFrame) -> DataFrame:
    """Add `key` (normalized local name) and `shingles` (char 3-grams).

    All pure Catalyst, built from SQL text in two py4j calls: local
    name = after last '/' then last '#'; lowercase; strip non-alnum;
    strip one trailing corporate suffix.
    """
    local = "element_at(split(element_at(split(uri, '/'), -1), '#'), -1)"
    unsuffixed = f"regexp_replace({local}, '(?<=[a-z0-9])({_SUFFIXES})$', '')"
    norm = f"lower(regexp_replace({local}, '[^a-zA-Z0-9]', ''))"
    stripped = f"lower(regexp_replace({unsuffixed}, '[^a-zA-Z0-9]', ''))"
    key = f"CASE WHEN length({stripped}) >= 3 THEN {stripped} ELSE {norm} END"
    return entities.selectExpr("*", f"{key} AS key").selectExpr(
        "*", f"{key_shingles('key')} AS shingles"
    )


def prefix_candidate_pairs(
    entities_with_shingles: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs(uri_a, uri_b), the persisted posting aggregate
    they read) via PREFIX FILTERING over the canonical-key shingles:
    only each set's rarest `_prefix_len` shingles enter the inverted
    index, with exact recall.  The caller owns the aggregate and
    unpersists it once the pairs have been read.
    MinHash banding, measured on numeric-suffix key families ("doc123…",
    "doc124…"), gave 2.07M candidate pairs from 15k representatives at
    sf0.1; rarest-first postings hold the few entities sharing a RARE
    gram.  Oversized postings go through the distributed self-join arm.
    """
    pairs, postings = _bucket_candidate_pairs(
        rarest_first_prefix(
            entities_with_shingles.select(F.col("uri").alias("id"), "shingles"),
            LINK_THRESHOLD,
        ),
        ["g"],
        "id",
        with_buckets=True,
    )
    return (
        pairs.select(F.col("id_a").alias("uri_a"), F.col("id_b").alias("uri_b")),
        postings,
    )


def verified_edges(pairs: DataFrame, entities_with_shingles: DataFrame) -> DataFrame:
    """Filter candidates(uri_a, uri_b) to shingle Jaccard ≥ `LINK_THRESHOLD`.

    The threshold is 0.85: the key tier already resolves suffix and
    punctuation variants, so the fuzzy tier only needs typo-level
    similarity, and looser thresholds merge short numbered names
    (J(person1, person17) = 0.83).  Runs `textdedup._verified_pairs` on xxhash64-hashed
    shingles: equal to the string sets' Jaccard up to a 2⁻⁶⁴ in-pair
    collision, and ~3× cheaper to compare.
    """
    # array_distinct on the hashes makes them SETS even under a hash
    # collision, as _verified_pairs requires
    sets = entities_with_shingles.select(
        F.col("uri").alias("id"),
        F.array_distinct(shingle_hash_col(F.col("shingles"))).alias("h"),
    )
    cands = pairs.select(F.col("uri_a").alias("id_a"), F.col("uri_b").alias("id_b"))
    return _verified_pairs(cands, sets, sets, LINK_THRESHOLD).select(
        F.col("id_a").alias("uri_a"), F.col("id_b").alias("uri_b")
    )


def _link_driver(rows, threshold: float, max_pairs: int) -> dict | None:
    """uri → canonical from collected (uri, key, shingles) rows, or None
    as soon as the prefix postings hold more than `max_pairs` pairs.  The
    distributed arm's steps and answers: prefixes ranked by document
    frequency across the representatives (ties by value), the exact
    string-set Jaccard, and a NULL `uri` skipped as its key join skips
    it."""
    rep: dict = {}
    sets: dict = {}
    for uri, key, shingles in rows:
        if uri is None:
            continue
        if key not in rep:
            rep[key], sets[key] = uri, frozenset(shingles)
        elif uri < rep[key]:
            rep[key] = uri
    freq = Counter(g for s in sets.values() for g in s)
    postings = defaultdict(list)
    n_pairs = 0
    for key, s in sets.items():
        ranked = sorted(s, key=lambda g: (freq[g], g))
        for g in ranked[: _prefix_len(threshold, len(s))]:
            posting = postings[g]
            n_pairs += len(posting)
            if n_pairs > max_pairs:
                return None
            posting.append(key)
    cands = {
        (a, b) if a < b else (b, a)
        for keys in postings.values()
        for a, b in itertools.combinations(keys, 2)
    }
    edges = []
    for a, b in cands:
        i = len(sets[a] & sets[b])
        if i / (len(sets[a]) + len(sets[b]) - i) >= threshold:
            edges.append((rep[a], rep[b]))
    label = union_find(edges)
    return {u: label.get(rep[k], rep[k]) for u, k, _ in rows if u is not None}


def _link_distributed(ent: DataFrame) -> DataFrame:
    """The mapping of the (uri, key, shingles) table `ent`, computed
    with Spark joins (see the module docstring)."""
    # tier 1: key group → min-URI representative
    key_rep = ent.groupBy("key").agg(F.min("uri").alias("rep"))
    # shingles are a pure function of the key: re-derived, not joined
    # back from `ent` (one join less on the critical path)
    reps = key_rep.selectExpr(
        "rep AS uri", "key", f"{key_shingles('key')} AS shingles"
    ).persist()
    pairs, postings = prefix_candidate_pairs(reps)
    # representatives have distinct URIs and pairs come out ordered
    # (uri_a < uri_b), so every verified pair is a true fuzzy edge
    edges = verified_edges(pairs, reps)
    components = connected_components(edges, src="uri_a", dst="uri_b")
    rep_canon = (
        key_rep.select(F.col("rep").alias("node"), "key")
        .join(components, on="node", how="left")
        .select(
            "key",
            F.coalesce(F.col("component"), F.col("node")).alias("canonical"),
        )
    )
    mapping = ent.join(rep_canon, on="key").select("uri", "canonical")
    # components is materialized: the pairs' caches have no reader left
    reps.unpersist()
    postings.unpersist()
    return mapping


def link_entities(triples: DataFrame) -> DataFrame:
    """Full linking stage: triples → mapping(uri, canonical), one row
    per entity of the universe (identity rows for un-linked ones), so
    downstream remaps are total.  canonical = min URI of the cluster.

    Clustering runs over the key representatives only: same-key members
    form cliques, so the result equals clustering the full universe
    while the candidate space shrinks from |entities|² to |keys|².  The
    arm is chosen as the module docstring says; the driver arm's local
    relation is a leaf canonicalize broadcasts.
    """
    # localCheckpoint, not persist: persist() keeps the upstream plan
    # (scan → extract UDF → merge), which the driver re-analyzes on
    # every action (seconds each at bench scale), and the checkpoint
    # means the universe is shuffled once even when the probe falls
    # through to the distributed arm.  LAZY: creating it already runs
    # the shuffle under it (AQE materializes its query stages) and the
    # probe's collect fills the blocks, so eager would only add a job
    # (traced crawl_build link: 6 → 5 jobs).  Accepted: truncated
    # lineage is not recomputable (block loss re-runs the pipeline
    # stage from its durable checkpoint), and the blocks are freed by
    # GC of the RDD, not by clearCache().
    ent = with_canonical_key(entity_universe(triples)).localCheckpoint(eager=False)
    bound = dispatch.DRIVER_MAX_EDGES
    rows = dispatch.bounded_collect(ent, bound)
    if rows is not None:
        canon = _link_driver(rows, LINK_THRESHOLD, bound)
        if canon is not None:
            return ent.sparkSession.createDataFrame(
                pd.DataFrame(list(canon.items()), columns=["uri", "canonical"]),
                "uri string, canonical string",
            )
    return _link_distributed(ent)
