"""Entity linking: prefix-filter blocking + verified candidate edges.

North-star stage (BASELINE.json): coreferent entity URIs produced by
extraction ("TechCorp Inc." / "TechCorp" / "TechCorp, Inc." …) must be
discovered as link candidates WITHOUT an O(n²) comparison.  Design:

1. entity universe  = distinct subjects + URI objects of the triple
   table (one shuffle for the distinct);
2. normalize        = pure-Catalyst canonical key (lowercased local
   name, non-alnum stripped, trailing corporate suffix token removed)
   and its character-3-gram shingle array;
3. exact-key tier   = one groupBy collapses each key group to its
   min-URI representative (equal keys ⇒ equal shingles ⇒ J = 1);
4. blocking         = PPJoin prefix filtering over the representatives'
   shingles (textdedup.rarest_first_prefix → _bucket_candidate_pairs):
   exact recall at the threshold, hot postings routed through a
   distributed self-join, never dropped; at or below
   `RANKED_PREFIX_MIN_ENTITIES` entities a direct self-join on every
   shingle replaces the ranking;
5. verification     = exact Jaccard on xxhash64-hashed shingle sets
   (textdedup._verified_pairs) — no Python in the verify path;
6. edges → connected components (operators/components.py) →
   canonical id per cluster.

The reference has no equivalent (its store keeps every surface-form
URI distinct); this stage is the scale-mandated addition
(BASELINE.json north_star, PAPERS.md: SparkER/MinoanER blocking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.components import connected_components
from rdf_knowledge_extractor_spark.operators.textdedup import (
    _bucket_candidate_pairs,
    _verified_pairs,
    rarest_first_prefix,
    shingle_hash_col,
)

# corporate suffix tokens, matched ONLY at a CamelCase token boundary
# (lookbehind for a lowercase char/digit) so stems like "Techcorp"
# keep their embedded "corp"
_SUFFIXES = "Inc|Corp|Corporation|Solutions|Industries|Group|Labs|Ltd|Llc|Gmbh"

# entity-universe size above which link_entities ranks prefixes by
# rarity (three extra small shuffles that keep big inputs near-linear);
# at or below it the job-latency floor is the whole cost, so every
# shingle is indexed directly.  Read at call time.
RANKED_PREFIX_MIN_ENTITIES = 1_000

# shingle-Jaccard threshold of a fuzzy link (see verified_edges) and the
# posting-list size above which a prefix bucket is paired through the
# distributed self-join arm instead of in-array combinations
LINK_THRESHOLD = 0.85
MAX_BUCKET_SIZE = 200


def entity_universe(triples: DataFrame) -> DataFrame:
    """Distinct entity URIs: all subjects + URI-shaped objects."""
    subs = triples.select(F.col("subject").alias("uri"))
    objs = triples.select(F.col("object").alias("uri")).filter(
        F.col("object").startswith("http://") | F.col("object").startswith("https://")
    )
    return subs.unionByName(objs).distinct()


def key_shingles(key) -> "F.Column":
    """char-3-gram shingle array of a canonical-key column (the
    shingles are a pure function of the key — shared by
    with_canonical_key and the representative fast path in
    link_entities).  Delegates to the shared char_shingles helper so
    the k-gram expression has one definition."""
    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        char_shingles,
    )

    return char_shingles(key, 3)


def with_canonical_key(entities: DataFrame) -> DataFrame:
    """Add `key` (normalized local name) and `shingles` (char 3-grams).

    All pure Catalyst: local name = after last '/' then last '#';
    lowercase; strip non-alnum; strip one trailing corporate suffix.
    """
    local = F.element_at(F.split(F.element_at(F.split(F.col("uri"), "/"), -1), "#"), -1)
    unsuffixed = F.regexp_replace(local, f"(?<=[a-z0-9])({_SUFFIXES})$", "")
    norm = F.lower(F.regexp_replace(local, "[^a-zA-Z0-9]", ""))
    stripped = F.lower(F.regexp_replace(unsuffixed, "[^a-zA-Z0-9]", ""))
    key = F.when(F.length(stripped) >= 3, stripped).otherwise(norm)
    df = entities.withColumn("key", key)
    return df.withColumn("shingles", key_shingles(F.col("key")))


def prefix_candidate_pairs(
    entities_with_shingles: DataFrame,
    threshold: float = LINK_THRESHOLD,
    max_bucket_size: int = MAX_BUCKET_SIZE,
    rank_prefixes: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(candidate_pairs(uri_a, uri_b), oversized_report) via PREFIX
    FILTERING (PPJoin family) over the canonical-key shingles.

    EXACT recall by theorem: two shingle sets with Jaccard ≥ t must
    share an element within each set's ⌊(1-t)·n⌋+1 RAREST shingles —
    so only those prefixes enter the inverted index, with zero recall
    loss (the guarantee the exact-Jaccard verifier needs; MinHash-LSH
    only offered a probabilistic one).  On short canonical keys this
    is also orders of magnitude cheaper: numeric-suffix key families
    ("doc123…", "doc124…") share most of their 3-grams, so banded
    MinHash put thousands of sub-threshold keys in the same buckets —
    measured 2.07M candidate pairs from 15k representatives at sf0.1,
    21 s of verification — while rarest-first prefixes keep posting
    lists to the handful of entities sharing a RARE gram.  Oversized
    postings route through the distributed self-join arm (exact, never
    dropped), keeping recall deterministic at any scale.
    """
    if rank_prefixes:
        pairs, report = _bucket_candidate_pairs(
            rarest_first_prefix(
                entities_with_shingles.select(F.col("uri").alias("id"), "shingles"),
                threshold,
            ),
            ["g"],
            "id",
            max_bucket_size=max_bucket_size,
        )
    else:
        # tiny-input fast arm: index EVERY shingle (a candidate
        # superset of the ranked prefix — recall still exact) and
        # generate pairs with a DIRECT self-equi-join on the inverted
        # index.  The pair set is identical to the bucket machinery's
        # (its selfjoin arm makes bucketed generation ≡ the plain
        # self-join for every bucket size), but the plan is 2 stages
        # instead of groupBy + persist + in-array combos + report
        # branches — at the sizes this arm dispatches on (at most
        # RANKED_PREFIX_MIN_ENTITIES entities, see link_entities) the
        # job-latency floor is the whole cost.  Oversized-report is
        # vacuously empty.
        inv = entities_with_shingles.select(
            F.col("uri").alias("id"), F.explode("shingles").alias("g")
        )
        a = inv.select(F.col("id").alias("id_a"), "g")
        b = inv.select(F.col("id").alias("id_b"), "g")
        pairs = (
            a.join(b, on="g")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        report = entities_with_shingles.sparkSession.createDataFrame(
            [], "g string, n int"
        )
    return (
        pairs.select(F.col("id_a").alias("uri_a"), F.col("id_b").alias("uri_b")),
        report,
    )


def verified_edges(
    pairs: DataFrame,
    entities_with_shingles: DataFrame,
    threshold: float = LINK_THRESHOLD,
) -> DataFrame:
    """Filter candidates(uri_a, uri_b) to shingle Jaccard ≥ t.

    Default t=0.85: tier-1 key equality already resolves suffix and
    punctuation variants, so the fuzzy tier only needs typo-level
    similarity — and looser thresholds create false merges between
    short names with numeric suffixes (J(person1, person17)=0.83).
    Equal keys need no separate rule: `char_shingles` never returns an
    empty array, so they have equal shingle sets and J = 1.

    The check is textdedup._verified_pairs on XXHASH64-HASHED shingles:
    int64 intersect sizes equal the string-shingle sizes up to a 2⁻⁶⁴
    in-pair hash collision (the same accepted equivalence as
    minhash_lsh_pairs), and compare ~3× cheaper than 3-char strings.
    """
    # array_distinct on the hashes makes them SETS even under a hash
    # collision, as _verified_pairs requires
    sets = entities_with_shingles.select(
        F.col("uri").alias("id"),
        F.array_distinct(shingle_hash_col(F.col("shingles"))).alias("h"),
    )
    cands = pairs.select(F.col("uri_a").alias("id_a"), F.col("uri_b").alias("id_b"))
    return _verified_pairs(cands, sets, sets, threshold).select(
        F.col("id_a").alias("uri_a"), F.col("id_b").alias("uri_b")
    )


def link_entities(triples: DataFrame) -> DataFrame:
    """Full linking stage: triples → mapping(uri, canonical).

    canonical = min URI of the connected component (deterministic).
    Every entity in the universe appears in the mapping (identity rows
    for un-linked entities), so downstream remaps are total.

    Two-tier design:

    1. **Exact-key tier** — entities sharing a canonical key are one
       cluster by construction (their shingle sets are identical);
       one groupBy collapses each key group to its min-URI
       representative.  This resolves the overwhelming majority of
       coreference (suffix/punctuation variants) with a single
       shuffle.
    2. **Fuzzy tier** — prefix-filtered candidates (exact recall at
       `LINK_THRESHOLD`; see prefix_candidate_pairs) + Jaccard verification
       + connected components run only over the key REPRESENTATIVES
       (typo-level variants whose keys differ).  Universes of at most
       `RANKED_PREFIX_MIN_ENTITIES` entities skip the rarity ranking
       (same pairs, fewer stages).  When no fuzzy edge exists the CC
       loop exits before its first iteration, so the tier costs two
       small jobs.

    The result is identical to running blocking+CC over the full universe
    (same-key members form cliques, so any cross-key member edge is
    equivalent to the corresponding representative edge), at a
    fraction of the job count — this matters both at tiny scale
    (driver job-latency floor) and at 10^12 scale (the fuzzy tier's
    candidate space shrinks from |entities|² to |distinct keys|²).

    Partitioning is AQE-governed throughout (post-shuffle coalescing
    under caching enabled in session.py) — data-proportional task
    counts with no manual sizing.
    """
    universe = entity_universe(triples)
    # localCheckpoint (not persist): the entity table is the root of
    # every downstream linking plan (key tier, blocking, verify, CC rounds,
    # final mapping join).  persist() caches DATA but keeps the full
    # upstream logical plan (scan → extract UDF → merge), and the
    # single-threaded driver re-ANALYZES that deep tree on every one of
    # the ~dozen actions this stage runs — measured at multiple seconds
    # per action at bench scale.  Checkpointing truncates the lineage
    # so each action analyzes a flat plan.  Trade-offs, accepted: (a)
    # truncated lineage is NOT recomputable — executor/block loss fails
    # the job, and the enclosing stage is re-run from the pipeline's
    # durable stage checkpoint (plans/pipeline.py resume), the same
    # trade the CC loop makes; (b) checkpoint blocks are freed when the
    # driver GCs the RDD, not by clearCache() — long-lived sessions
    # calling link_entities repeatedly release them via normal GC of
    # the returned mapping's references.
    ent = with_canonical_key(universe).localCheckpoint(eager=True)

    # tier 1: key group → min-URI representative
    key_rep = ent.groupBy("key").agg(F.min("uri").alias("rep"))
    # one entity row per representative: shingles are a pure function
    # of the key, so they are RE-DERIVED from key_rep instead of joined
    # back against `ent` — drops a whole join (shuffle + filter pass
    # over the entity table) from the linking critical path
    reps = key_rep.select(
        F.col("rep").alias("uri"), "key", key_shingles(F.col("key")).alias("shingles")
    ).persist()

    # tier 2: fuzzy linking over representatives — prefix-filtered
    # candidates (EXACT recall at `LINK_THRESHOLD`, no sketch UDF, no
    # python worker round-trip; see prefix_candidate_pairs for the
    # MinHash-vs-prefix measurement that motivated the switch).  The
    # rarity ranking is switched on by the universe size (count on the
    # checkpointed table is a cached-scan job) — the same kind of size
    # dispatch as connected_components' driver arm.
    pairs, _oversized = prefix_candidate_pairs(
        reps, rank_prefixes=ent.count() > RANKED_PREFIX_MIN_ENTITIES
    )
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
    reps.unpersist()
    return mapping
