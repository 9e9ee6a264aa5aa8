"""Graph traversal — `closure`, the one transitive-closure operator,
and `find_related_entities` on top of it.

The reference walks a LIFO stack over the full triple Vec per hop
(ref:src/knowledge_graph/mod.rs:201-232), following edges in BOTH
directions, admitting a neighbor iff it `starts_with("http")`, up to
`max_depth` hops, with a visited set.  Order and duplicates in the
reference output are artifacts of the stack; the *set* of reachable
entities (excluding the seed) is the meaningful result, which is what
this operator returns.

Spark shape: `closure` computes the pairs joined by 1..`max_hops`
hops of an edge list, from one seed or from every source.  It serves
`find_related_entities` (the bidirectional edge list, seeded) and the
SPARQL engine's `p+`/`p*` paths (var-var paths unseeded, a constant
endpoint seeded).  One size decision (operators/dispatch.py) picks
its arm: below the shared bound the BFS `_walk`, on the driver for a
seed and per source inside executor tasks without one; above it one
semi-naive loop over (src, dst) pairs.

Faithfulness notes (both reproduced):
- reverse edges additionally require the *current* node to look
  URI-ish (the reference's `:221` re-checks `triple.object ==
  current_uri && triple.object.starts_with("http")`).
- forward-neighbors only need the neighbor (object) to be URI-ish; the
  subject side is never tested.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators import dispatch


def _adjacency(rows) -> dict[str, list[str]]:
    """{src: [dst, …]} of collected (src, dst) edge rows."""
    adj: dict[str, list[str]] = {}
    for src, dst in rows:
        adj.setdefault(src, []).append(dst)
    return adj


def _walk(
    adj: dict[str, list[str]], seed: str, max_hops: int | None
) -> tuple[set[str], int]:
    """(nodes reached from `seed` over 1..`max_hops` hops of `adj`,
    rounds) — the level-synchronous BFS of `closure`'s walk arm.  Each
    round expands the whole frontier; `rounds` counts expansions,
    including the one that came back empty."""
    frontier: set[str] = {seed}
    reached: set[str] = set()
    rounds = 0
    while max_hops is None or rounds < max_hops:
        rounds += 1
        new = {d for s in frontier for d in adj.get(s, ())} - reached
        if not new:
            break
        reached |= new
        frontier = new
    return reached, rounds


def _walk_closure(
    spark, adj: dict[str, list[str]], max_hops: int | None
) -> DataFrame:
    """(src, dst) pairs 1..`max_hops` hops apart in the adjacency
    `adj`: a local relation of its distinct sources, each walked inside a
    `mapInPandas` task; frames hold at most
    `spark.sql.execution.arrow.maxRecordsPerBatch` rows."""
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def walk(frames):
        import pandas as pd

        pairs = (
            (src, dst)
            for frame in frames
            for src in frame["src"]
            for dst in _walk(adj, src, max_hops)[0]
        )
        while chunk := list(itertools.islice(pairs, batch)):
            yield pd.DataFrame(chunk, columns=["src", "dst"])

    sources = spark.createDataFrame([(s,) for s in adj], "src string")
    return sources.mapInPandas(walk, "src string, dst string")


def closure(
    edges: DataFrame, seed: str | None = None, max_hops: int | None = None
) -> tuple[DataFrame, dict]:
    """(DataFrame(src, dst), stats) — the distinct pairs joined by
    1..`max_hops` hops of the (src, dst) edge list (unbounded when
    `max_hops` is None), from `seed` only when it is given.  A pair
    (x, x) appears iff a cycle leads back to x.  Edges with a NULL
    endpoint are dropped, so NULL is never reached.

    `stats` is {"mode": "walk" | "seminaive", "rounds": n, "seed":
    seed}: which arm ran and its hop expansions, counting the one that
    came back empty; the unseeded walk has no rounds.

    Size dispatch (operators/dispatch.py), one decision on the
    NULL-free edges:

    - at most DRIVER_MAX_EDGES: the walk arm.  The edges come back in
      the decision's collect.  A seed is walked on the driver; without
      one, executor tasks walk every distinct source and stream the
      pairs out in Arrow-sized frames, so the driver never holds the
      closure.  The walk's sets absorb duplicate edges, so this arm
      runs no `distinct` (it cost graph_query's 2-hop traversal a
      shuffle job).
    - above it: semi-naive iteration over the distinct edges,
      checkpointed once, from the one-hop pairs (those of the seed
      only, when seeded).  Each round joins only the NEW pairs against
      the edges and anti-joins out known pairs, until a fixed point or
      `max_hops`; rounds are bounded by the graph diameter plus one.
      Each round's new pairs are checkpointed eagerly, so the known
      pairs stay a flat union of checkpoints: no round re-analyses a
      nested-join lineage, the driver-side bottleneck
      operators/components.py measured."""
    edges = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    spark = edges.sparkSession
    rows = dispatch.bounded_collect(edges, dispatch.DRIVER_MAX_EDGES)
    if rows is not None:
        if seed is None:
            pairs = _walk_closure(spark, _adjacency(rows), max_hops)
            return pairs, {"mode": "walk", "seed": None}
        reached, rounds = _walk(_adjacency(rows), seed, max_hops)
        pairs = spark.createDataFrame(
            [(seed, n) for n in sorted(reached)], "src string, dst string"
        )
        return pairs, {"mode": "walk", "rounds": rounds, "seed": seed}

    base = edges.distinct().localCheckpoint(eager=True)
    hop = base.select(F.col("src").alias("_mid"), F.col("dst").alias("_nd"))
    new = base if seed is None else base.where(F.col("src") == seed)
    pairs = new
    rounds = 1
    while (max_hops is None or rounds < max_hops) and not new.isEmpty():
        rounds += 1
        new = (
            new.join(hop, new["dst"] == hop["_mid"])
            .select("src", F.col("_nd").alias("dst"))
            .distinct()
            .join(pairs, on=["src", "dst"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        pairs = pairs.unionByName(new)
    return pairs, {"mode": "seminaive", "rounds": rounds, "seed": seed}


def find_related_entities(
    graph: DataFrame, entity_uri: str, max_depth: int
) -> DataFrame:
    """DataFrame(entity: string) — distinct entities reachable from the
    seed within max_depth hops, seed excluded."""
    if max_depth <= 0:
        return graph.sparkSession.createDataFrame([], "entity string")

    fwd = graph.select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    ).where(F.col("object").startswith("http"))
    # reverse edges: current node (the object) must itself be URI-ish
    rev = graph.select(
        F.col("object").alias("src"), F.col("subject").alias("dst")
    ).where(F.col("object").startswith("http"))
    # the reference's visited set starts with the seed; reaching it
    # again over a cycle adds nothing else (its neighbours were all
    # reached in round 1), so dropping it afterwards gives the same set
    pairs, _ = closure(fwd.unionByName(rev), entity_uri, max_depth)
    return pairs.where(F.col("dst") != entity_uri).select(
        F.col("dst").alias("entity")
    )
