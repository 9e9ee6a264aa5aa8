"""Graph traversal — `find_related_entities` as iterative frontier joins.

The reference walks a LIFO stack over the full triple Vec per hop
(ref:src/knowledge_graph/mod.rs:201-232), following edges in BOTH
directions, admitting a neighbor iff it `starts_with("http")`, up to
`max_depth` hops, with a visited set.  Order and duplicates in the
reference output are artifacts of the stack; the *set* of reachable
entities (excluding the seed) is the meaningful result, which is what
this operator returns.

Spark shape: build the bidirectional edge list once, then walk it
with `reachable`, the one hop-by-hop search in the package (the
SPARQL engine's seeded `p+` paths call it too): a driver-side BFS for
small edge lists, a broadcast-frontier loop above the shared size
bound (operators/dispatch.py).  The BFS itself is `_walk`, which also
serves the SPARQL engine's full `p+`/`p*` closure below that bound,
one walk per source inside executor tasks.

Faithfulness notes (both reproduced):
- reverse edges additionally require the *current* node to look
  URI-ish (the reference's `:221` re-checks `triple.object ==
  current_uri && triple.object.starts_with("http")`).
- forward-neighbors only need the neighbor (object) to be URI-ish; the
  subject side is never tested.
"""

from __future__ import annotations

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
    rounds) — the level-synchronous BFS behind `reachable`'s driver arm
    and the full property-path closure's walk arm.  Each round expands
    the whole frontier; `rounds` counts expansions, including the one
    that came back empty."""
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


def reachable(
    edges: DataFrame, seed: str, max_hops: int | None = None
) -> tuple[DataFrame, int]:
    """(DataFrame(node: string), rounds) — distinct nodes reached from
    `seed` over 1..`max_hops` hops of the (src, dst) edge list
    (unbounded when `max_hops` is None).  The seed is included iff a
    cycle leads back to it.  `rounds` counts frontier expansions,
    including the one that came back empty.  Edges with a NULL
    endpoint are dropped on both arms, so NULL is never reached.

    Size dispatch (operators/dispatch.py): an edge list of at most
    DRIVER_MAX_EDGES rows comes back in one bounded collect and is
    walked on the driver; a bigger one runs the distributed loop —
    tiny broadcast frontier joined against the edges, anti-join on the
    reached set, localCheckpoint per round.  Same frontier/reached
    semantics and round count on both arms."""
    spark = edges.sparkSession
    edges = edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    rows = dispatch.bounded_collect(edges, dispatch.DRIVER_MAX_EDGES)
    if rows is not None:
        reached_set, rounds = _walk(_adjacency(rows), seed, max_hops)
        return (
            spark.createDataFrame([(n,) for n in sorted(reached_set)], "node string"),
            rounds,
        )

    rounds = 0
    frontier = spark.createDataFrame([(seed,)], "src string")
    reached = spark.createDataFrame([], "node string")
    while max_hops is None or rounds < max_hops:
        rounds += 1
        new = (
            edges.join(F.broadcast(frontier), on="src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reached, on="node", how="left_anti")
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        reached = reached.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select(F.col("node").alias("src"))
    return reached, rounds


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
    reached, _ = reachable(fwd.unionByName(rev), entity_uri, max_hops=max_depth)
    return reached.where(F.col("node") != entity_uri).select(
        F.col("node").alias("entity")
    )
