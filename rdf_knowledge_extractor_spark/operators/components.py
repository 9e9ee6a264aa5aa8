"""Connected components on a DataFrame edge list.

Two algorithms behind one dispatcher:

- **driver union-find** (`_components_driver`) — the small-input arm
  (at most `dispatch.DRIVER_MAX_EDGES` edges): one collect +
  `union_find` (path-compressed, min-label semantics; the linking
  driver arm calls the same function); at this size the
  distributed loop's per-round driver jobs ARE the cost.  NULL
  endpoints are out of the component contract (an entity id is never
  NULL): the star arm drops NULL-endpoint edges, the driver arm keeps
  non-NULL endpoints as isolated nodes.
- **alternating large-star / small-star**
  (`connected_components_star`) — Kiveris et al., "Connected
  Components in MapReduce and Beyond" (cited in PAPERS.md; SURVEY
  §2.5): each round rewires every node to the minimum of its
  neighborhood, halving tree heights — O(log n) rounds REGARDLESS of
  diameter.  This is the scale path: a 10-hop chain (web-graph-ish
  component) costs ~log₂ rounds, not 10.

Shared scale design:
- NO explicit repartition — post-shuffle parallelism is left to AQE
  (`coalescePartitions`), which right-sizes each round for the actual
  volume (explicit repartition pins tiny iterations to the full
  shuffle-partition count and drowns the loop in task overhead);
- per-round `localCheckpoint` truncates the lineage chain (the classic
  iterative-algorithm plan blow-up: job time ~30 ms, driver Catalyst
  re-analysis seconds once the tree nests a few rounds deep);
- convergence tests are single-scalar aggregates on already-
  checkpointed round outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators import dispatch


def union_find(pairs) -> dict:
    """node → min node of its component, over (a, b) pairs — the one
    pure-Python union-find (path compression, the min as root).

    Every non-NULL endpoint is a node; a pair with a NULL endpoint
    joins nothing, as a NULL never equals anything in the distributed
    arms' joins."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for n in (a, b):
            if n is not None and n not in parent:
                parent[n] = n
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the MIN as the root so the label is the component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def _components_driver(
    edges: DataFrame, src: str, dst: str, rows: list | None = None
) -> DataFrame:
    """Union-find on a collected edge list — small-input fast path.
    `rows`, the already collected (src, dst) pairs, spares the collect.

    Semantics identical to the distributed arms: component = min
    reachable node under the same ordering Spark uses (UTF-8 byte
    order ≡ code-point order, which is Python's `<` on str), isolated
    nodes appear iff present in `edges`, self-loops allowed, NULL
    endpoints ignored (see `union_find`)."""
    from pyspark.sql import types as T

    if rows is None:
        rows = edges.select(src, dst).collect()
    node_type = edges.schema[src].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type, True),
            T.StructField("component", node_type, True),
        ]
    )
    return edges.sparkSession.createDataFrame(
        list(union_find(rows).items()), schema
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DataFrame(node, component) — component = min node id (lexicographic
    for strings) reachable from `node`.  Isolated nodes appear iff they
    appear in `edges` (self-loops allowed).

    Dispatches: driver-side union-find for small edge sets,
    alternating large-star/small-star at scale (see module
    docstring)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rows = dispatch.bounded_collect(e, dispatch.DRIVER_MAX_EDGES)
    if rows == []:
        return edges.sparkSession.createDataFrame(
            [], "node string, component string"
        )
    if rows is not None:
        return _components_driver(e, "a", "b", rows)
    e = e.persist()
    try:
        return connected_components_star(e, "a", "b")[0]
    finally:
        e.unpersist()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star; returns (labels, rounds),
    at most 30 rounds.

    Per round (both phases are one shuffle each):
      large-star: every node u connects its LARGER neighbors to
                  m(u) = min(Γ(u) ∪ {u});
      small-star: every node u connects its smaller neighbors (and
                  itself) to the min of those.
    The edge set converges to stars rooted at component minima in
    O(log n) rounds (paper: O(log² n) worst case, log n observed)."""
    spark = edges.sparkSession
    universe = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # convergence fingerprint: (count, xor of pair hashes) — two scalars
    def _fp(df: DataFrame):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    rounds = 0
    fp = _fp(e)
    for _ in range(30):
        rounds += 1
        # -- large-star: symmetrize, m(u) = min(neighbors ∪ self),
        #    emit (larger neighbor, m)
        nbrs = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least(F.col("_mv"), F.col("u")).alias("m")
        )
        large = (
            nbrs.join(m, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: key every edge by its larger endpoint,
        #    m = min(smaller neighbors); emit (each smaller nbr, m) and (u, m)
        keyed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m2 = keyed.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            keyed.join(m2, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_fp = _fp(small)
        e = small
        if new_fp == fp:
            break
        fp = new_fp
    # converged: edges are (node, component-min) stars.  The labels are
    # materialized before the caches under them are released (here and
    # in connected_components), so reading them never re-runs the edge
    # plan
    labels = (
        universe.join(e, universe["node"] == e["u"], "left")
        .select("node", F.coalesce(F.col("v"), F.col("node")).alias("component"))
        .localCheckpoint(eager=True)
    )
    universe.unpersist()
    return labels, rounds
