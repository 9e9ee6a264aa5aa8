"""Size dispatch shared by the operators: two bounds.

`DRIVER_MAX_EDGES` — traversal, seeded and full property paths and
connected components each choose between a driver-side arm and a
distributed loop by edge count, and entity linking by entity count and
candidate-pair count.  Below the bound a whole edge list fits the
driver comfortably (a few MB of node strings, output bounded by the
node set), and one collect replaces the distributed loops' ~2 jobs per
round, which at this size ARE the cost.  Above it the distributed arms
run unchanged.

`MAX_BUCKET_SIZE` — blocking (`textdedup._bucket_candidate_pairs`, which
the dedup families and entity linking's distributed arm call) expands a
bucket of at most this many members into pairs in-array, inside one
row; a larger bucket goes through a distributed self-join, so a giant
cluster never materializes O(c²) pairs in one task.

Callers read both bounds from this module at call time, so patching
one name forces either arm everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

DRIVER_MAX_EDGES = 100_000
MAX_BUCKET_SIZE = 200


def bounded_collect(df: DataFrame, n: int) -> list[Row] | None:
    """The rows of `df`, or None when it has more than `n` rows.

    Decides and fetches with one `limit(n + 1).collect()`, which is
    one Spark ACTION but not one job: `executeTake` runs a job on the
    first partition, then jobs on 4, 20, 100, … more (each up to
    `spark.sql.limit.scaleUpFactor` = 4 times all partitions scanned
    so far), until n + 1 rows are back or every partition is read.
    An input of p partitions holding at most n rows therefore costs
    about 1 + log5(p) jobs (Spark 4.1, measured: 1 job at 1 partition,
    2 at 4, 4 at 40 and at 120), plus one job per shuffle stage
    under the scan.  `count()` and then `collect()` would read the
    input twice."""
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None


def spread(docs: DataFrame) -> DataFrame:
    """Repartition tiny SCAN-SHAPED inputs up to default parallelism.

    A small corpus often arrives as a single parquet split (one task),
    which would serialize every downstream sketch UDF.  At scale the
    input already has ≥ defaultParallelism splits and this is a no-op —
    no extra shuffle on the 100-TB path.

    Guard: partition count is only consulted when the physical plan
    contains no Exchange.  Under AQE, `.rdd` on an exchange-bearing
    plan eagerly materializes every upstream query stage
    (getFinalPhysicalPlan) — and a plan that already shuffles produces
    shuffle.partitions-sized output anyway, so spreading would be
    redundant there.  The Exchange probe captures the PUBLIC
    `explain()` output (no `_jdf` internals — survives renames and
    Spark-connect, where explain is served remotely)."""
    import contextlib
    import io

    sc = docs.sparkSession.sparkContext
    p = sc.defaultParallelism
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        docs.explain(mode="simple")
    if "Exchange" in buf.getvalue():
        return docs
    try:
        n_splits = docs.rdd.getNumPartitions()
    except Exception:  # Connect-style sessions: no .rdd — file count
        n_splits = len(docs.inputFiles()) or 1
    if n_splits < p:
        return docs.repartition(p)
    return docs
