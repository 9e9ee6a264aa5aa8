"""Size dispatch shared by the operators: two bounds, two width rules.

`DRIVER_MAX_EDGES` — `traversal.closure`, the one closure operator
(behind traversal and every SPARQL `p+`/`p*` path), and connected
components each choose between a driver-side arm and a distributed
loop by edge count, and entity linking by entity count and
candidate-pair count.  The closure's small arm walks a seed on the
driver; without a seed it walks every source in executor tasks, since
the full closure is not bounded by the node set.  Below the bound a
whole edge list fits the driver comfortably (a few MB of node
strings), and one collect replaces the distributed loops' ~2 jobs per
round, which at this size ARE the cost.  Above it the distributed
arms run unchanged.

`MAX_BUCKET_SIZE` — blocking (`textdedup._bucket_candidate_pairs`, which
the dedup families and entity linking's distributed arm call) expands a
bucket of at most this many members into pairs in-array, inside one
row; a larger bucket goes through a distributed self-join, so a giant
cluster never materializes O(c²) pairs in one task.

Callers read both bounds from this module at call time, so patching
one name forces either arm everywhere.

Input width, two rules:

- `spread` widens a tiny scan-shaped input up to default parallelism,
  so a single-split corpus does not serialize the sketch UDFs.
- `one_wave` narrows a small input of a PYTHON stage (`mapInPandas`)
  to one wave of tasks: max(defaultParallelism, ⌈estimated bytes /
  `spark.sql.files.openCostInBytes`⌉) partitions, by a `coalesce`
  (no shuffle).  Every Python task pays a fixed start-up before its
  UDF runs: the PySpark worker's `setup_spark_files` calls
  `importlib.invalidate_caches()`, and under Python 3.11 that makes
  each cached zipimporter re-read the 1,328-entry `pyspark.zip`
  directory (0.12–0.14 s per call, measured in a bare interpreter).
  On the crawl batch (200 pages × 11 KB over 8 persisted partitions,
  4 cores) the extract stage went from two waves of 8 tasks, 0.84 s,
  to one wave of 4, 0.57 s (medians of 10).  At scale a partition
  holds more than openCostInBytes and the rule does nothing.
"""

from __future__ import annotations

import contextlib
import io
import math
import re

from pyspark.sql import DataFrame

DRIVER_MAX_EDGES = 100_000
MAX_BUCKET_SIZE = 200


def bounded_collect(df: DataFrame, n: int) -> list[tuple] | None:
    """The rows of `df` as plain tuples, or None when it has more than
    `n` rows.

    Decides and fetches with one `limit(n + 1).toArrow()`: one job that
    applies the limit inside every partition and gathers the survivors
    in one task, instead of `collect()`'s `executeTake` rounds of 1, 4,
    20, … partitions.  Arrow also spares the pickled Rows (measured, 4
    cores): 98k (uri, key, shingles) rows took 1.28 s through
    `collect()` and 0.71 s here, 0.33 s of fetch and 0.38 s of
    conversion; a 3.8k-row edge list over 8 parquet files took 1 job
    and 147 ms instead of 2 jobs and 161 ms.  `count()` and then a
    fetch would read the input twice."""
    table = df.limit(n + 1).toArrow()
    if table.num_rows > n:
        return None
    return list(zip(*(_pylist(c) for c in table.columns)))


def _pylist(column) -> list:
    """The Python values of one Arrow column.  A string-array column
    goes through pandas: `to_pylist` builds a scalar object per
    element, about 4× slower on shingle arrays.  Other columns stay on
    `to_pylist`, since pandas would turn a numeric NULL into NaN."""
    import pyarrow as pa

    t = column.type
    if pa.types.is_list(t) and pa.types.is_string(t.value_type):
        return [v if v is None else v.tolist() for v in column.to_pandas()]
    return column.to_pylist()


def _plan(df: DataFrame, mode: str) -> str:
    """The PUBLIC `explain(mode)` text (no `_jdf` internals — survives
    renames and Spark Connect, where explain is served remotely)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _bytes(text: str) -> float:
    """Bytes of a size string: "2.1 MiB", "1.0E+20 B" (plan statistics)
    or "4194304b", "8MB" (a bytes conf)."""
    m = re.match(r"\s*([\d.]+(?:E[+-]?\d+)?)\s*([kmgtpe]?)", text, re.I)
    return float(m.group(1)) * 1024 ** "_kmgtpe".index(m.group(2).lower() or "_")


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
    sc = docs.sparkSession.sparkContext
    p = sc.defaultParallelism
    if "Exchange" in _plan(docs, "simple"):
        return docs
    try:
        n_splits = docs.rdd.getNumPartitions()
    except Exception:  # Connect-style sessions: no .rdd — file count
        n_splits = len(docs.inputFiles()) or 1
    if n_splits < p:
        return docs.repartition(p)
    return docs


def one_wave(df: DataFrame) -> DataFrame:
    """Coalesce the input of a Python stage to one wave of tasks (see
    the module docstring); the input itself when it is already that
    narrow, is streaming, or its width cannot be read without a job.

    Reads the optimized plan's size estimate from the public
    `explain(mode="cost")` and the width from `.rdd.getNumPartitions()`,
    and runs no Spark job: under AQE `.rdd` materializes every query
    stage of the plan, so the rule gives up when an Exchange sits in
    the plan outside a persisted relation, or a persisted relation's
    adaptive plan has not run yet (its cache is not built).  The
    Exchange inside a built cache's plan costs nothing to read past:
    the width of a persisted, counted `repartition(8)` comes back with
    no job."""
    if df.isStreaming:
        return df
    text = _plan(df, "cost")
    size = re.search(r"sizeInBytes=([^,)]+)", text)
    if size is None:
        return df
    cached_at = None  # depth of the InMemoryRelation whose plan we are in
    for line in text[text.index("== Physical Plan =="):].splitlines():
        depth = len(line) - len(line.lstrip(" :|+-"))
        if cached_at is not None and depth > cached_at:
            if "isFinalPlan=false" in line:
                return df  # a cache whose plan has not run
        elif "Exchange" in line:
            return df
        else:
            cached_at = depth if "InMemoryRelation" in line else None
    spark = df.sparkSession
    open_cost = _bytes(spark.conf.get("spark.sql.files.openCostInBytes"))
    target = max(
        spark.sparkContext.defaultParallelism,
        math.ceil(_bytes(size.group(1)) / open_cost),
    )
    if df.rdd.getNumPartitions() > target:
        return df.coalesce(target)
    return df
