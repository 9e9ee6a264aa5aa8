"""Streaming near-duplicate suppression — first-arrival MinHash-LSH
filter over an unbounded document stream.

Batch near-dup dedup (operators/textdedup.py) answers "which PAIRS are
near-duplicates"; a streaming ingest pipeline instead needs an ONLINE
ADMISSION filter: admit a document iff it is not a near-duplicate of
any previously-admitted document (first arrival wins — the only order
a stream has).  This is the streaming member of the dedup family the
round-1 survey called for (web-crawl ingest at 100 TB/day dedups
against the full admitted history, not within micro-batches).

Spark shape (`foreachBatch`, exactly like the as-of attribution sink
in streaming/ingest.py):

1. per batch, hash-shingle + banded-MinHash the incoming docs (same
   JVM-side xxhash64 + numpy sketch UDF as the batch operator);
2. candidates vs HISTORY: equi-join the batch's (band_idx, band_val)
   table against the persisted admitted-band store — at scale this is
   a shuffle join on the band key, never a scan of full texts;
3. verify candidates with exact Jaccard on the stored int64 shingle
   arrays (only colliding pairs are verified; the same
   textdedup._verified_pairs check as the in-batch pairs);
4. in-batch near-dups resolve by GREEDY min-id-first admission over
   the verified pair graph (deterministic within the micro-batch): a
   doc is rejected only when a smaller-id near-dup was itself
   admitted — in a chain a~b, b~c with a!~c, doc c is admitted
   because its only near-dup b was rejected (round-4 advice);
5. admitted docs append their bands + shingles to the state store and
   their rows to the output — both writes go to per-batch-id
   subdirectories, so a replayed micro-batch OVERWRITES its own output
   instead of duplicating it (same idempotency pattern as
   start_attribution_sink).

State size: O(admitted × bands) int64 rows + O(admitted) shingle
arrays — the shingle table is the big one; at 100 TB it lives as a
bucketed table on (id) and the band store bucketed on (band_val), so
step 2's join co-locates.  State FILE COUNT is bounded by
`compact_state` (round-4 brief #5): checkpoint-committed `batch=<id>`
dirs fold into one file set per table, keeping the max compacted id
as the partition value so the sink's `batch < batch_id` replay filter
is unchanged; the sink triggers it automatically via `compact_every`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.components import connected_components
from rdf_knowledge_extractor_spark.operators.textdedup import (
    _minhash_band_udf,
    _verified_pairs,
    _with_hashed_shingles,
    minhash_lsh_pairs,
)


def _paths(state_dir: str) -> tuple[str, str]:
    return os.path.join(state_dir, "bands"), os.path.join(state_dir, "shingles")


def _greedy_rejections(pairs: DataFrame, pre_rejected: DataFrame | None) -> DataFrame:
    """DataFrame(id) of in-batch docs REJECTED under greedy
    min-id-first admission — the documented first-arrival order within
    a micro-batch.

    admitted(x) ⇔ x not history-rejected AND no verified in-batch
    near-dup y < x with admitted(y).  In a chain a~b, b~c with a!~c:
    a admitted, b rejected (partner a admitted), c ADMITTED — its only
    near-dup b was itself rejected.  The former shape rejected id_b of
    every pair, transitively over-rejecting c (round-4 advice,
    neardup.py:122).  `pre_rejected` (history near-dups) seeds the
    rejected set: a history-rejected doc never suppresses its in-batch
    peers, but is itself rejected.

    Shape: connected components over the verified pair graph (one
    component = one near-dup cluster), then the sequential greedy runs
    per-component in `applyInPandas` — clusters are micro-batch-local
    and small; the cross-batch giant-cluster problem lives in the
    capped batch operator, not here."""
    import pandas as pd

    id_type = pairs.schema["id_a"].dataType.simpleString()
    comp = connected_components(pairs, src="id_a", dst="id_b")
    flagged = pairs
    for side in ("id_a", "id_b"):
        rej_col = f"_rej{side[-1]}"
        if pre_rejected is None:
            flagged = flagged.withColumn(rej_col, F.lit(False))
        else:
            flagged = flagged.join(
                pre_rejected.select(
                    F.col("id").alias(side), F.lit(True).alias(rej_col)
                ),
                on=side,
                how="left",
            ).fillna({rej_col: False})
    edges = flagged.join(
        comp.select(F.col("node").alias("id_a"), "component"), on="id_a"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        nbr: dict = {}
        rejected = set()
        for a, b, ra, rb in zip(pdf.id_a, pdf.id_b, pdf._reja, pdf._rejb):
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
            if ra:
                rejected.add(a)
            if rb:
                rejected.add(b)
        admitted: set = set()
        out = []
        for x in sorted(nbr):
            if x in rejected or any(y in admitted for y in nbr[x]):
                out.append(x)
            else:
                admitted.add(x)
        return pd.DataFrame({"id": out})

    return edges.groupBy("component").applyInPandas(greedy, f"id {id_type}")


def _batch_dirs(table_dir: str) -> dict[int, str]:
    """{batch_id: path} of `batch=<id>` partition dirs under a state
    table (ignores dot/underscore names, which Spark's partition
    discovery also skips)."""
    out: dict[int, str] = {}
    if not os.path.isdir(table_dir):
        return out
    for name in os.listdir(table_dir):
        if name.startswith("batch="):
            try:
                out[int(name.split("=", 1)[1])] = os.path.join(table_dir, name)
            except ValueError:
                continue
    return out


def _finish_pending_compaction(table_dir: str) -> None:
    """Crash recovery: a previous compact_state wrote its full tmp set
    (marked by _SUCCESS) and deleted the old dirs, but died before the
    final rename.  Finish the rename; an unmarked tmp is garbage from
    a crash mid-write and is removed (the old dirs still exist)."""
    import shutil

    if not os.path.isdir(table_dir):
        return
    for name in os.listdir(table_dir):
        if not name.startswith(".compact-tmp-"):
            continue
        tmp = os.path.join(table_dir, name)
        target = os.path.join(table_dir, name.split("-", 3)[3])
        if os.path.exists(os.path.join(tmp, "_SUCCESS")) and not os.path.exists(
            target
        ):
            os.rename(tmp, target)
        else:
            shutil.rmtree(tmp, ignore_errors=True)


def compact_state(spark, state_dir: str, min_batches: int = 2) -> int:
    """Rewrite the admitted-set state's `batch=<id>` dirs into ONE
    file set per table (TripleStore.compact pattern) — at continuous
    cadence every micro-batch re-lists and re-reads the full history,
    so the file count must stay bounded (round-4 brief #5).

    Replay safety: the HIGHEST batch id present is never compacted
    (after a crash it may be re-attempted, and a replayed batch must
    not see state its crashed attempt wrote — the `batch < batch_id`
    filter in the sink).  Everything below it is checkpoint-committed
    and final, and is rewritten into a single dir keeping the max
    compacted id as its partition value, so every `batch < B`
    comparison is unchanged.

    Crash safety: the tmp set is complete (parquet _SUCCESS) before
    any old dir is removed; a crash mid-protocol is finished or rolled
    back by `_finish_pending_compaction` on the next call.  Returns
    the number of batch dirs reclaimed (0 = nothing to do)."""
    import shutil
    import uuid

    reclaimed = 0
    for table_dir in _paths(state_dir):
        _finish_pending_compaction(table_dir)
        dirs = _batch_dirs(table_dir)
        if len(dirs) < min_batches + 1:  # +1: the protected max id
            continue
        protect = max(dirs)
        to_compact = {b: p for b, p in dirs.items() if b != protect}
        target_val = max(to_compact)
        tmp = os.path.join(
            table_dir, f".compact-tmp-{uuid.uuid4().hex[:8]}-batch={target_val}"
        )
        spark.read.parquet(*to_compact.values()).write.mode("overwrite").parquet(tmp)
        # point of no return: tmp is complete (_SUCCESS), olds go away,
        # then tmp takes the target name.  The TARGET dir is removed
        # FIRST: a crash anywhere after that leaves a _SUCCESS-marked
        # tmp with no target, which recovery finishes by rename —
        # surviving old dirs then merely duplicate rows the compacted
        # set already holds (harmless: the sink's candidate join is
        # distinct), and the next pass folds them in.
        shutil.rmtree(to_compact[target_val])
        for b, p in to_compact.items():
            if b != target_val:
                shutil.rmtree(p)
        os.rename(tmp, os.path.join(table_dir, f"batch={target_val}"))
        reclaimed += len(to_compact) - 1
    return reclaimed


def start_neardup_filter_sink(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 9,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    compact_every: int | None = None,
):
    """Start the admission-filter sink; returns the StreamingQuery.

    Admitted rows (all original columns) land in
    `<out_dir>/batch=<id>/`; the admitted-set state accumulates in
    `<state_dir>/{bands,shingles}/batch=<id>/`."""
    spark = docs_stream.sparkSession
    band_dir, shingle_dir = _paths(state_dir)

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Crash recovery BEFORE any state read: a compact_state that
        # died between removing old batch dirs and renaming its
        # _SUCCESS-marked tmp would otherwise hide the compacted rows
        # from this batch's history joins (Spark skips dot-prefixed
        # dirs), wrongly admitting near-dups of every doc in them.
        _finish_pending_compaction(band_dir)
        _finish_pending_compaction(shingle_dir)
        batch_df = batch_df.persist()
        sh = _with_hashed_shingles(batch_df, id_col, text_col, k).persist()
        bands_of = _minhash_band_udf(num_perm, bands)
        # posexplode directly over the UDF call — the withColumn +
        # second-select shape duplicated the sketch UDF into two
        # stacked ArrowEvalPython nodes (guide §4.4)
        new_bands = sh.select(
            "id", F.posexplode(bands_of(F.col("h"))).alias("band_idx", "band_val")
        ).persist()

        rejected = None
        if os.path.isdir(band_dir):
            # `batch=<id>` partition dirs surface as a `batch` column;
            # a REPLAYED micro-batch must not see the state its crashed
            # attempt wrote, or its docs would collide with themselves
            hist_bands = spark.read.parquet(band_dir).filter(
                F.col("batch") < batch_id
            )
            hist_sh = spark.read.parquet(shingle_dir).filter(
                F.col("batch") < batch_id
            )
            cand = (
                new_bands.join(
                    hist_bands.select(
                        F.col("id").alias("hist_id"), "band_idx", "band_val"
                    ),
                    on=["band_idx", "band_val"],
                )
                .select(F.col("id").alias("id_a"), F.col("hist_id").alias("id_b"))
                .distinct()
            )
            rejected = (
                _verified_pairs(cand, sh, hist_sh, threshold)
                .select(F.col("id_a").alias("id"))
                .distinct()
            )

        # in-batch near-dups: greedy min-id-first admission over the
        # verified pair graph (history-rejected docs seed the rejected
        # set but never suppress their in-batch peers)
        pairs = minhash_lsh_pairs(
            batch_df, id_col=id_col, text_col=text_col, k=k,
            threshold=threshold, num_perm=num_perm, bands=bands,
        ).select("id_a", "id_b")
        inbatch = _greedy_rejections(pairs, rejected)
        rejected = inbatch if rejected is None else rejected.unionByName(inbatch)
        admitted_ids = (
            sh.select("id").join(rejected.distinct(), on="id", how="left_anti")
        ).persist()

        suffix = f"batch={batch_id}"
        # per-batch overwrite directories → replay-idempotent
        (
            batch_df.join(
                admitted_ids.select(F.col("id").alias(id_col)), on=id_col
            ).write.mode("overwrite").parquet(os.path.join(out_dir, suffix))
        )
        (
            new_bands.join(admitted_ids, on="id")
            .write.mode("overwrite").parquet(os.path.join(band_dir, suffix))
        )
        (
            sh.join(admitted_ids, on="id")
            .write.mode("overwrite").parquet(os.path.join(shingle_dir, suffix))
        )
        spark.catalog.clearCache()
        # bounded state-file count at continuous cadence: once the
        # batch-dir count passes the trigger, fold all checkpoint-
        # committed dirs (everything but this batch's own) into one
        if compact_every is not None and len(_batch_dirs(band_dir)) > compact_every:
            compact_state(spark, state_dir)

    return (
        docs_stream.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
