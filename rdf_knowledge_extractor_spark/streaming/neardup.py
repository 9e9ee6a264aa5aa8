"""Streaming near-duplicate suppression — first-arrival MinHash-LSH
filter over an unbounded document stream.

Batch near-dup dedup (operators/textdedup.py) answers "which PAIRS are
near-duplicates"; a streaming ingest pipeline instead needs an ONLINE
ADMISSION filter: admit a document iff it is not a near-duplicate of
any previously-admitted document (first arrival wins — the only order
a stream has).  This is the streaming member of the dedup family the
round-1 survey called for (web-crawl ingest at 100 TB/day dedups
against the full admitted history, not within micro-batches).

Spark shape (`foreachBatch`, exactly like the graph-merge sink in
streaming/ingest.py):

1. per batch, hash-shingle + banded-MinHash the incoming docs ONCE
   (same JVM-side xxhash64 + numpy sketch UDF as the batch operator);
2. candidates vs HISTORY: equi-join the batch's (band_idx, band_val)
   rows against the admitted set's posexploded `bands` — at scale a
   shuffle join on the band key, never a scan of full texts;
3. in-batch candidates come from the same sketches through the batch
   operator's blocking step (`_bucket_candidate_pairs`); both candidate
   sets are verified with exact Jaccard on the int64 shingle arrays
   (the one `textdedup._verified_pairs` check);
4. in-batch near-dups resolve by GREEDY min-id-first admission over
   the verified pair graph (deterministic within the micro-batch): a
   doc is rejected only when a smaller-id near-dup was itself
   admitted — in a chain a~b, b~c with a!~c, doc c is admitted
   because its only near-dup b was rejected (round-4 advice);
5. admitted rows go to the output, then admitted (id, h, bands) rows
   are committed to the state.

State is one `TripleStore` table (plans/store.py) of (id, h, bands),
one commit per micro-batch under the key `<checkpoint tag>-<batch_id>`
(the graph-merge sink's key).  The store gives every guarantee the
filter needs: uncommitted files are invisible, a committed key is a
no-op, and compaction needs no recovery step.  So a replayed
micro-batch whose state was committed returns at once; one that
crashed before its commit sees the same history, rewrites its output
dir (one overwrite dir per key) and commits once; and a fresh
checkpoint over the same state gets new keys, reads the whole admitted
history and adds to it.  State size: O(admitted) rows of shingle
arrays plus `bands` band values each; the sink bounds the file count
with `compact()` + `vacuum()` once the live file sets pass
`compact_every`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.components import connected_components
from rdf_knowledge_extractor_spark.operators.textdedup import (
    _bucket_candidate_pairs,
    _minhash_band_udf,
    _verified_pairs,
    _with_hashed_shingles,
)
from rdf_knowledge_extractor_spark.plans.store import TripleStore, checkpoint_tag


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
    `<out_dir>/batch=<key>/`; the admitted set is the `TripleStore`
    table at `state_dir`."""
    spark = docs_stream.sparkSession
    state = TripleStore(spark, state_dir)
    ckpt_tag = checkpoint_tag(checkpoint_dir)
    bands_of = _minhash_band_udf(num_perm, bands)

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        key = f"{ckpt_tag}-{batch_id}"
        version = state.version()
        if key in state.batch_ids() or batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        # one sketch per doc: the persisted (id, h, bands) rows feed the
        # history join, the in-batch blocking, both verify sides and
        # the state commit
        sketched = _with_hashed_shingles(batch_df, id_col, text_col, k)
        sketched = sketched.withColumn("bands", bands_of(F.col("h"))).persist()
        new_bands = sketched.select(
            "id", F.posexplode("bands").alias("band_idx", "band_val")
        )
        history = state.read()
        rejected = None
        if history is not None:
            hist_bands = history.select(
                F.col("id").alias("id_b"),
                F.posexplode("bands").alias("band_idx", "band_val"),
            )
            cand = (
                new_bands.join(hist_bands, on=["band_idx", "band_val"])
                .select(F.col("id").alias("id_a"), "id_b")
                .distinct()
            )
            rejected = (
                _verified_pairs(cand, sketched, history, threshold)
                .select(F.col("id_a").alias("id"))
                .distinct()
            )

        # in-batch near-dups: greedy min-id-first admission over the
        # verified pair graph (history-rejected docs seed the rejected
        # set but never suppress their in-batch peers)
        cands, buckets = _bucket_candidate_pairs(
            new_bands, ["band_idx", "band_val"], "id", with_buckets=True
        )
        pairs = _verified_pairs(cands, sketched, sketched, threshold)
        inbatch = _greedy_rejections(pairs.select("id_a", "id_b"), rejected)
        rejected = inbatch if rejected is None else rejected.unionByName(inbatch)
        admitted_ids = (
            sketched.select("id").join(rejected.distinct(), on="id", how="left_anti")
        ).persist()
        try:
            # the output is written before the state commit, into one
            # overwrite dir per key: a replay after a crash in between
            # rewrites the same rows and then commits once
            batch_df.join(
                admitted_ids.select(F.col("id").alias(id_col)), on=id_col
            ).write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={key}"))
            state.commit(sketched.join(admitted_ids, on="id"), key, version)
        finally:
            for df in (batch_df, sketched, buckets, admitted_ids):
                df.unpersist()
        if compact_every is not None and len(state.committed_paths()) > compact_every:
            state.compact()
            # the sink is its state's one writer and no commit of its
            # own is in flight, so nothing young needs the retention guard
            state.vacuum(min_age_sec=0)

    return (
        docs_stream.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
