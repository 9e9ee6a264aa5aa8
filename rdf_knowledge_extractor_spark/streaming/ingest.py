"""Structured Streaming ingest of the pages table.

The reference is strictly batch (no streams anywhere; SURVEY §1.3),
and the north_rule is satisfied by checkpoint-resumable *batch*
stages — this module is the additive streaming path for continuously
arriving crawl data: `readStream` over a pages directory/table →
the same fused html→text→extract call → append sink with exactly-once
checkpointing.

Design notes for scale:
- extraction is the batch pipeline's own call,
  `extract_triples_stage(…, html_col="html")`: one `mapInPandas`
  (streaming-compatible), so html crosses into Python once and only
  triple rows come back;
- `foreachBatch` is used for the graph-merge sink because the
  insert-if-absent semantics (anti-join against the accumulating
  graph) is a batch-side MERGE per micro-batch — the standard pattern
  for streaming upserts into Iceberg/Delta;
- watermarking applies when aggregating by crawl time (`warc_ts`) —
  provided in `streaming_hourly_counts` as the windowed-agg example.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.config import Configuration
from rdf_knowledge_extractor_spark.functions.extract import extract_triples_stage
from rdf_knowledge_extractor_spark.schemas import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of pages parquet (stand-in for a Kafka/Iceberg
    streaming source; schema per BASELINE.json input_hint + doc_seq).

    NB: build a fresh StructType — StructType.add mutates in place,
    so calling it on the shared PAGES_SCHEMA would duplicate columns
    across invocations."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(PAGES_SCHEMA.fields) + [T.StructField("doc_seq", T.LongType(), False)]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_triples(pages_stream: DataFrame, config: Configuration) -> DataFrame:
    """pages stream → extracted-triples stream (the batch pipeline's call)."""
    return extract_triples_stage(
        pages_stream, config, client_kind="stub", html_col="html"
    )


def start_triples_sink(
    triples_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Append-mode parquet sink with exactly-once checkpointing."""
    writer = (
        triples_stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_graph_merge_sink(
    triples_stream: DataFrame,
    graph_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """foreachBatch sink applying insert-if-absent semantics per
    micro-batch (the streaming analog of the store's add_triples,
    ref:src/knowledge_graph/mod.rs:91-114; Iceberg `MERGE INTO` in
    production).

    Commits go through the transactional `TripleStore` (write-new-files
    + atomic manifest swap), so a micro-batch retried after a partial
    write converges to exactly-once: the batch key is
    (checkpoint, batch_id) — Spark replays a failed batch under the
    SAME id, which the store recognizes and no-ops, while a fresh
    checkpoint gets new keys and falls through to the anti-join.
    `graph_path` is the store root; read it back with
    `TripleStore(spark, graph_path).read()`."""
    from rdf_knowledge_extractor_spark.plans.store import TripleStore, checkpoint_tag

    ckpt_tag = checkpoint_tag(checkpoint_path)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        store = TripleStore(batch_df.sparkSession, graph_path)
        batch = batch_df.filter(F.col("subject").isNotNull()).drop("error")
        store.insert_if_absent(batch, f"{ckpt_tag}-{batch_id}")

    writer = (
        triples_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_hourly_counts(pages_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Windowed aggregation with late-data watermark over crawl time."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("hour"), "lang", "n_pages")
    )


def streaming_curate(
    docs_stream: DataFrame,
    lang: str = "en",
    min_words: int = 10,
    max_digit_ratio: float = 0.3,
    min_quality: float = 0.3,
    watermark: str | None = None,
    ts_col: str = "ingest_ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    redact: bool = False,
) -> DataFrame:
    """Streaming variant of `operators.curation.curate_corpus`.

    The metric/filter tier is the IDENTICAL stateless Catalyst
    expressions as the batch operator (quality metrics, language
    argmax, thresholds) — they apply to a streaming DataFrame
    unchanged.  The exact-dedup tier becomes streaming
    `dropDuplicates` on the content fingerprint, whose semantics
    differ from batch by design: batch keeps the MIN id per duplicate
    group (a total order exists); a stream keeps the FIRST ARRIVAL
    (the only order a stream has).  Pass `watermark` + an event-time
    `ts_col` to bound the dedup state (`dropDuplicatesWithinWatermark`
    semantics); without it state grows with the distinct-fingerprint
    count, which is the documented trade for exact global dedup on an
    unbounded stream.
    """
    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        detect_language,
        quality_metrics,
    )

    s = docs_stream
    if watermark is not None:
        s = s.withWatermark(ts_col, watermark)
    s = s.withColumn("_fp", F.md5(F.col(text_col))).dropDuplicates(["_fp"])
    scored = quality_metrics(s, text_col=text_col).withColumn(
        "lang_pred", detect_language(F.col(text_col))
    )
    kept = scored.filter(
        (F.col("lang_pred") == lang)
        & (F.col("n_words") >= min_words)
        & (F.col("digit_ratio") <= max_digit_ratio)
        & (F.col("quality_score") >= min_quality)
    )
    if redact:
        # PII scrub is stateless Catalyst (functions/pii.py), so it
        # composes into the streaming gate unchanged — redaction
        # happens AFTER quality scoring so metrics see the real text,
        # but only surviving docs pay the regex pass.
        from rdf_knowledge_extractor_spark.functions.pii import redact_pii

        return kept.select(
            id_col, "lang_pred", "n_words", "quality_score",
            redact_pii(F.col(text_col)).alias("redacted"),
        )
    return kept.select(id_col, "lang_pred", "n_words", "quality_score")


def start_attribution_sink(
    purchases_stream: DataFrame,
    clicks_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    on: str = "user",
    ts_col: str = "ts",
    tolerance_sec: float | None = None,
    trigger_available_now: bool = True,
):
    """Streaming as-of attribution: each micro-batch of purchases is
    attributed to the latest prior click per key (operators/asof.py)
    against a static/dimension clicks table.

    Exactly-once via the idempotent-directory pattern: batch N writes
    `out_path/batch=<N>` with overwrite, so a replayed batch rewrites
    its own directory instead of appending duplicates.  Read the result
    with `spark.read.parquet(out_path)` (directory glob).

    Stream≡batch invariant (tested): the union of all batch outputs
    equals `asof_join(all_purchases, clicks_df, …)` — per-batch
    attribution is correct because the right side is static and the
    as-of lookup for a left row depends only on that row and the right
    table, never on other left rows.
    """
    from rdf_knowledge_extractor_spark.operators.asof import asof_join

    def attribute(batch_df: DataFrame, batch_id: int) -> None:
        out = asof_join(
            batch_df, clicks_df, on=on, ts_col=ts_col, tolerance_sec=tolerance_sec
        )
        out.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    writer = (
        purchases_stream.writeStream.foreachBatch(attribute)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
