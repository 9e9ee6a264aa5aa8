"""spark-submit entry point for the staged KG pipeline (north-rule run
mode: `spark-submit --py-files dist/engine.zip examples/submit_pipeline.py
<pages_parquet> <checkpoint_dir> [store_dir]`).

The driver creates no SparkSession config of its own beyond the
engine defaults — cluster master/executors come from spark-submit.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(
            "usage: submit_pipeline.py <pages_parquet> <checkpoint_dir> [store_dir]"
        )
    pages_path, ckpt_dir = sys.argv[1], sys.argv[2]
    store_dir = sys.argv[3] if len(sys.argv) > 3 else None

    from rdf_knowledge_extractor_spark.config import Configuration
    from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline

    spark = SparkSession.builder.appName("kg-pipeline").getOrCreate()
    pages = spark.read.parquet(pages_path)
    pipe = KgPipeline(spark, Configuration.example(), ckpt_dir, client_kind="stub")
    graph = pipe.run(pages)
    n = graph.count()
    print(f"graph triples: {n}")
    for r in pipe.results:
        print(f"  stage {r.name}: rows={r.rows} sec={r.seconds:.1f} resumed={r.resumed}")
    if store_dir:
        added = pipe.commit_to_store(graph, store_dir)
        # idempotent: a rerun with the same input/config fingerprint
        # returns the ORIGINAL added count and writes nothing new
        print(f"store commit: batch added={added} rows (idempotent by fingerprint)")


if __name__ == "__main__":
    main()
