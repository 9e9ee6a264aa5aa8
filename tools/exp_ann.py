"""A/B experiment: ann_cosine_topk scoring variants (guide §1)."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pyspark.sql import Window
from pyspark.sql import functions as F
from rdf_knowledge_extractor_spark.session import get_spark
from rdf_knowledge_extractor_spark.operators.similarity import (
    cosine_topk_bruteforce,
    _norm,
    _sim_expr,
)
from rdf_knowledge_extractor_spark.operators.dispatch import spread

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/sfscaled/sf1.0")
cpus = 32
spark = get_spark(app_name="exp-ann", master=f"local[{cpus}]",
                  shuffle_partitions=32,
                  extra_conf={"spark.local.dir": "/dev/shm/spark-local"})
spark.sparkContext.setLogLevel("ERROR")
bench._warm_up(spark, cpus)

emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def timed(label, fn, reps=3):
    ts = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        ts.append(round(time.monotonic() - t0, 3))
        spark.catalog.clearCache()
    print(f"{label:50s} min={min(ts):7.3f} reps={ts}", flush=True)


# current path
timed("current dim=64 unrolled", lambda: cosine_topk_bruteforce(
    emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64).count())

# HOF interpreted (r5 shape)
timed("HOF dim=None", lambda: cosine_topk_bruteforce(
    emb, emb.filter(F.col("vec_id") < 10), k=5, dim=None).count())


# stage isolation: scoring only, noop sink
def scored_noop():
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("q_norm"))
    c = spread(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("c_norm"))
    s = (c.crossJoin(F.broadcast(q))
         .filter(F.col("query_id") != F.col("neighbor_id"))
         .withColumn("sim", _sim_expr(4, 64))
         .select("query_id", "neighbor_id", "sim"))
    s.write.format("noop").mode("overwrite").save()

timed("scored-only noop (unrolled)", scored_noop)


# no spread
def no_spread():
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("q_norm"))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("c_norm"))
    s = (c.crossJoin(F.broadcast(q))
         .filter(F.col("query_id") != F.col("neighbor_id"))
         .withColumn("sim", _sim_expr(4, 64)))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (s.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 5).select("query_id", "neighbor_id", "sim").count())

timed("no-spread full query (unrolled)", no_spread)

spark.stop()
