"""Bucketed graph layout: the SPARQL engine's subject self-joins plan
WITHOUT any Exchange over a subject-bucketed table (the co-located-join
evidence for 100 TB BGP queries)."""

from __future__ import annotations


def test_sparql_bgp_on_bucketed_graph_is_exchange_free(spark, tmp_path):
    """The SPARQL engine's subject-star BGP self-join inherits bucket
    co-location THROUGH its variable aliasing: on a subject-bucketed
    graph table the whole query plans with ZERO Exchange nodes
    (broadcast disabled to force the join to prove co-location)."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ns = "http://e/"
        rows = [
            (f"{ns}s{i}", ns + ("hasName" if i % 2 else "hasRole"), f"v{i}")
            for i in range(100)
        ] + [(f"{ns}s{i}", ns + "hasLang", "en") for i in range(100)]
        g = spark.createDataFrame(
            rows, "subject string, predicate string, object string"
        )
        (
            g.write.bucketBy(8, "subject")
            .sortBy("subject")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable("g_sparql_bucketed")
        )
        bg = spark.table("g_sparql_bucketed")
        q = (
            f"PREFIX kg: <{ns}> "
            "SELECT ?s ?n ?l WHERE { ?s kg:hasName ?n ; kg:hasLang ?l }"
        )
        df = execute_sparql(bg, q)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert df.count() == 50
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS g_sparql_bucketed")
