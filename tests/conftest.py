from __future__ import annotations

import pytest

from rdf_knowledge_extractor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def _settled_cache(spark, baseline=None) -> tuple[int, bool]:
    """(persisted RDDs, CacheManager empty?) once Python and the JVM have
    collected garbage, so a dropped result no longer pins its blocks.
    Both sides release asynchronously (py4j's finalizer thread, then
    Spark's ContextCleaner), so with a `baseline` it retries for up to
    ten rounds until the session is back at or below it."""
    import gc
    import time

    for _ in range(10):
        gc.collect()
        time.sleep(1)
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        got = (
            spark.sparkContext._jsc.getPersistentRDDs().size(),
            spark._jsparkSession.sharedState().cacheManager().isEmpty(),
        )
        if baseline is None or (got[0] <= baseline[0] and got[1] >= baseline[1]):
            return got
    return got


@pytest.fixture()
def assert_releases(spark):
    """`assert_releases(run, times=1)`: read the session's baseline, then
    call `run()` `times` times and assert after each that the session is
    back at it: no more persisted RDDs and a CacheManager as empty as
    before.  `run` must drop every frame it builds, so what is left is
    what the operator under test failed to release."""

    def check(run, times=1):
        baseline = _settled_cache(spark)
        for _ in range(times):
            run()
            got = _settled_cache(spark, baseline)
            assert got[0] <= baseline[0] and got[1] == baseline[1], (got, baseline)

    return check


@pytest.fixture(scope="session")
def example_config():
    from rdf_knowledge_extractor_spark.config import Configuration, RdfSchema

    cfg = Configuration.example()
    cfg.rdf_schema = RdfSchema(
        namespace="http://business.example.org/ontology#",
        prefix="biz",
        base_uri="http://business.example.org/resource/",
        predicates={
            "hasName": "Entity has name",
            "hasRole": "Person has role",
            "worksFor": "Person works for organization",
            "locatedIn": "Entity is located in place",
            "partneredWith": "Company partnership",
        },
    )
    return cfg
