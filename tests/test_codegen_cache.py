"""The session factory sizes Spark's compiled-class cache so that a
crawl round's ~150 generated classes survive until the next round.

At Spark's default of 100 entries, more than 100 other compiles in
between evict a query's classes, and running it again compiles them
again (janino).  The compile count is Spark's own
``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram, read through
py4j: no extra Spark job.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_crawler_rs_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _query(spark, k: int):
    # integer literals are inlined into the generated source, so each
    # k compiles classes of its own
    return (
        spark.range(64, numPartitions=1)
        .select((F.col("id") * 3 + F.lit(k)).alias("x"))
        .filter(F.col("x") % 2 == 0)
        .agg(F.sum("x"))
    )


def test_session_sets_codegen_cache_size(spark):
    assert CODEGEN_CACHE_ENTRIES > 100
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_first_query_survives_more_than_100_compiles(spark):
    first = -1
    want = _query(spark, first).collect()
    base = _compiles(spark)
    # compiling the same query again hits the cache
    assert _query(spark, first).collect() == want
    assert _compiles(spark) == base

    # two classes per query (partial and final aggregation): more than
    # the default cache's 100 entries are compiled in between
    for k in range(60):
        _query(spark, k).collect()
    assert _compiles(spark) - base > 100

    before = _compiles(spark)
    assert _query(spark, first).collect() == want
    assert _compiles(spark) == before
