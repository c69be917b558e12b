"""Round-5 advisor findings (ADVICE.md r4) pinned by tests:

1. trap_gate boundary divergence vs the batch round loop — documented
   (docstring), behavior unchanged; asserted here so the doc can't rot.
2. trap_patterns drops scheme-less urls instead of collapsing them
   into host ''.
3. connected_components / pagerank release old localCheckpoint blocks
   (bounded retention via LocalCheckpointChain), and release only
   their own checkpoints.
4. materialize_canonical_pages refuses non-identifier table names and
   out-of-warehouse rmtree paths.
5. pagerank's empty-edge early return keeps the caller's node type.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_trap_patterns_drops_schemeless_urls(spark):
    from crypto_crawler_rs_spark.operators.traps import trap_patterns

    urls = spark.createDataFrame(
        [("https://a.example/p/1",), ("a.example/p/2",), ("/p/3",), ("",)],
        "url string",
    )
    out = trap_patterns(urls, min_urls=1).collect()
    hosts = {r.host for r in out}
    assert hosts == {"a.example"}  # the three host-less rows vanish
    assert all(r.host != "" for r in out)


def test_components_checkpoint_blocks_bounded(spark):
    from crypto_crawler_rs_spark.operators.components import (
        connected_components,
    )

    base = _persistent_rdd_count(spark)
    # a 60-node chain takes several pointer-jumping iterations —
    # enough to observe accumulation if old iterates were retained
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 61
    # retained: at most the final iterate's blocks (chain.close keeps
    # one generation; edges were unpersisted) — NOT one per iteration
    assert _persistent_rdd_count(spark) - base <= 2


def test_pagerank_checkpoint_blocks_bounded_and_correct(spark):
    from crypto_crawler_rs_spark.operators.graphrank import pagerank

    base = _persistent_rdd_count(spark)
    edges = spark.createDataFrame(
        [(f"h{i}", f"h{(i * 7 + 1) % 23}") for i in range(200)],
        "src string, dst string",
    )
    out = pagerank(edges, n_iter=8)
    rows = out.collect()
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-3  # mass conserved
    assert _persistent_rdd_count(spark) - base <= 2


def test_chain_keeps_caches_it_does_not_own(spark):
    """A lazily persisted input whose cache the chain's first step
    happens to fill belongs to its caller, not to the chain: the
    chain releases only its own checkpoint RDDs, so the cache's RDD
    stays registered for as long as the DataFrame reports itself
    cached."""
    from pyspark import StorageLevel

    from crypto_crawler_rs_spark.functions.lifetimes import (
        LocalCheckpointChain,
    )

    base = (
        spark.range(200)
        .withColumn("k", F.col("id") % 7)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        chain = LocalCheckpointChain(keep=2)
        it = chain.step(base.groupBy("k").count())  # fills base's cache
        cache_rdd = (
            spark._jsparkSession.sharedState()
            .cacheManager()
            .lookupCachedData(base._jdf)
            .get()
            .cachedRepresentation()
            .cacheBuilder()
            .cachedColumnBuffers()
            .id()
        )
        for _ in range(3):
            it = chain.step(it.select("k", (F.col("count") + 1).alias("count")))
        chain.close()
        assert base.is_cached
        live = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        assert cache_rdd in {int(i) for i in live}
    finally:
        base.unpersist()


def test_pagerank_empty_edges_keeps_node_type(spark):
    from crypto_crawler_rs_spark.operators.graphrank import pagerank

    empty_long = spark.createDataFrame([], "src bigint, dst bigint")
    out = pagerank(empty_long)
    assert out.schema["node"].dataType.simpleString() == "bigint"
    assert [f.name for f in out.schema.fields] == ["node", "rank", "rank_pos"]
    assert out.count() == 0

    empty_str = spark.createDataFrame([], "src string, dst string")
    assert (
        pagerank(empty_str).schema["node"].dataType.simpleString() == "string"
    )


def test_materialize_rejects_malformed_table(spark):
    from crypto_crawler_rs_spark.plans.frontier import (
        materialize_canonical_pages,
    )

    pages = spark.createDataFrame(
        [("https://a.example/p/1", b"<html></html>")], "url string, html binary"
    )
    for bad in ("t; DROP TABLE x", "../../etc", "a b", "x..y", ""):
        with pytest.raises(ValueError):
            materialize_canonical_pages(pages, bad)


def test_trap_gate_docstring_documents_boundary(spark):
    from crypto_crawler_rs_spark.streaming.stateful import trap_gate

    doc = trap_gate.__doc__ or ""
    assert "batch" in doc and "boundary" in doc.lower()
