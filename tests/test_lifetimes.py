"""Every persisting operator releases what it pins once the caller's
lifetimes scope exits: no cache-manager entry, no persistent RDD
(cache or checkpoint) and no live broadcast is left behind.

Only growth of the persistent-RDD registry is checked: what earlier
tests left behind may be garbage-collected during a case."""

from __future__ import annotations

import pytest
from pyspark.broadcast import Broadcast
from pyspark.sql import functions as F

from __spark_entry__ import SF0001
from crypto_crawler_rs_spark.functions.lifetimes import scope

DOCS = f"{SF0001}/documents.parquet"
EMBEDDINGS = f"{SF0001}/embeddings.parquet"


def _persistent_ids(spark) -> set[int]:
    keys = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(k) for k in keys}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _minhash(family):
    def run(spark, docs, tmp_path):
        from crypto_crawler_rs_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            docs, k=3, n_hashes=8, n_bands=4, threshold=0.05,
            hash_family=family,
        )

    return run


def _ngram(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(docs, k=3, threshold=0.05, df_cap=100)


def _winnow(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.winnow import winnow_passage_pairs

    return winnow_passage_pairs(docs, k=4, w=4, min_shared=2, df_cap=100)


def _simhash(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )

    fp = simhash_fingerprints(docs, hash_family="md5", n_bits=60)
    return simhash_pairs(fp, max_hamming=3, n_bits=60)


def _incremental_lsh(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.dedup import (
        incremental_lsh_pairs,
        write_band_index,
    )

    kw = dict(k=3, n_hashes=8, n_bands=4, n_buckets=8)
    idx = str(tmp_path / "idx")
    write_band_index(docs.where(F.col("doc_id") % 2 == 0), idx, **kw)
    return incremental_lsh_pairs(
        docs.where(F.col("doc_id") % 2 == 1), [idx], threshold=0.05, **kw
    )


def _prep(fuzzy):
    def run(spark, docs, tmp_path):
        from crypto_crawler_rs_spark.operators.prep import prep_corpus

        kw = dict(min_tokens=20, min_distinct_ratio=0.4)
        if fuzzy:
            kw.update(
                fuzzy_threshold=0.05, fuzzy_n_hashes=8, fuzzy_n_bands=4,
                fuzzy_hash_family="md5",
            )
        return prep_corpus(docs, **kw)

    return run


def _global_rank(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.rank import global_rank

    return global_rank(docs.select("doc_id"), ["doc_id"], num_partitions=3)


def _cosine_neardup(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    return cosine_neardup_pairs(spark.read.parquet(EMBEDDINGS), threshold=0.3)


def _edges(docs):
    return docs.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") % 50).alias("dst")
    )


def _pagerank(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.graphrank import pagerank

    return pagerank(_edges(docs), n_iter=2)


def _components(spark, docs, tmp_path):
    from crypto_crawler_rs_spark.operators.components import (
        connected_components,
    )

    return connected_components(_edges(docs))


OPERATORS = {
    "minhash_xxhash64": _minhash("xxhash64"),
    "minhash_md5": _minhash("md5"),
    "ngram_df_cap": _ngram,
    "winnow": _winnow,
    "simhash": _simhash,
    "incremental_lsh": _incremental_lsh,
    "prep_corpus": _prep(fuzzy=False),
    "prep_corpus_fuzzy": _prep(fuzzy=True),
    "global_rank": _global_rank,
    "cosine_neardup": _cosine_neardup,
    "pagerank": _pagerank,
    "connected_components": _components,
}


@pytest.mark.parametrize("name", list(OPERATORS))
def test_scope_releases_operator_intermediates(spark, tmp_path, name):
    docs = spark.read.parquet(DOCS)
    spark.catalog.clearCache()
    base = _persistent_ids(spark)
    with scope() as held:
        OPERATORS[name](spark, docs, tmp_path).write.format("noop").mode(
            "overwrite"
        ).save()
        assert held, name  # every operator here pins something
    assert not _persistent_ids(spark) - base, name
    assert _cache_empty(spark), name
    for b in held:
        if isinstance(b, Broadcast):
            assert not b._jbroadcast.isValid(), name


def test_prep_corpus_repeated_calls_keep_cache_flat(spark):
    """Ten calls on changing inputs, one scope each: the session's
    cache does not grow with the number of calls."""
    from crypto_crawler_rs_spark.operators.prep import prep_corpus

    docs = spark.read.parquet(DOCS)
    spark.catalog.clearCache()
    base = _persistent_ids(spark)
    for i in range(10):
        with scope():
            prep_corpus(docs.where(F.col("doc_id") % 10 == i)).count()
        assert not _persistent_ids(spark) - base, i
        assert _cache_empty(spark), i
