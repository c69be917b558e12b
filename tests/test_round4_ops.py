"""Round-4 operators: learned IVF codebook (spherical k-means job).

The clustered fixture models the realistic worst case for the
deterministic lowest-id default codebook: ids are assigned in cluster
order (crawl order correlates with content), so the n_cells lowest-id
vectors all come from ONE cluster and the default quantizer maps most
of the space to a single cell.  The k-means codebook must (a) beat
that default's recall at the same nprobe and (b) reach high absolute
recall.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _clustered(spark, n_clusters=8, per_cluster=50, dim=16, noise=0.15, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + noise * rng.normal(size=dim)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<double>"
    )


def _recall(approx, exact):
    a = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    return len(a & e) / len(e)


def test_learned_codebook_beats_lowest_id_default(spark):
    from crypto_crawler_rs_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        learn_ivf_centroids,
    )

    corpus = _clustered(spark).persist()
    queries = corpus.filter(F.col("vec_id") % 25 == 0)  # 2 per cluster
    exact = cosine_topk_bruteforce(queries, corpus, k=5).toPandas()

    default = cosine_topk_ivf(queries, corpus, k=5, n_cells=8, nprobe=2).toPandas()
    book = learn_ivf_centroids(corpus, n_cells=8, n_iters=5)
    learned = cosine_topk_ivf(
        queries, corpus, k=5, n_cells=8, nprobe=2, centroids=book
    ).toPandas()
    corpus.unpersist()

    r_default, r_learned = _recall(default, exact), _recall(learned, exact)
    assert r_learned > r_default, (r_learned, r_default)
    assert r_learned >= 0.9, r_learned


def test_learned_codebook_is_deterministic_and_unit_norm(spark):
    from crypto_crawler_rs_spark.operators.similarity import learn_ivf_centroids

    corpus = _clustered(spark, n_clusters=4, per_cluster=20)
    b1 = learn_ivf_centroids(corpus, n_cells=4, n_iters=3).toPandas()
    b2 = learn_ivf_centroids(corpus, n_cells=4, n_iters=3).toPandas()
    assert b1.vec_id.tolist() == [0, 1, 2, 3]
    v1 = np.array(b1.sort_values("vec_id").embedding.tolist())
    v2 = np.array(b2.sort_values("vec_id").embedding.tolist())
    assert np.allclose(v1, v2)  # no RNG state: same input -> same book
    assert np.allclose(np.linalg.norm(v1, axis=1), 1.0)


def test_learned_codebook_train_sample(spark):
    """train_mod subsamples deterministically and still produces a
    usable full-coverage codebook (cells near every cluster)."""
    from crypto_crawler_rs_spark.operators.similarity import learn_ivf_centroids

    corpus = _clustered(spark, per_cluster=80)
    book = learn_ivf_centroids(
        corpus, n_cells=8, n_iters=4, train_mod=2
    ).toPandas()
    assert len(book) == 8
    C = np.array(book.embedding.tolist())
    # every true cluster center has a nearby learned centroid
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    sims = centers @ C.T
    assert (sims.max(axis=1) > 0.85).all(), sims.max(axis=1)


def _jvm_shingle_rows(df, k=3):
    """Independent pure-JVM reference for ``dedup.shingle_rows``:
    Java ``split`` + higher-order functions (sequence/transform/slice)
    + explode.  The token array is materialized as a column FIRST — an
    inline ``split()`` inside the lambda is re-evaluated per element."""
    words = F.col("_words")
    n = F.greatest(F.size(words) - (k - 1), F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )
    sh = df.select(
        "doc_id", F.split(F.col("text"), " ").alias("_words")
    ).select(
        "doc_id",
        F.when(n > 0, F.array_distinct(shingles)).otherwise(F.array()).alias("sh"),
    )
    return sh.select(
        F.col("doc_id").alias("_id"),
        F.size("sh").alias("_n"),
        F.explode("sh").alias("_s"),
    )


def test_shingle_impls_equivalent(spark):
    """The Arrow shingle_rows must emit the identical multiset of
    (_id, _n, _s) rows as the JVM split + higher-order-function
    reference — including the edge cases: empty text, double spaces
    (empty tokens preserved), trailing space, < k words, duplicate
    shingles collapsed, NULL text."""
    from crypto_crawler_rs_spark.operators.dedup import shingle_rows

    rows = [
        (0, "a b c d e"),
        (1, ""),
        (2, "one two"),                # < k words
        (3, "x  y z"),                 # double space -> empty token
        (4, "p q r p q r p q r"),      # repeated shingles collapse
        (5, "tail space "),            # trailing empty token
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda p: sorted(map(tuple, p[["_id", "_n", "_s"]].values))
    assert key(shingle_rows(df).toPandas()) == key(_jvm_shingle_rows(df).toPandas())
    # ...and on the real fixture corpus
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert key(shingle_rows(docs).toPandas()) == key(
        _jvm_shingle_rows(docs).toPandas()
    )


def test_minhash_cleanup_contract(spark):
    """minhash_lsh_pairs registers its persisted intermediates with the
    open lifetimes scope, which releases them at exit.  Always held:
    the banded signature table (consumed by both self-join sides) and
    the collect_set table (consumed by both confirm joins).  The
    shingle table is held only on xxhash64, whose signatures aggregate
    it; the md5 signatures come from their own Arrow pass over the
    docs, so the shingle table has one consumer and is never cached."""
    from crypto_crawler_rs_spark.functions.lifetimes import scope
    from crypto_crawler_rs_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for family, n_held, n_shingle in (("xxhash64", 3, 1), ("md5", 2, 0)):
        with scope() as held:
            out = minhash_lsh_pairs(
                docs, k=3, n_hashes=8, n_bands=4, threshold=0.05,
                hash_family=family,
            )
            out.count()
            assert len(held) == n_held, family
            assert all(h.is_cached for h in held), family
            assert sum("_s" in h.columns for h in held) == n_shingle, family
        assert not any(h.is_cached for h in held), family


def test_digest_compaction(spark, tmp_path):
    """compact_digest_index folds delta indexes losslessly: membership
    after compaction equals membership against the delta list, and
    overlapping digests keep the lowest keeper_id (order-independent
    fold)."""
    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.operators.dedup import (
        compact_digest_index,
        filter_new_digests,
        write_digest_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d1 = docs.filter(F.col("doc_id") % 3 == 0)
    # overlap: delta 2 re-indexes some of delta 1's content with HIGHER ids
    d2 = docs.filter(F.col("doc_id") % 3 == 1).unionByName(
        d1.limit(10).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    p1, p2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    write_digest_index(d1, p1, n_buckets=8)
    write_digest_index(d2, p2, n_buckets=8)
    pc = compact_digest_index(spark, [p1, p2], str(tmp_path / "c"), n_buckets=8)

    batch = docs.filter(F.col("doc_id") % 3 == 2)
    via_deltas = set(
        r["text_md5"]
        for r in filter_new_digests(batch, [p1, p2], n_buckets=8).collect()
    )
    via_compact = set(
        r["text_md5"]
        for r in filter_new_digests(batch, [pc], n_buckets=8).collect()
    )
    assert via_deltas == via_compact

    # overlapping digests resolved to the LOWEST keeper_id
    comp = spark.read.parquet(pc)
    assert comp.groupBy("digest").count().filter("count > 1").count() == 0
    dup_digests = (
        spark.read.parquet(p1).select("digest")
        .intersect(spark.read.parquet(p2).select("digest"))
    )
    joined = comp.join(dup_digests, "digest")
    assert joined.filter(F.col("keeper_id") >= 1_000_000).count() == 0
    assert joined.count() > 0  # the overlap really existed
