"""Driver-contract smoke + operator-level invariants that the DuckDB
oracle can't express (hash-family ops): MinHash-LSH vs exact Jaccard,
ANN-LSH vs brute force, multimodal plumbing."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"round", "rank_in_round", "url", "status"} <= set(df.columns)
    # crawl made progress across rounds
    assert max(r["round"] for r in rows) >= 1


def test_queries_have_oracles_or_docstring(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 30
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"


def test_minhash_lsh_subset_of_exact_jaccard(spark):
    """Every LSH-confirmed pair must be an exact-Jaccard pair at the
    same threshold (LSH bounds recall, never precision — the
    bloom-prefilter contract)."""
    from crypto_crawler_rs_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.05).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, n_hashes=32, n_bands=16, threshold=0.05
        ).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0
    # banded LSH with 16 bands of 2 rows catches most >=0.05 pairs here
    assert len(lsh) >= len(exact) * 0.5


def test_simhash_close_for_near_identical_docs(spark):
    from crypto_crawler_rs_spark.operators.dedup import simhash_fingerprints

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    df = spark.createDataFrame(
        [(1, base), (2, base + " omega"), (3, "totally different words here now")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(df).collect()}
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(fps[1], fps[2]) <= 8  # near-dup -> close fingerprints
    assert ham(fps[1], fps[3]) > 12  # different docs -> far apart


def test_ann_lsh_pairs_subset_and_exactly_ranked(spark):
    """LSH ANN returns exactly-cosine-ranked results over its
    candidate set; every returned neighbor's sim must equal the
    brute-force sim for that pair."""
    from crypto_crawler_rs_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {
        (r.query_id, r.neighbor_id): r.sim
        for r in cosine_topk_bruteforce(q, emb, k=500).collect()
    }
    lsh = cosine_topk_lsh(q, emb, dim=64, k=5, n_planes=6, n_tables=8).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert (r.query_id, r.neighbor_id) in bf
        assert abs(bf[(r.query_id, r.neighbor_id)] - r.sim) < 1e-9


def test_multimodal_feature_plumbing(spark):
    from crypto_crawler_rs_spark.operators.multimodal import (
        extract_media_features,
        gen_media_fixture,
    )

    med = gen_media_fixture(spark, n=30)
    feats = extract_media_features(med, feature_dim=8).collect()
    assert len(feats) == 30
    by_kind = {}
    for r in feats:
        assert r.decode_error is None
        assert len(r.feature) == 8
        by_kind.setdefault(r.kind, set()).add(r.format)
    assert by_kind["image"] == {"png"}
    assert by_kind["audio"] == {"riff_wav"}
    # determinism: second run bit-identical
    feats2 = extract_media_features(med, feature_dim=8).collect()
    assert sorted((r.media_id, tuple(r.feature)) for r in feats2) == sorted(
        (r.media_id, tuple(r.feature)) for r in feats
    )


def test_lang_id_on_real_language_text(spark):
    from crypto_crawler_rs_spark.functions.textstats import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is that for to in"),
            (2, "der hund ist nicht das problem und ein zu"),
            (3, "le chat est une merveille et que pour les"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred for r in df.select("doc_id", lang_id().alias("pred")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}
