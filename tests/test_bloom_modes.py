"""Bloom sizing + counting-mode (cuckoo-fallback) deletion.

north_rule: "partitioned Bloom-filter URL-seen set (cuckoo-filter
fallback for deletions)".  The counting filter restores the
definitely-unseen fast path after forget(); correctness never
depends on it (the exact anti-join is the authority), but FALSE
NEGATIVES would — so deletes are restricted to keys actually in the
seen set and this suite pins both properties.
"""

import numpy as np

from crypto_crawler_rs_spark.functions.bloom import ShardedBloom


def test_for_cardinality_fp_rate():
    """Sized filter must achieve ~the requested false-positive rate
    (within 2x) and zero false negatives."""
    rng = np.random.default_rng(3)
    n = 50_000
    bloom = ShardedBloom.for_cardinality(n, fp_target=0.01, n_shards=8)
    hh = rng.integers(-(2**31), 2**31, n, dtype=np.int64)
    uh = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    bloom.add(hh, uh)
    assert bloom.probe(hh, uh).all()  # no false negatives
    # fresh keys: measured fp rate
    hh2 = rng.integers(-(2**31), 2**31, n, dtype=np.int64)
    uh2 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    fp = bloom.probe(hh2, uh2).mean()
    assert fp <= 0.02, f"fp rate {fp:.4f} > 2x target"


def test_counting_delete_restores_prune():
    rng = np.random.default_rng(4)
    bloom = ShardedBloom.for_cardinality(5000, fp_target=0.01, n_shards=4, counting=True)
    hh = rng.integers(-(2**31), 2**31, 5000, dtype=np.int64)
    uh = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    bloom.add(hh, uh)
    bloom.delete(hh[:1000], uh[:1000])
    # deleted keys mostly probe False again; the rest stay True
    assert bloom.probe(hh[1000:], uh[1000:]).all()
    assert bloom.probe(hh[:1000], uh[:1000]).mean() <= 0.05


def test_engine_counting_forget_restores_bloom_path(spark, tmp_path):
    """forget() in counting mode deletes from the filter: the victim
    probes definitely-unseen again, and the subsequent crawl stays
    EXACTLY equal to a non-counting run (correctness independent of
    filter mode)."""
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=80, n_hosts=4, n_seeds=8, seed=17)
    sdfs = corpus_to_spark(spark, corpus)

    results = {}
    for mode in (False, True):
        eng = FrontierScheduler(
            spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / f"s{mode}"),
            FrontierConfig(max_rounds=5, n_seen_buckets=4, bloom_counting=mode),
        )
        m = eng.run(seeds=sdfs["seeds"], max_rounds=3)
        victim = sorted(r["url"] for r in eng.seen(m).select("url").collect())[0]
        m = eng.forget(spark.createDataFrame([(victim,)], "url string"), m)
        if mode:
            # counting mode: the filter itself forgot the victim
            import pyspark.sql.functions as F

            from crypto_crawler_rs_spark.functions.bloom import ShardedBloom as SB

            bl = SB.load(m["bloom"])
            row = (
                spark.createDataFrame([(victim,)], "url string")
                .select(
                    F.xxhash64("url").alias("u"),
                    F.hash(F.regexp_extract("url", r"^https?://([^/]+)", 1)).alias("h"),
                )
                .collect()[0]
            )
            assert not bl.probe(
                np.array([row["h"]], dtype=np.int64), np.array([row["u"]], dtype=np.int64)
            )[0]
        m = eng.run(max_rounds=5)
        f = eng.fetched(m).toPandas()
        sched = f[f.status.isin(["ok", "missing"])].sort_values(["round", "rank_in_round"])
        results[mode] = (
            sched[["round", "url", "status"]].to_records(index=False).tolist(),
            {r["url"] for r in eng.seen(m).select("url").collect()},
        )
    assert results[False] == results[True]


def test_engine_sized_bloom_matches_oracle(spark, tmp_path):
    """bloom_expected_urls sizes the filter; crawl results stay exact
    (bloom is only ever a prefilter)."""
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=80, n_hosts=4, n_seeds=8, seed=29)
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(max_rounds=4, n_seen_buckets=4, bloom_expected_urls=10_000),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=4)
    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=4
    )
    got = eng.fetched(m).toPandas()
    gs = got[got.status.isin(["ok", "missing"])].sort_values(["round", "rank_in_round"])
    es = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    assert gs["url"].tolist() == es["url"].tolist()
    assert {r["url"] for r in eng.seen(m).select("url").collect()} == exp.seen


def test_engine_kitchen_sink_config_matches_oracle(spark, tmp_path, monkeypatch):
    """All round-2 knobs AT ONCE (sharded probe + counting filter +
    sized bloom + profiling) must still match the sequential oracle
    exactly — guards against config interactions."""
    from crypto_crawler_rs_spark.plans import frontier as frontier_mod
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=90, n_hosts=5, n_seeds=8, seed=41)
    sdfs = corpus_to_spark(spark, corpus)
    monkeypatch.setattr(frontier_mod, "BLOOM_BROADCAST_MAX_BYTES", 0)  # sharded probe
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(
            max_rounds=4,
            n_seen_buckets=4,
            bloom_counting=True,
            bloom_expected_urls=5_000,
            profile_rounds=True,
            compact_seen_every=2,
        ),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=4)
    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=4
    )
    got = eng.fetched(m).toPandas()
    gs = got[got.status.isin(["ok", "missing"])].sort_values(["round", "rank_in_round"])
    es = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    assert gs["url"].tolist() == es["url"].tolist()
    assert {r["url"] for r in eng.seen(m).select("url").collect()} == exp.seen
    assert "timings" in m and m["timings"]  # profiling recorded
