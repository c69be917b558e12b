"""Round 0 is planned like every later round.

``init_state`` counts the seed frontier on its write and commits the
count as ``frontier_size``, so round 0 takes the size-gated branches
its size calls for: the single-partition rank window, a flat seen
delta and the driver-side Bloom update.  Without the count it took
every "assume big" branch (the ``global_rank`` prepass, a bucketed
delta, the executor-side Bloom build), and its compiled plans were
not the ones the later rounds run.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from crypto_crawler_rs_spark.functions.urls import canonicalize_url
from crypto_crawler_rs_spark.plans import frontier as frontier_mod
from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus


def test_init_state_counts_distinct_canonical_seeds(spark, tmp_path):
    corpus = gen_corpus(n_pages=60, n_hosts=4, n_seeds=6, seed=17)
    sdfs = corpus_to_spark(spark, corpus)
    urls = list(corpus["seeds"]["url"])
    # duplicates that canonicalize to the same url, and unparseable ones
    messy = urls + [f" {u}#dup " for u in urls[:3]] + ["not a url", "::garbage::"]
    seeds = spark.createDataFrame([(u, 0) for u in messy], "url string, depth int")
    want = {canonicalize_url(u) for u in messy} - {None}
    assert len(want) <= len(urls) < len(messy) - 2  # duplicates collapse

    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"), FrontierConfig()
    )
    m = eng.init_state(seeds)
    assert m["frontier_size"] == len(want)
    assert eng.store.read_manifest()["frontier_size"] == len(want)
    assert eng.store.read(m["frontier"]).count() == len(want)


def test_round0_takes_the_small_round_branches(spark, tmp_path, monkeypatch):
    from crypto_crawler_rs_spark.functions import bloom as bloom_mod

    def assumed_big(*args, **kwargs):
        raise AssertionError("round 0 took a big-frontier branch")

    monkeypatch.setattr(frontier_mod, "global_rank", assumed_big)
    monkeypatch.setattr(bloom_mod, "build_shard_bitmaps", assumed_big)

    corpus = gen_corpus(n_pages=80, n_hosts=5, n_seeds=8, seed=19)
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(n_seen_buckets=4, seen_anti_join="bucket_pruned"),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=1)
    assert m["round"] == 1
    # the round-0 seen delta is a flat LSM delta, not bucket=K dirs
    (delta,) = m["seen"]
    assert not any(e.startswith("bucket=") for e in os.listdir(delta))

    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=1
    )
    got = eng.fetched(m).toPandas()
    gs = got[got.status.isin(["ok", "missing"])].sort_values("rank_in_round")
    es = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        "rank_in_round"
    )
    assert gs["url"].tolist() == es["url"].tolist()
    assert {r["url"] for r in eng.seen(m).select("url").collect()} == exp.seen


@pytest.mark.parametrize("validation", ["quarantine", "ignore"])
def test_all_invalid_seeds_run_no_round(spark, tmp_path, validation):
    corpus = gen_corpus(n_pages=40, n_hosts=3, n_seeds=4, seed=23)
    sdfs = corpus_to_spark(spark, corpus)
    bad = ["not a url", "::garbage::"]
    seeds = spark.createDataFrame([(u, 0) for u in bad], "url string, depth int")
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(seed_validation=validation),
    )
    m = eng.run(seeds=seeds, max_rounds=3)

    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        pd.DataFrame({"url": bad, "depth": [0] * len(bad)}), max_rounds=3
    )
    assert exp.rounds_run == 0
    assert m["round"] == exp.rounds_run
    assert m["frontier_size"] == 0
    assert m["fetched"] == []
    assert eng.fetched(m).count() == 0
