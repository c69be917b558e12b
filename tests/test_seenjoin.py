"""Bucket-pruned seen membership: exact equality with the shuffle
anti-join path, including tombstone/forget semantics and the
kitchen-sink combination with the sharded bloom probe."""

import datetime as dt

from crypto_crawler_rs_spark.plans import frontier as frontier_mod
from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
from crypto_crawler_rs_spark.sources.fixtures import _render_html, corpus_to_spark, gen_corpus


def test_bucket_pruned_crawl_matches_oracle(spark, tmp_path, monkeypatch):
    corpus = gen_corpus(n_pages=110, n_hosts=6, n_seeds=9, seed=43)
    sdfs = corpus_to_spark(spark, corpus)
    monkeypatch.setattr(frontier_mod, "BLOOM_BROADCAST_MAX_BYTES", 0)  # sharded probe
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(
            max_rounds=5,
            n_seen_buckets=8,
            seen_anti_join="bucket_pruned",
            compact_seen_every=3,  # exercise bucketed compaction too
        ),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=5)
    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=5
    )
    got = eng.fetched(m).toPandas()
    gs = got[got.status.isin(["ok", "missing"])].sort_values(["round", "rank_in_round"])
    es = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    assert gs["url"].tolist() == es["url"].tolist()
    assert gs["rank_in_round"].astype(int).tolist() == es["rank_in_round"].astype(int).tolist()
    assert {r["url"] for r in eng.seen(m).select("url").collect()} == exp.seen
    # the seen deltas really are hive-bucketed on disk
    import os

    assert any(
        d.startswith("bucket=")
        for d in os.listdir(m["seen"][0])
        if not d.startswith("_")
    )


def test_bucket_pruned_forget_recrawl(spark, tmp_path):
    """The round-scoped tombstone semantics of test_advice_fixes, in
    bucket_pruned mode: forgotten url re-fetched exactly once."""
    host = "a.example.com"
    n = 10
    urls = [f"https://{host}/p/{i}" for i in range(n)]
    rows = []
    for i in range(n):
        links = [urls[i + 1]] if i + 1 < n else []
        if i >= 1:
            links.append(urls[0])
        rows.append(
            (urls[i], dt.datetime(2020, 1, 1),
             _render_html(f"t{i}", [f"body {i}"], links), f"t{i}\nbody {i}", "en")
        )
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    policy = spark.createDataFrame(
        [(host, 0, 1, [], 1, False)],
        "host string, host_rank long, budget_per_round int, "
        "robots_disallow array<string>, crawl_delay_rounds int, is_hot boolean",
    )
    seeds = spark.createDataFrame([(urls[0], 0)], "url string, depth int")
    eng = FrontierScheduler(
        spark, pages, policy, str(tmp_path / "s"),
        FrontierConfig(
            max_rounds=8, emit_deferred=False, n_seen_buckets=4,
            seen_anti_join="bucket_pruned",
        ),
    )
    m = eng.run(seeds=seeds, max_rounds=3)
    m = eng.forget(spark.createDataFrame([(urls[0],)], "url string"), m)
    m = eng.run(max_rounds=8)
    f = eng.fetched(m).toPandas()
    p0 = f[(f.url == urls[0]) & (f.status == "ok")]
    assert sorted(p0["round"]) == [0, 4]
    assert urls[0] in {r["url"] for r in eng.seen(m).select("url").collect()}


def test_worker_delta_cache_immutable_and_lru(tmp_path, monkeypatch):
    """The per-(path,bucket) delta cache serves repeat reads without
    touching disk (immutability contract) and evicts LRU when over
    the row budget."""
    import shutil

    import pandas as pd

    import crypto_crawler_rs_spark.operators.seenjoin as sj

    monkeypatch.setattr(sj, "_PATH_CACHE", type(sj._PATH_CACHE)())
    monkeypatch.setattr(sj, "_PATH_CACHE_ROWS", 0)
    monkeypatch.setattr(sj, "_PATH_CACHE_MAX_ROWS", 150)

    def write_root(name, n):
        root = tmp_path / name
        (root / "bucket=0").mkdir(parents=True)
        pd.DataFrame({"url": [f"u{i}" for i in range(n)]}).to_parquet(
            root / "bucket=0" / "part.parquet", index=False
        )
        return str(root)

    r1 = write_root("d1", 100)
    got = sj._read_bucket_part(r1, 0, ("url",))
    assert len(got[0]) == 100
    # disk gone -> cache still answers (immutable roots)
    shutil.rmtree(r1)
    again = sj._read_bucket_part(r1, 0, ("url",))
    assert len(again[0]) == 100
    # missing dirs are negative-cached
    assert sj._read_bucket_part(r1, 7, ("url",)) is None
    # a second root pushes total rows over budget -> r1 evicted
    r2 = write_root("d2", 100)
    assert len(sj._read_bucket_part(r2, 0, ("url",))[0]) == 100
    assert (r1, 0, ("url",)) not in sj._PATH_CACHE
    assert (r2, 0, ("url",)) in sj._PATH_CACHE
