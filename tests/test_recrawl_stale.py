"""recrawl_stale — the freshness-TTL pass: seen urls older than the
TTL are forgotten AND re-enqueued, so later rounds re-fetch them
under normal politeness/priority; newer urls stay deduped."""

from __future__ import annotations

import pytest

from crypto_crawler_rs_spark.plans.frontier import (
    FrontierConfig,
    FrontierScheduler,
)
from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus


@pytest.fixture(scope="module")
def crawl_env(spark, tmp_path_factory):
    corpus = gen_corpus(n_pages=120, n_hosts=6, n_seeds=8, links_per_page=3, seed=11)
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark,
        sdfs["pages"],
        sdfs["host_policy"],
        str(tmp_path_factory.mktemp("recrawl_stale")),
        FrontierConfig(max_rounds=16, n_seen_buckets=4),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=3)
    return eng, m


def test_recrawl_stale_refetches_old_urls(spark, crawl_env):
    eng, m = crawl_env
    fetched_before = eng.fetched(m).toPandas()
    round0 = set(fetched_before[fetched_before.status == "ok"].query("round == 0").url)
    assert round0

    rnd = m["round"]
    m2 = eng.recrawl_stale(ttl_rounds=rnd, manifest=m)  # stale = round-0 adds
    assert m2["frontier"] != m["frontier"]
    # frontier now contains the stale urls again
    frontier = {r.url for r in eng.store.read(m2["frontier"]).collect()}
    assert round0 <= frontier

    m3 = eng.run(max_rounds=rnd + 2)  # resume continues from m2
    refetched = eng.fetched(m3).toPandas().query(f"round >= {rnd}")
    ok_again = set(refetched[refetched.status == "ok"].url)
    assert round0 <= ok_again  # every stale url was re-fetched
    # and re-entered the seen set
    seen = {r.url for r in eng.seen(m3).select("url").collect()}
    assert round0 <= seen


def test_recrawl_stale_noop_when_nothing_stale(spark, tmp_path):
    corpus = gen_corpus(n_pages=60, n_hosts=4, n_seeds=5, seed=13)
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"],
        str(tmp_path / "s"), FrontierConfig(max_rounds=2, n_seen_buckets=4),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=2)
    m2 = eng.recrawl_stale(ttl_rounds=100, manifest=m)  # nothing that old
    assert m2 == m  # untouched manifest, no forget, no frontier write


def test_recrawl_stale_rejects_ttl_below_one_without_seen_roots(spark, tmp_path):
    """The TTL check runs before the no-seen-set early return: a
    fresh state (no seen roots yet) still refuses ttl_rounds < 1."""
    corpus = gen_corpus(n_pages=30, n_hosts=3, n_seeds=3, seed=17)
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"],
        str(tmp_path / "s"), FrontierConfig(n_seen_buckets=4),
    )
    m = eng.init_state(sdfs["seeds"])
    assert m["seen"] == []
    with pytest.raises(ValueError, match="ttl_rounds"):
        eng.recrawl_stale(ttl_rounds=0, manifest=m)
    assert eng.store.read_manifest() == m
