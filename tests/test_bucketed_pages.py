"""The 100 TB pages path: materialize_canonical_pages writes a
url-bucketed canonical pages table once; FrontierConfig(
pages_canonical=True), which also skips the pages cache, then (a) crawls
byte-identically to the default path and (b) plans the fetch join
with the exchange on the SCHEDULED side only — the pages table never
re-shuffles."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from crypto_crawler_rs_spark.plans.frontier import (
    FrontierConfig,
    FrontierScheduler,
    materialize_canonical_pages,
)
from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus


@pytest.fixture(scope="module")
def corpus():
    return gen_corpus(n_pages=120, n_hosts=6, n_seeds=8, links_per_page=3, seed=7)


def _crawl(spark, pages, policy, seeds, state, **cfg_kw):
    eng = FrontierScheduler(
        spark, pages, policy, state,
        FrontierConfig(max_rounds=4, n_seen_buckets=4, **cfg_kw),
    )
    m = eng.run(seeds=seeds, max_rounds=4)
    return (
        eng.fetched(m)
        .toPandas()
        .sort_values(["round", "rank_in_round", "url"])
        .reset_index(drop=True)
    )


def test_bucketed_canonical_pages_crawl_is_identical(spark, corpus, tmp_path):
    sdfs = corpus_to_spark(spark, corpus)
    default = _crawl(
        spark, sdfs["pages"], sdfs["host_policy"], sdfs["seeds"],
        str(tmp_path / "s_default"),
    )
    bucketed = materialize_canonical_pages(
        sdfs["pages"], "bucketed_pages_t1", n_buckets=4
    )
    fast = _crawl(
        spark, bucketed, sdfs["host_policy"], sdfs["seeds"],
        str(tmp_path / "s_bucketed"),
        pages_canonical=True,
    )
    assert list(default.columns) == list(fast.columns)
    assert default.equals(fast)  # ordering, status, text — byte-identical


def test_bucketed_pages_fetch_join_is_one_sided(spark, corpus):
    """The join of (big bucketed pages) x (small scheduled urls) must
    not exchange the pages side: its bucketed scan already satisfies
    the join distribution."""
    sdfs = corpus_to_spark(spark, corpus)
    pages = materialize_canonical_pages(
        sdfs["pages"], "bucketed_pages_t2", n_buckets=4
    )
    sched = sdfs["seeds"].select(F.col("url")).limit(5)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = pages._sc._jvm.PythonSQLUtils.explainString(
            pages.join(sched, "url")._jdf.queryExecution(), "formatted"
        )
    except Exception:
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            pages.join(sched, "url").explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # exactly ONE exchange (the scheduled side); bucketed side reads
    # SelectedBucketsCount without shuffling
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "Bucketed: true" in plan
