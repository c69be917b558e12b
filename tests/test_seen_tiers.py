"""Size-tiered seen compaction (FrontierScheduler.compact_seen).

Compaction merges only the newest seen roots and keeps the large older
snapshots under their paths, so the seen join's caches stay warm for
them and a row is rewritten O(log n) times instead of once per
compaction.  Pinned here:

- unit cases over synthetic roots: a large bucketed old root comes back
  verbatim and first; a lone root already in the current layout writes
  nothing; a flat root is always merged; tombstones force the full
  fold; every kept root outweighs all newer rows, also when the deltas
  shrink round over round;
- a crawl over a large seeded bucketed root (perfbench's
  crawl_long_seen, small) stays oracle-equal, keeps the seeded root at
  ``m["seen"][0]`` and keeps the root count logarithmic.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from crypto_crawler_rs_spark.operators.seenjoin import has_bucket_dirs
from crypto_crawler_rs_spark.plans.frontier import (
    FrontierConfig,
    FrontierScheduler,
    parquet_row_count,
)
from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

N_BUCKETS = 4
SEEDED = "https://seed"


@pytest.fixture()
def eng(spark, tmp_path):
    """An engine used only for its seen maintenance: no crawl runs."""
    pages = spark.createDataFrame([], "url string, html binary")
    policy = spark.createDataFrame([], "host string")
    return FrontierScheduler(
        spark, pages, policy, str(tmp_path / "s"),
        FrontierConfig(
            n_seen_buckets=N_BUCKETS,
            seen_anti_join="bucket_pruned",
            pages_canonical=True,
        ),
    )


def _root(eng, name: str, n: int, rnd: int, bucketed: bool, first: int = 0) -> str:
    """A seen root of ``n`` rows added in round ``rnd``, in the engine's
    bucketed layout or as a flat LSM delta."""
    urls = (
        eng.spark.range(first, first + n)
        .select(
            F.concat(
                F.lit("https://h"), F.col("id") % 7, F.lit(".example.org/p/"),
                F.col("id"),
            ).alias("url")
        )
        .select("url", F.regexp_extract("url", r"^https://([^/]+)", 1).alias("host"))
    )
    delta = eng._seen_delta(urls, rnd)
    if not bucketed:
        return eng.store.write(delta.drop("bucket"), rnd, name)
    return eng.store.write(delta, rnd, name, partition_by="bucket")


def _rows(eng, paths: list[str]) -> list[tuple]:
    df = eng.store.read_union(paths, columns=["url", "added_round"])
    return sorted((r.url, r.added_round) for r in df.collect())


def test_large_old_root_kept_verbatim_and_first(eng):
    big = _root(eng, "big", 400, 0, bucketed=True)
    d1 = _root(eng, "d1", 10, 1, bucketed=False, first=400)
    d2 = _root(eng, "d2", 10, 2, bucketed=False, first=410)
    before = _rows(eng, [big, d1, d2])
    seen, tombs = eng.compact_seen([big, d1, d2], [], 3)
    assert seen[0] == big
    assert len(seen) == 2 and tombs == []
    assert has_bucket_dirs(seen[1])
    assert _rows(eng, seen) == before


def test_lone_root_in_current_layout_writes_nothing(eng):
    big = _root(eng, "big", 400, 0, bucketed=True)
    assert eng.compact_seen([big], [], 1) == ([big], [])
    small = _root(eng, "small", 10, 1, bucketed=True, first=400)
    # the window is the newest root alone: it is smaller than the
    # older root and already bucketed
    assert eng.compact_seen([big, small], [], 2) == ([big, small], [])
    assert not os.path.exists(eng.store.round_dir(1, "seen_compact"))
    assert not os.path.exists(eng.store.round_dir(2, "seen_compact"))


def test_flat_root_always_merged(eng):
    # a flat root larger than everything newer is still merged: it is
    # not in the layout the engine writes
    flat = _root(eng, "flat", 300, 0, bucketed=False)
    small = _root(eng, "small", 10, 1, bucketed=True, first=300)
    before = _rows(eng, [flat, small])
    seen, _ = eng.compact_seen([flat, small], [], 2)
    assert len(seen) == 1 and has_bucket_dirs(seen[0])
    assert _rows(eng, seen) == before

    # a flat root behind a newer bucketed one pulls that one in too,
    # while the large bucketed root in front of both stays
    big = _root(eng, "big", 1000, 0, bucketed=True, first=1000)
    mid = _root(eng, "mid", 300, 1, bucketed=False, first=2000)
    tiny = _root(eng, "tiny", 10, 2, bucketed=True, first=2300)
    before = _rows(eng, [big, mid, tiny])
    seen, _ = eng.compact_seen([big, mid, tiny], [], 3)
    assert seen[0] == big and len(seen) == 2
    assert all(has_bucket_dirs(p) for p in seen)
    assert _rows(eng, seen) == before


def test_tombstones_force_full_fold(eng):
    big = _root(eng, "big", 400, 0, bucketed=True)
    d1 = _root(eng, "d1", 10, 1, bucketed=False, first=400)
    cancelled = {f"https://h{i % 7}.example.org/p/{i}" for i in (3, 50, 401)}
    tomb = (
        eng.spark.createDataFrame([(u,) for u in sorted(cancelled)], "url string")
        .withColumn("tomb_round", F.lit(1))
        .withColumn(
            "bucket",
            F.pmod(F.hash(F.regexp_extract("url", r"^https://([^/]+)", 1)), F.lit(N_BUCKETS)),
        )
    )
    tpath = eng.store.write(tomb, 1, "seen_tombstone_0", partition_by="bucket")
    before = [r for r in _rows(eng, [big, d1]) if r[0] not in cancelled]
    seen, tombs = eng.compact_seen([big, d1], [tpath], 2)
    assert len(seen) == 1 and seen[0] != big
    assert tombs == []
    assert _rows(eng, seen) == before
    assert len(before) == 410 - len(cancelled)


def test_shrinking_deltas_keep_roots_logarithmic(eng):
    """Every kept root holds more rows than all newer roots together,
    so a run of ever smaller deltas does not pile up as roots: 12, 10
    and 8 rows are merged once their sum outweighs the older ones."""
    seen = [_root(eng, "base", 64, 0, bucketed=True)]
    first = 64
    for rnd, n in enumerate((12, 10, 8, 6), start=1):
        seen.append(_root(eng, "seen_delta", n, rnd, bucketed=False, first=first))
        first += n
        seen, _ = eng.compact_seen(seen, [], rnd + 1)
        sizes = [parquet_row_count(p) for p in seen]
        for i in range(len(sizes) - 1):
            assert sizes[i] > sum(sizes[i + 1:]), sizes
    assert parquet_row_count(seen) == first
    assert len(_rows(eng, seen)) == first


def test_crawl_over_seeded_root_keeps_it_first(spark, tmp_path):
    corpus = gen_corpus(n_pages=150, n_hosts=8, n_seeds=10, seed=71)
    sdfs = corpus_to_spark(spark, corpus)
    cfg = FrontierConfig(
        n_seen_buckets=8, seen_anti_join="bucket_pruned", compact_seen_every=2
    )
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"), cfg
    )
    # seeded seen rows on hosts disjoint from the corpus, bucketed like
    # the engine's snapshots (perfbench's crawl_long_seen, small)
    n_seeded = 20_000
    seeded_path = str(tmp_path / "seen_seeded")
    seeded = spark.range(n_seeded).select(
        F.concat(
            F.lit(SEEDED), F.col("id") % 50, F.lit(".example.net/p/"), F.col("id")
        ).alias("url"),
    )
    eng._seen_delta(
        seeded.select("url", F.regexp_extract("url", r"^https://([^/]+)", 1).alias("host")),
        0,
    ).write.partitionBy("bucket").parquet(seeded_path)
    m = eng.init_state(sdfs["seeds"])
    m = dict(m, seen=[seeded_path], seen_rows=n_seeded)
    eng.store.commit(m)

    rounds = 8
    while m["round"] < rounds and m.get("frontier_size") != 0:
        m = eng.run_round(m)
        assert m["seen"][0] == seeded_path
        assert m["seen_rows"] == parquet_row_count(m["seen"])
        sizes = [parquet_row_count(p) for p in m["seen"]]
        for i in range(len(sizes) - 1):
            assert sizes[i] > sum(sizes[i + 1:]), sizes
        crawled = m["seen_rows"] - n_seeded
        assert len(m["seen"]) - 1 <= 2 + math.log2(max(crawled, 1)), sizes
    assert m["round"] == rounds

    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=rounds
    )
    got = eng.fetched(m).toPandas()
    gs = got[got.status.isin(["ok", "missing"])].sort_values(["round", "rank_in_round"])
    es = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    assert gs["url"].tolist() == es["url"].tolist()
    assert gs["rank_in_round"].astype(int).tolist() == es["rank_in_round"].astype(int).tolist()
    seen = eng.seen(m)
    is_seeded = F.col("url").startswith(SEEDED)
    assert {r.url for r in seen.filter(~is_seeded).select("url").collect()} == exp.seen
    assert seen.filter(is_seeded).count() == n_seeded
