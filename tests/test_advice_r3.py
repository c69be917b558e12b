"""Round-3 advisor regression tests.

1. Distributed bloom build must use the LIVE filter's dimensions
   (bloom_expected_urls + distributed threshold combo crashed or set
   wrong bits before).
2. Counting-bloom counters saturate at 255 (sticky) and delete is
   duplicate-safe — uint8 wrap-around would create bloom FALSE
   NEGATIVES, the one failure the exact anti-join cannot repair.
3. An all-waiting round writes an EMPTY seen delta; in bucket_pruned
   mode the partitioned write used to emit zero files and abort the
   round on read-back.
"""

import numpy as np
import pandas as pd

from crypto_crawler_rs_spark.functions.bloom import ShardedBloom


def test_counting_add_saturates_sticky():
    """300 adds of one key in one batch must pin its counters at 255
    (not wrap 256->44); deletes never decrement a saturated counter."""
    bloom = ShardedBloom(n_shards=2, bits_per_shard=1 << 10, n_hashes=3, counting=True)
    hh = np.zeros(300, dtype=np.int64)
    uh = np.full(300, 12345, dtype=np.int64)
    bloom.add(hh, uh)
    assert bloom._arr.max() == 255
    assert bloom.probe(hh[:1], uh[:1])[0]
    # saturated counters are sticky: mass-delete must NOT clear them
    bloom.delete(hh, uh)
    assert bloom.probe(hh[:1], uh[:1])[0]
    assert bloom._arr.max() == 255


def test_counting_delete_duplicate_keys_no_wrap():
    """Deleting the same key twice in ONE call (count 1) must clamp
    at 0, not wrap 0->255 (the old scattered-subtract snapshot bug)."""
    bloom = ShardedBloom(n_shards=2, bits_per_shard=1 << 10, n_hashes=3, counting=True)
    hh = np.array([7], dtype=np.int64)
    uh = np.array([999], dtype=np.int64)
    bloom.add(hh, uh)
    bloom.delete(np.array([7, 7], dtype=np.int64), np.array([999, 999], dtype=np.int64))
    assert not bloom.probe(hh, uh)[0]
    assert bloom._arr.max() == 0


def test_counting_incremental_adds_saturate_across_calls():
    bloom = ShardedBloom(n_shards=1, bits_per_shard=64, n_hashes=1, counting=True)
    hh = np.zeros(1, dtype=np.int64)
    uh = np.array([42], dtype=np.int64)
    for _ in range(260):
        bloom.add(hh, uh)
    assert bloom._arr.max() == 255
    assert bloom.probe(hh, uh)[0]


def test_distributed_bloom_uses_live_filter_dims(spark, tmp_path, monkeypatch):
    """bloom_expected_urls (for_cardinality sizing) combined with the
    distributed bitmap build: shard bitmaps must be built with the
    live filter's bits/hashes, not ShardedBloom's defaults — the
    advertised 10^10-scale combo.  Crawl must stay oracle-exact."""
    from crypto_crawler_rs_spark.plans import frontier as frontier_mod
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=80, n_hosts=4, n_seeds=8, seed=53)
    sdfs = corpus_to_spark(spark, corpus)
    # force the bitmap-build branch
    monkeypatch.setattr(frontier_mod, "DISTRIBUTED_BLOOM_THRESHOLD", 1)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(
            max_rounds=4,
            n_seen_buckets=4,
            bloom_expected_urls=10_000,   # for_cardinality dims != default dims
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
    # the saved filter must carry the for_cardinality dimensions AND
    # have absorbed the distributed-built deltas (no false negatives)
    bl = ShardedBloom.load(m["bloom"])
    assert bl.bits_per_shard != ShardedBloom().bits_per_shard
    seen_rows = (
        eng.seen(m).select("host_hash", "url_hash").toPandas()
    )
    assert bl.probe(
        seen_rows["host_hash"].to_numpy(), seen_rows["url_hash"].to_numpy()
    ).all()


def _single_host_corpus():
    """Two pages on ONE host with crawl_delay 3 and budget 1: round 0
    fetches p0, rounds 1-2 are ALL-WAITING (empty seen delta), round 3
    fetches p1."""
    pages = pd.DataFrame(
        {
            "url": ["https://solo.example.com/p/0", "https://solo.example.com/p/1"],
            "warc_ts": [pd.Timestamp("2024-01-01")] * 2,
            "html": [
                b"<html><head><title>A</title></head><body><p>aa</p></body></html>",
                b"<html><head><title>B</title></head><body><p>bb</p></body></html>",
            ],
            "text": ["A\naa", "B\nbb"],
            "lang": ["en", "en"],
        }
    )
    seeds = pd.DataFrame(
        {"url": ["https://solo.example.com/p/0", "https://solo.example.com/p/1"],
         "depth": [0, 0]}
    )
    host_policy = pd.DataFrame(
        {
            "host": ["solo.example.com"],
            "host_rank": np.array([10], dtype=np.int64),
            "budget_per_round": np.array([1], dtype=np.int32),
            "robots_disallow": [[]],
            "crawl_delay_rounds": np.array([3], dtype=np.int32),
            "is_hot": [False],
        }
    )
    return {"pages": pages, "seeds": seeds, "host_policy": host_policy}


def test_bucket_pruned_survives_empty_seen_delta(spark, tmp_path):
    """crawl_delay >= 2 makes all-waiting rounds routine; the
    partitioned empty-delta write must not abort the round, and the
    crawl must stay oracle-exact through it."""
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark

    corpus = _single_host_corpus()
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(
            max_rounds=5, n_seen_buckets=4, seen_anti_join="bucket_pruned",
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
    # both pages fetched, in rounds 0 and 3 (delay-gated)
    assert sorted(gs["round"].tolist()) == [0, 3]
    assert {r["url"] for r in eng.seen(m).select("url").collect()} == exp.seen


def test_statestore_empty_partitioned_write_roundtrips(spark, tmp_path):
    from crypto_crawler_rs_spark.plans.state import StateStore

    store = StateStore(spark, str(tmp_path / "st"))
    df = spark.createDataFrame([], "url string, added_round int, bucket int")
    path = store.write(df, 0, "seen_delta", partition_by="bucket")
    back = store.read(path)
    assert back.count() == 0
    assert set(back.columns) == {"url", "added_round", "bucket"}
    # pyarrow read (the bloom-update path) must also work
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    assert t.num_rows == 0


def test_double_forget_same_round_keeps_both(spark, tmp_path):
    """Two forget() calls within one round must write DISTINCT
    tombstone deltas — the second used to overwrite the first's path
    and the first batch silently stayed 'seen'."""
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=80, n_hosts=4, n_seeds=8, seed=67)
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(max_rounds=3, n_seen_buckets=4),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=3)
    seen0 = sorted(r["url"] for r in eng.seen(m).select("url").collect())
    va, vb = seen0[0], seen0[1]
    m = eng.forget(spark.createDataFrame([(va,)], "url string"), m)
    m = eng.forget(spark.createDataFrame([(vb,)], "url string"), m)
    assert len(set(m["tombstones"])) == 2
    seen_now = {r["url"] for r in eng.seen(m).select("url").collect()}
    assert va not in seen_now and vb not in seen_now


def test_resume_rejects_bucket_count_mismatch(spark, tmp_path):
    """The on-disk bucket layout is immutable: resuming a state dir
    with a different n_seen_buckets must fail loudly (a silent
    mismatch would read the wrong bucket=K dirs and re-crawl)."""
    import pytest

    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=60, n_hosts=4, n_seeds=6, seed=71)
    sdfs = corpus_to_spark(spark, corpus)
    state = str(tmp_path / "s")
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], state,
        FrontierConfig(max_rounds=2, n_seen_buckets=4),
    )
    eng.run(seeds=sdfs["seeds"], max_rounds=2)
    eng2 = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], state,
        FrontierConfig(max_rounds=4, n_seen_buckets=8),
    )
    with pytest.raises(ValueError, match="n_seen_buckets=4"):
        eng2.run(max_rounds=4)
    # matching config resumes fine
    eng3 = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], state,
        FrontierConfig(max_rounds=3, n_seen_buckets=4),
    )
    m = eng3.run(max_rounds=3)
    assert m["round"] == 3
