"""Regression tests for the round-1 ADVICE findings.

1. extract_text: a lone empty ``<p></p>`` still contributes a
   separator (byte-identity contract on real-world HTML).
2. forget(): tombstones are round-scoped — a re-crawled url re-enters
   the seen set instead of being perpetually re-fetched.
3. budget_gate: admissions follow the global (priority, url) order
   per group even when Arrow delivers the group as multiple chunks.
4. token split parity: Spark ``\\s+`` tokenization matches the DuckDB
   oracle SQL on multi-space / tab / newline text.
5. sharded bloom probe: bit-identical to the broadcast probe.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from crypto_crawler_rs_spark.sources.fixtures import _render_html


# -- 1. extract_text empty-paragraph parity ---------------------------------

def test_extract_text_empty_paragraph_parity(spark):
    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.functions.text import (
        extract_text_py,
        extract_text_udf,
    )

    cases = [
        b"<html><title>T</title><p></p></html>",
        b"<html><title>T</title><p></p><p>x</p></html>",
        b"<html><p></p></html>",
        b"<html><p></p><p></p></html>",
        b"<html><title>T</title></html>",
        b"<html></html>",
        None,
    ]
    df = spark.createDataFrame([(i, h) for i, h in enumerate(cases)], "i int, html binary")
    got = {
        r["i"]: r["t"]
        for r in df.select("i", extract_text_udf(F.col("html")).alias("t")).collect()
    }
    for i, h in enumerate(cases):
        assert got[i] == extract_text_py(h), f"case {i}: {h!r}"
    # the specific ADVICE case: title + lone empty paragraph
    assert extract_text_py(cases[0]) == "T\n"
    assert got[0] == "T\n"


# -- 2. forget() round scoping ----------------------------------------------

def test_forget_then_recrawl_stays_seen(spark, tmp_path):
    """A forgotten url is re-fetched exactly ONCE; its fresh seen entry
    survives the tombstone (round-scoped), so later rounds drop it
    again in discovery."""
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler

    host = "a.example.com"
    n = 10
    urls = [f"https://{host}/p/{i}" for i in range(n)]
    rows = []
    for i in range(n):
        links = [urls[i + 1]] if i + 1 < n else []
        if i >= 1:
            links.append(urls[0])  # every later page links back to p0
        rows.append(
            (
                urls[i],
                dt.datetime(2020, 1, 1),
                _render_html(f"t{i}", [f"body {i}"], links),
                f"t{i}\nbody {i}",
                "en",
            )
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
        FrontierConfig(max_rounds=8, emit_deferred=False, n_seen_buckets=4),
    )
    m = eng.run(seeds=seeds, max_rounds=3)  # fetches p0, p1, p2
    fetched_before = eng.fetched(m).toPandas()
    assert (fetched_before.url == urls[0]).sum() == 1

    m = eng.forget(spark.createDataFrame([(urls[0],)], "url string"), m)
    assert urls[0] not in {r["url"] for r in eng.seen(m).select("url").collect()}

    m = eng.run(max_rounds=8)  # resume from the tombstoned snapshot
    f = eng.fetched(m).toPandas()
    p0 = f[(f.url == urls[0]) & (f.status == "ok")]
    # re-fetched exactly once (round 4), NOT once per round
    assert len(p0) == 2, f"p0 fetch rounds: {sorted(p0['round'])}"
    assert sorted(p0["round"]) == [0, 4]
    # and the re-crawl's seen entry survived the tombstone
    assert urls[0] in {r["url"] for r in eng.seen(m).select("url").collect()}


# -- 3. budget_gate multi-chunk group ordering --------------------------------

def test_budget_gate_orders_across_arrow_chunks(spark, tmp_path):
    from crypto_crawler_rs_spark.streaming.stateful import budget_gate

    landing = tmp_path / "req"
    landing.mkdir()
    # 12 rows, ONE host, priorities REVERSED vs file order so a
    # per-chunk sort admits the wrong rows
    pd.DataFrame(
        {
            "host": ["h1"] * 12,
            "url": [f"https://h1/p/{i:02d}" for i in range(12)],
            "priority": list(range(11, -1, -1)),
        }
    ).to_parquet(landing / "b0.parquet", index=False)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (
            spark.readStream.schema("host string, url string, priority long")
            .parquet(str(landing))
        )
        q = (
            budget_gate(stream, budget=3)
            .writeStream.format("memory")
            .queryName("gate_chunks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    out = spark.sql("select * from gate_chunks").toPandas()
    assert len(out) == 12
    admitted = set(out[out.admitted].url)
    # global (priority, url) order -> the three priority-0/1/2 rows,
    # which sit at the END of the file
    assert admitted == {"https://h1/p/11", "https://h1/p/10", "https://h1/p/09"}


# -- 4. token-split parity with the DuckDB oracle ----------------------------

def test_token_split_parity_messy_whitespace(spark, tmp_path):
    import duckdb

    import __spark_entry__ as entrymod

    docs = pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "source": ["t"] * 6,
            "lang": ["en"] * 6,
            "text": [
                "the  quick   brown fox",          # runs of spaces
                "a\tb\tc and the end",              # tabs
                "line one\nline two and of to in",  # newlines
                "   padded   both   ends   ",       # pad + runs
                "single spaced the and of",         # control
                "x",                                  # single token
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in ("token_count", "quality_score", "lang_id"):
        got = (
            qs[name](spark, str(tmp_path))
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        exp = (
            con.execute(oracles[name])
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        exp = exp[got.columns]
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, atol=1e-9)


# -- 5. sharded probe == broadcast probe --------------------------------------

def test_sharded_probe_bit_identical(spark, tmp_path):
    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.functions.bloom import (
        ShardedBloom,
        bloom_probe_udf,
        sharded_probe_col,
    )

    rng = np.random.default_rng(7)
    n_shards = 8
    bloom = ShardedBloom(n_shards=n_shards, bits_per_shard=1 << 12, n_hashes=5)
    hh_in = rng.integers(-(2**31), 2**31, size=400, dtype=np.int64)
    uh_in = rng.integers(-(2**62), 2**62, size=400, dtype=np.int64)
    bloom.add(hh_in, uh_in)
    path = str(tmp_path / "bloom")
    bloom.save(path)

    # probe a mix of inserted and never-inserted keys
    hh = np.concatenate([hh_in[:200], rng.integers(-(2**31), 2**31, 300, dtype=np.int64)])
    uh = np.concatenate([uh_in[:200], rng.integers(-(2**62), 2**62, 300, dtype=np.int64)])
    df = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(hh)), "host_hash": hh, "url_hash": uh})
    ).repartition(n_shards, F.pmod(F.col("host_hash"), F.lit(n_shards)))

    bcast = bloom_probe_udf(spark, bloom)
    shard = sharded_probe_col(path, n_shards)
    out = df.select(
        "i",
        bcast(F.col("host_hash"), F.col("url_hash")).alias("a"),
        shard(F.col("host_hash"), F.col("url_hash")).alias("b"),
    ).toPandas().sort_values("i")
    assert (out.a == out.b).all()
    # and both equal the in-memory filter
    expect = bloom.probe(hh, uh)
    assert (out.b.to_numpy() == expect).all()
    # everything inserted must probe True (no false negatives)
    assert out.a.to_numpy()[:200].all()


def test_engine_sharded_probe_matches_oracle(spark, tmp_path, monkeypatch):
    """Full e2e with the sharded probe (forced by a zero broadcast
    limit): identical crawl ordering + seen set as the sequential
    oracle."""
    from crypto_crawler_rs_spark.plans import frontier as frontier_mod
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=100, n_hosts=6, n_seeds=8, seed=23)
    sdfs = corpus_to_spark(spark, corpus)
    monkeypatch.setattr(frontier_mod, "BLOOM_BROADCAST_MAX_BYTES", 0)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(max_rounds=4, n_seen_buckets=8),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=4)
    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=4
    )
    got = eng.fetched(m).toPandas()
    got_sched = got[got.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    exp_sched = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    assert got_sched["url"].tolist() == exp_sched["url"].tolist()
    got_seen = {r["url"] for r in eng.seen(m).select("url").collect()}
    assert got_seen == exp.seen
