"""seen_anti_join='auto' (VERDICT r5 next-1): the default config now
selects the seen-membership strategy per round from the manifest's
cumulative seen row count — 'shuffle' below the crossover,
'bucket_pruned' at/above it — so the 10^10 no-shuffle path engages
without a manual knob, as the Bloom probe picks its path by size.

Pinned here:
- a crawl whose seen set grows PAST the crossover mid-run stays
  oracle-exact (ordering, seen set) across the switch;
- the mode actually flips (both strategies exercised in one crawl);
- resuming a pre-auto state dir (no seen_rows key, flat shuffle-era
  deltas) derives the count from parquet footers and keeps working
  even when auto resolves to bucket_pruned over legacy roots;
- seen_rows bookkeeping: append-only sum of delta footer counts,
  reset to the true size at compaction;
- unknown mode strings raise when the config is built, before any
  state is committed, instead of silently falling to shuffle.
"""

from __future__ import annotations

import pytest

from crypto_crawler_rs_spark.plans import frontier as frontier_mod
from crypto_crawler_rs_spark.plans.frontier import (
    FrontierConfig,
    FrontierScheduler,
    parquet_row_count,
)
from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
from crypto_crawler_rs_spark.plans.state import StateStore
from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus


def _assert_matches_oracle(eng, m, corpus, max_rounds):
    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=max_rounds
    )
    got = eng.fetched(m).toPandas()
    gs = got[got.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    es = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    assert gs["url"].tolist() == es["url"].tolist()
    assert (
        gs["rank_in_round"].astype(int).tolist()
        == es["rank_in_round"].astype(int).tolist()
    )
    assert {r.url for r in eng.seen(m).select("url").collect()} == exp.seen


def test_auto_is_default_and_validates():
    assert FrontierConfig().seen_anti_join == "auto"


def test_unknown_mode_raises(spark, tmp_path):
    state = str(tmp_path / "s")
    # refused when the config is built, before an engine exists whose
    # init_state could commit a manifest, a frontier and a Bloom file
    with pytest.raises(ValueError, match="seen_anti_join"):
        FrontierConfig(seen_anti_join="bogus")
    assert StateStore(spark, state).read_manifest() is None


def test_unknown_seed_validation_raises():
    with pytest.raises(ValueError, match="seed_validation"):
        FrontierConfig(seed_validation="bogus")


def test_auto_crawl_matches_oracle_through_crossover(spark, tmp_path, monkeypatch):
    # tiny crossover: round 0's delta (seeds) stays below it, later
    # rounds cross it — both strategies run in ONE crawl
    monkeypatch.setattr(frontier_mod, "SEEN_AUTO_CROSSOVER_ROWS", 12)
    corpus = gen_corpus(n_pages=110, n_hosts=6, n_seeds=9, seed=43)
    sdfs = corpus_to_spark(spark, corpus)
    rounds = 5
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(
            max_rounds=rounds,
            n_seen_buckets=8,
            seen_anti_join="auto",
        ),
    )
    m0 = eng.init_state(sdfs["seeds"])
    assert eng._seen_mode(m0) == "shuffle"  # empty seen set
    m = eng.run(max_rounds=rounds)
    assert m["seen_rows"] >= 12
    assert eng._seen_mode(m) == "bucket_pruned"  # switched mid-run
    _assert_matches_oracle(eng, m, corpus, rounds)
    # the count is exactly the footer sum of the live delta roots
    assert m["seen_rows"] == parquet_row_count(m["seen"])


def test_auto_resumes_pre_auto_shuffle_state_dir(spark, tmp_path, monkeypatch):
    """A state dir written by a pre-auto 'shuffle' run has NO
    seen_rows key and FLAT deltas without a bucket column; auto must
    derive the count by a footer walk and — when that resolves to
    bucket_pruned — read the legacy roots via seenjoin's whole-root
    fallback, staying oracle-exact."""
    corpus = gen_corpus(n_pages=110, n_hosts=6, n_seeds=9, seed=44)
    sdfs = corpus_to_spark(spark, corpus)
    state = str(tmp_path / "s")
    eng1 = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], state,
        FrontierConfig(max_rounds=6, n_seen_buckets=8,
                       seen_anti_join="shuffle"),
    )
    m = eng1.run(seeds=sdfs["seeds"], max_rounds=2)
    # simulate the pre-auto manifest: no seen_rows key
    m.pop("seen_rows", None)
    eng1.store.commit(m)
    monkeypatch.setattr(frontier_mod, "SEEN_AUTO_CROSSOVER_ROWS", 1)  # force bucket path
    eng2 = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], state,
        FrontierConfig(max_rounds=6, n_seen_buckets=8,
                       seen_anti_join="auto"),
    )
    assert eng2._seen_mode(eng2.store.read_manifest()) == "bucket_pruned"
    m2 = eng2.run(max_rounds=6)
    _assert_matches_oracle(eng2, m2, corpus, 6)
    assert m2["seen_rows"] == parquet_row_count(m2["seen"])


def test_seen_rows_reset_by_compaction(spark, tmp_path):
    corpus = gen_corpus(n_pages=110, n_hosts=6, n_seeds=9, seed=45)
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "s"),
        FrontierConfig(max_rounds=6, n_seen_buckets=8,
                       seen_anti_join="auto", compact_seen_every=3),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=6)
    assert len(m["seen"]) < 6  # compaction actually ran
    assert m["seen_rows"] == parquet_row_count(m["seen"])
    _assert_matches_oracle(eng, m, corpus, 6)
