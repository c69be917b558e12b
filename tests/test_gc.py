"""Snapshot GC (StateStore.gc) — Iceberg expire-snapshots /
remove-orphan-files analog.

Garbage = (a) seen deltas folded away by compaction, (b) orphan dirs
from rounds that crashed before their manifest commit.  GC must
delete only unreferenced paths, and a crawl resumed AFTER gc must
still match the uninterrupted sequential oracle exactly.
"""

import json
import os

from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
from crypto_crawler_rs_spark.plans.state import FlatStateStore, StateStore
from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus


def _sched(eng, m):
    f = eng.fetched(m).toPandas()
    return (
        f[f.status.isin(["ok", "missing"])]
        .sort_values(["round", "rank_in_round"])["url"]
        .tolist()
    )


def test_gc_after_compaction_then_resume_matches_oracle(spark, tmp_path):
    corpus = gen_corpus(n_pages=150, n_hosts=8, n_seeds=10, seed=53)
    sdfs = corpus_to_spark(spark, corpus)
    state = str(tmp_path / "s")
    cfg = FrontierConfig(
        max_rounds=7, seen_anti_join="bucket_pruned", compact_seen_every=2
    )
    eng = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state, cfg)
    m = eng.run(seeds=sdfs["seeds"], max_rounds=4)
    assert any("seen_compact" in p for p in m["seen"])  # compaction ran
    # the last compaction was size-tiered: it kept an older root,
    # written rounds before the snapshot it added
    older, newest = m["seen"][0], m["seen"][-1]
    assert len(m["seen"]) >= 2 and older < newest and "seen_compact" in newest

    before = set(eng.store.data_dirs())
    deleted = eng.store.gc()
    assert deleted, "compaction must leave garbage for gc to collect"
    for p in eng.store.referenced_paths(m):
        assert os.path.exists(p), f"gc deleted a referenced path: {p}"
    for p in deleted:
        assert p in before and not os.path.exists(p)
    assert older in before and older not in deleted

    # resume after gc: identical to the uninterrupted oracle
    eng2 = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state, cfg)
    m2 = eng2.run(max_rounds=7)
    oracle = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=7
    )
    ef = oracle.fetched
    exp = (
        ef[ef.status.isin(["ok", "missing"])]
        .sort_values(["round", "rank_in_round"])["url"]
        .tolist()
    )
    assert _sched(eng2, m2) == exp
    assert {r["url"] for r in eng2.seen(m2).select("url").collect()} == oracle.seen


def test_gc_removes_crash_orphans(spark, tmp_path):
    corpus = gen_corpus(n_pages=120, n_hosts=6, n_seeds=10, seed=17)
    sdfs = corpus_to_spark(spark, corpus)
    cfg = FrontierConfig(max_rounds=4)
    state = str(tmp_path / "s")
    eng = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state, cfg)
    eng.run(seeds=sdfs["seeds"], max_rounds=2)
    manifest_bytes = open(f"{state}/manifest.json").read()
    eng.run(max_rounds=3)  # writes round-3 dirs + commits
    with open(f"{state}/manifest.json", "w") as f:
        f.write(manifest_bytes)  # crash-before-commit: round 3 orphaned

    deleted = eng.store.gc()
    assert any("000003" in p for p in deleted), deleted

    # replay after orphan removal still completes and matches oracle
    eng2 = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state, cfg)
    m = eng2.run(max_rounds=4)
    oracle = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=4
    )
    ef = oracle.fetched
    exp = (
        ef[ef.status.isin(["ok", "missing"])]
        .sort_values(["round", "rank_in_round"])["url"]
        .tolist()
    )
    assert _sched(eng2, m) == exp


def test_gc_flat_layout(spark, tmp_path):
    corpus = gen_corpus(n_pages=80, n_hosts=4, n_seeds=8, seed=61)
    sdfs = corpus_to_spark(spark, corpus)
    state = str(tmp_path / "s")
    cfg = FrontierConfig(
        max_rounds=4, n_seen_buckets=4, seen_anti_join="bucket_pruned",
        compact_seen_every=2,
    )
    store = FlatStateStore(spark, state)
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], state, cfg, store=store
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=4)
    deleted = store.gc()
    assert deleted and all(os.path.basename(p).startswith("r0") for p in deleted)
    for p in store.referenced_paths(m):
        assert os.path.exists(p)
    m2 = eng.run(max_rounds=5)  # keeps crawling over the gc'd dir
    assert m2["round"] >= m["round"]


def test_gc_iceberg_drops_unreferenced_round_tables(spark, tmp_path):
    from tests.test_state_contract import _mem_iceberg_store

    corpus = gen_corpus(n_pages=80, n_hosts=4, n_seeds=8, seed=61)
    sdfs = corpus_to_spark(spark, corpus)
    store = _mem_iceberg_store(spark, str(tmp_path / "b"))

    # a fake catalog surface for SHOW TABLES / DROP TABLE
    store._list_tables = lambda: sorted(store.tables) + [
        f"{store.prefix}.manifest_log"
    ]
    store._drop_table = lambda ident: store.tables.pop(ident, None)

    cfg = FrontierConfig(
        max_rounds=4, n_seen_buckets=4, seen_anti_join="shuffle",
        compact_seen_every=2,
    )
    eng = FrontierScheduler(
        spark, sdfs["pages"], sdfs["host_policy"], str(tmp_path / "b"), cfg,
        store=store,
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=4)
    n_before = len(store.tables)
    deleted = store.gc()
    assert deleted and len(store.tables) < n_before
    # referenced tables all survive; manifest log untouched
    for p in store.referenced_paths(m):
        if p.startswith("iceberg://"):
            assert p[len("iceberg://"):] in store.tables, p
    assert json.loads(max(store.log)[1])["round"] == m["round"]
    m2 = eng.run(max_rounds=5)
    assert m2["round"] >= m["round"]
