"""Exactly-once snapshot semantics: a crash AFTER a round's data
directories are written but BEFORE the manifest commit must replay
the round idempotently — orphan directories are invisible because
readers only follow manifest-listed paths (plans/state.py)."""

import json
import shutil


def test_crash_before_commit_replays_idempotently(spark, tmp_path):
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig

    _crash_before_commit_replays(spark, tmp_path, FrontierConfig(max_rounds=4))


def test_crash_after_tiered_compaction_replays_idempotently(spark, tmp_path):
    """The crashed round ends in a size-tiered compaction that keeps an
    older root: the replay writes its snapshot again over the orphan
    and the kept root is shared by the old and the new manifest."""
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig

    m2, m3 = _crash_before_commit_replays(
        spark, tmp_path,
        FrontierConfig(
            max_rounds=4, compact_seen_every=2, seen_anti_join="bucket_pruned"
        ),
    )
    assert "seen_compact" in m3["seen"][-1]
    assert len(m3["seen"]) >= 2 and m3["seen"][0] in m2["seen"]


def _crash_before_commit_replays(spark, tmp_path, cfg):
    """Crash round 3 just before its commit, resume, and match the
    uninterrupted oracle; returns the manifests of rounds 2 and 3."""
    from crypto_crawler_rs_spark.plans.frontier import FrontierScheduler
    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(n_pages=120, n_hosts=6, n_seeds=10, seed=17)
    sdfs = corpus_to_spark(spark, corpus)
    state = str(tmp_path / "s")
    eng = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state, cfg)

    # run 2 rounds; snapshot the manifest as of round 2
    m2 = eng.run(seeds=sdfs["seeds"], max_rounds=2)
    manifest_bytes = open(f"{state}/manifest.json").read()

    # run round 3 fully (data dirs written + manifest committed), then
    # simulate a crash-just-before-commit by restoring the OLD manifest:
    # round-3 directories become unreferenced orphans
    m3 = eng.run(max_rounds=3)
    with open(f"{state}/manifest.json", "w") as f:
        f.write(manifest_bytes)

    # resume: round 3 replays over the orphans, crawl completes
    eng2 = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state, cfg)
    m_final = eng2.run(max_rounds=4)
    assert m_final["round"] == 4

    # ground truth: uninterrupted oracle
    oracle = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=4
    )
    got = eng2.fetched(m_final).toPandas()
    gs = (
        got[got.status.isin(["ok", "missing"])]
        .sort_values(["round", "rank_in_round"])
        .reset_index(drop=True)
    )
    es = (
        oracle.fetched[oracle.fetched.status.isin(["ok", "missing"])]
        .sort_values(["round", "rank_in_round"])
        .reset_index(drop=True)
    )
    assert gs["url"].tolist() == es["url"].tolist()  # no dupes, no gaps
    seen = {r["url"] for r in eng2.seen(m_final).select("url").collect()}
    assert seen == oracle.seen
    return m2, m3


def test_manifest_commit_is_atomic(spark, tmp_path):
    """The tmp-then-rename commit never leaves a partial manifest."""
    from crypto_crawler_rs_spark.plans.state import StateStore

    store = StateStore(spark, str(tmp_path / "st"))
    store.commit({"round": 1, "x": "y"})
    m = store.read_manifest()
    assert m == {"round": 1, "x": "y"}
    # a leftover .tmp from a crashed commit is ignored
    with open(store._manifest_path + ".tmp", "w") as f:
        f.write("{corrupt")
    assert store.read_manifest() == {"round": 1, "x": "y"}
