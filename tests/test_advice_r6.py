"""Round-6 advisor findings (ADVICE.md r5) pinned by tests:

1. connected_components only broadcast-hints neighbor_min under a
   DEGREE-AWARE bound (n_changed * max_degree): a hub graph must not
   hint a ~N-row broadcast just because the delta is small.
2. recrawl_stale commits the merged frontier's size, so the next
   round plans from it: a recrawl past the flat-delta limit writes
   its seen delta BUCKETED — a multi-million-row recrawl delta
   written flat is re-read whole by every bucket-pruned task — and a
   manifest without the size is counted once on resume.
3. the seenjoin IPC cache defaults to a per-uid 0700 directory and
   refuses a directory with foreign ownership / group-or-world access
   (another user could plant/evict .arrow files in a shared path).
4. winnow_fingerprints preserves the caller's id type (previously
   hardcoded `long`, breaking string/int doc ids).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# -- 1: degree-aware neighbor_min broadcast gate ----------------------

def _run_components_recording_broadcasts(spark, monkeypatch, pairs, budget):
    from crypto_crawler_rs_spark.operators import components as comp

    calls: list[tuple[str, ...]] = []
    real = F.broadcast

    def rec(df):
        calls.append(tuple(df.columns))
        return real(df)

    monkeypatch.setattr(comp.F, "broadcast", rec)
    # finisher off: the degree-aware gate being pinned lives on the
    # ITERATIVE path (the 10^9-scale path when the finisher's bounded
    # collect overflows); the r6 local finisher would otherwise end
    # these small fixtures before the late delta iterations the
    # asserts observe.
    labels = comp.connected_components(
        spark.createDataFrame(pairs, "src long, dst long"),
        delta_broadcast_rows=budget,
        finish_candidate_rows=0,
    ).collect()
    return {r.node: r.component for r in labels}, calls


def test_components_hub_graph_never_broadcasts_neighbor_min(
    spark, monkeypatch
):
    # chain 0..80 (slow convergence => several delta iterations) plus
    # a 300-leaf hub on node 0 (max_degree ~ 301).  Budget 100: the
    # delta itself gets small enough to broadcast, but
    # n_changed * max_deg can never fit — neighbor_min (columns
    # (node, nbr_min)) must stay unhinted.
    pairs = [(i, i + 1) for i in range(80)]
    pairs += [(0, 1000 + j) for j in range(300)]
    got, calls = _run_components_recording_broadcasts(
        spark, monkeypatch, pairs, budget=100
    )
    assert set(got.values()) == {0} and len(got) == 81 + 300
    assert ("node", "nbr_min") not in calls
    # the delta fast path itself still engaged on late iterations
    assert ("b", "nbr") in calls


def test_components_bounded_degree_still_broadcasts_neighbor_min(
    spark, monkeypatch
):
    # plain chain: max_degree == 2, so the n_changed * max_deg gate
    # passes once the delta shrinks — the no-shuffle fast path that
    # makes the bench's LSH-shaped graphs cheap must still engage.
    pairs = [(i, i + 1) for i in range(80)]
    got, calls = _run_components_recording_broadcasts(
        spark, monkeypatch, pairs, budget=1000
    )
    assert set(got.values()) == {0} and len(got) == 81
    assert ("node", "nbr_min") in calls


# -- 2: the frontier size after recrawl_stale ---------------------------

def _recrawl_env(spark, tmp_path):
    from crypto_crawler_rs_spark.plans.frontier import (
        FrontierConfig,
        FrontierScheduler,
    )
    from crypto_crawler_rs_spark.sources.fixtures import (
        corpus_to_spark,
        gen_corpus,
    )

    corpus = gen_corpus(
        n_pages=120, n_hosts=6, n_seeds=8, links_per_page=3, seed=11
    )
    sdfs = corpus_to_spark(spark, corpus)
    eng = FrontierScheduler(
        spark,
        sdfs["pages"],
        sdfs["host_policy"],
        str(tmp_path / "s"),
        FrontierConfig(
            max_rounds=16, n_seen_buckets=4, seen_anti_join="bucket_pruned"
        ),
    )
    m = eng.run(seeds=sdfs["seeds"], max_rounds=2)
    return eng, corpus, m


def _is_bucketed(root):
    return any(
        e.name.startswith("bucket=") for e in os.scandir(root) if e.is_dir()
    )


def test_recrawl_commits_merged_frontier_size(spark, tmp_path):
    eng, _, m = _recrawl_env(spark, tmp_path)
    # normal rounds at this size write FLAT deltas (LSM small-root path)
    assert not _is_bucketed(m["seen"][-1])
    m2 = eng.recrawl_stale(ttl_rounds=m["round"], manifest=m)
    n = eng.store.read(m2["frontier"]).count()
    assert n > m["frontier_size"]  # stale urls were re-enqueued
    assert m2["frontier_size"] == n
    assert eng.store.read_manifest()["frontier_size"] == n
    # the next round plans from that size: a small recrawl writes its
    # seen delta flat, like any round of that size
    m3 = eng.run_round(m2)
    assert not _is_bucketed(m3["seen"][-1])


def test_post_recrawl_seen_delta_is_bucketed(spark, tmp_path, monkeypatch):
    """A recrawl that re-enqueues more urls than the flat-delta limit
    writes its seen delta bucketed: a multi-million-row delta written
    flat is re-read whole by every bucket-pruned task (ADVICE r5)."""
    from crypto_crawler_rs_spark.plans import frontier as frontier_mod

    eng, _, m = _recrawl_env(spark, tmp_path)
    m2 = eng.recrawl_stale(ttl_rounds=m["round"], manifest=m)
    monkeypatch.setattr(
        frontier_mod, "SEEN_DELTA_FLAT_MAX_ROWS", m2["frontier_size"] - 1
    )
    m3 = eng.run_round(m2)
    assert _is_bucketed(m3["seen"][-1])


def test_resume_without_frontier_size_matches_oracle(spark, tmp_path):
    """A manifest committed before every manifest carried
    ``frontier_size`` is counted once on resume, and the crawl stays
    oracle-identical."""
    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler

    eng, corpus, m = _recrawl_env(spark, tmp_path)
    del m["frontier_size"]
    eng.store.commit(m)
    m2 = eng.run(max_rounds=5)
    assert m2["round"] > m["round"]
    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=5
    )
    got = eng.fetched(m2).toPandas()
    gs = got[got.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    es = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].sort_values(
        ["round", "rank_in_round"]
    )
    assert gs["url"].tolist() == es["url"].tolist()
    assert {r.url for r in eng.seen(m2).select("url").collect()} == exp.seen


# -- 3: per-user, permission-checked IPC cache dir --------------------

def test_ipc_cache_dir_per_user_and_permission_checked(
    tmp_path, monkeypatch
):
    from crypto_crawler_rs_spark.operators import seenjoin

    root = tmp_path / "delta_root"
    (root / "bucket=0").mkdir(parents=True)
    (root / "bucket=0" / "part-0.parquet").write_bytes(b"x")

    monkeypatch.setattr(seenjoin, "_IPC_DIR", "")
    p = seenjoin._ipc_cache_path(str(root), 0, ("url",))
    assert p is not None
    d = os.path.dirname(p)
    assert d.endswith(f"seenjoin_ipc_{os.getuid()}")
    st = os.stat(d)
    assert st.st_uid == os.getuid()
    assert (st.st_mode & 0o077) == 0  # no group/world access
    try:
        # a group/world-accessible default dir (e.g. pre-created by
        # another user before the uid suffix existed) disables the
        # cache instead of trusting its contents
        os.chmod(d, 0o777)
        assert seenjoin._ipc_cache_path(str(root), 0, ("url",)) is None
    finally:
        os.chmod(d, 0o700)
    assert seenjoin._ipc_cache_path(str(root), 0, ("url",)) == p

    # explicit env-configured dir is honored as an opt-in
    opt = tmp_path / "optin"
    monkeypatch.setattr(seenjoin, "_IPC_DIR", str(opt))
    p2 = seenjoin._ipc_cache_path(str(root), 0, ("url",))
    assert p2 is not None and os.path.dirname(p2) == str(opt)


# -- 4: winnow fingerprints preserve the id type ----------------------

@pytest.mark.parametrize(
    "ids,typ",
    [(["d1", "d2"], "string"), ([7, 9], "int")],
)
def test_winnow_arrow_preserves_id_type(spark, ids, typ):
    import hashlib

    from crypto_crawler_rs_spark.operators.winnow import winnow_fingerprints

    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(i, text) for i in ids], f"doc_id {typ}, text string")
    out = winnow_fingerprints(df)
    assert out.schema["doc_id"].dataType == df.schema["doc_id"].dataType
    toks = text.split()
    grams = [hashlib.md5(" ".join(toks[i : i + 4]).encode()).hexdigest() for i in range(6)]
    want = sorted({min(grams[j : j + 4]) for j in range(3)})
    got = {r.doc_id: sorted(r.fingerprints) for r in out.collect()}
    assert got == {i: want for i in ids}
