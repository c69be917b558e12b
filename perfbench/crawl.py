"""The ``crawl_long_seen`` workload.

It drives ``FrontierScheduler.run_round`` one call at a time from this
process, checks every logged row and the final seen set against
``OracleCrawler`` and reports end-to-end figures; a traced run adds
the per-layer figures (event log, ``profile_rounds`` phases,
``StateStore`` timers and the replay module).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import pandas as pd

import replay
from measure import CallLog, StoreTimer, attribute, fold_calls, read_eventlog

N_PAGES = 8_000
N_HOSTS = 64
# one budget for every host, the hot one included: the corpus's own
# budgets (2-10, hot host 8) schedule too few urls per round to load
# four cores
BUDGET = 30
# ~2M seen rows on disjoint hosts put the round on the bucket-pruned
# membership path
SEEDED_SEEN = 2_000_000
# compaction every 2 seen roots (one delta per round on top of the
# previous snapshot) fires in every round: the round-0 warm-up has
# then run every code path the timed round runs, compaction included
COMPACT_SEEN_EVERY = 2
# one timed round: a crawl run's fixed costs (session start, set-up,
# the seeded seen rows, the warm-up round) leave room for one more
# round inside the run-time budget
TIMED_ROUNDS = 1
SETUP_REPS = 3
SEEDED_HOST_PREFIX = "https://seed"


def _write_seeded_seen(spark, path: str, n_rows: int, n_buckets: int) -> None:
    """``n_rows`` seen rows on hosts disjoint from the corpus
    (seedN.example.net), bucket-partitioned like the engine's seen
    deltas, so the timed rounds anti-join against a long crawl's seen
    set without changing which corpus urls get scheduled."""
    from pyspark.sql import functions as F

    seeded = (
        spark.range(n_rows)
        .select(
            F.concat(
                F.lit(SEEDED_HOST_PREFIX),
                F.pmod(F.xxhash64("id"), F.lit(5000)),
                F.lit(".example.net/p/"),
                F.col("id"),
            ).alias("url")
        )
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host_hash", F.hash(F.regexp_extract("url", r"^https://([^/]+)", 1)))
        .withColumn("added_round", F.lit(0))
        .withColumn("bucket", F.pmod(F.col("host_hash"), F.lit(n_buckets)))
        .repartition(n_buckets, "bucket")
    )
    seeded.write.mode("overwrite").partitionBy("bucket").parquet(path)


def _oracle_rows(result) -> pd.DataFrame:
    df = result.fetched.copy()
    df["text_sha256"] = [
        hashlib.sha256(t.encode()).hexdigest() if isinstance(t, str) else None
        for t in df["text"]
    ]
    return df[["round", "rank_in_round", "url", "status", "text_sha256"]]


def _key(df: pd.DataFrame) -> pd.Series:
    rank = df["rank_in_round"].astype("Int64").astype(str)
    return (
        df["round"].astype(int).astype(str) + "|" + rank + "|" + df["url"]
        + "|" + df["status"] + "|" + df["text_sha256"].fillna("")
    )


def check_against_oracle(eng, manifest, corpus) -> set[int]:
    """Rounds whose log differs from the oracle's; the final round
    counts as failed too if the seen set differs or lost seeded rows."""
    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.plans.oracle import OracleCrawler

    n_rounds = manifest["round"]
    oracle = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=n_rounds
    )
    want = _oracle_rows(oracle)
    got = (
        eng.fetched(manifest)
        .select("round", "rank_in_round", "url", "status", "text_sha256")
        .toPandas()
    )
    bad: set[int] = set()
    for rnd in range(n_rounds):
        g = sorted(_key(got[got["round"] == rnd]))
        w = sorted(_key(want[want["round"] == rnd]))
        if g != w:
            bad.add(rnd)
    seen = eng.seen(manifest)
    is_seeded = F.col("url").startswith(SEEDED_HOST_PREFIX)
    engine_seen = set(seen.filter(~is_seeded).select("url").toPandas()["url"])
    if engine_seen != oracle.seen or seen.filter(is_seeded).count() != SEEDED_SEEN:
        bad.add(n_rounds - 1)
    return bad


def run(spark, seed: int, seconds: float, trace: bool, work: str,
        session_s: float) -> dict:
    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    corpus = gen_corpus(
        n_pages=N_PAGES, n_hosts=N_HOSTS, n_seeds=N_PAGES // 5, links_per_page=6, seed=seed,
    )
    corpus["host_policy"]["budget_per_round"] = BUDGET
    cfg = FrontierConfig(compact_seen_every=COMPACT_SEEN_EVERY, profile_rounds=trace)

    seeded_path = os.path.join(work, "seen_seeded")
    # set-up (corpus ingest, pages cache, round-0 state), repeated; the
    # last repetition's engine is the one that crawls
    setup_reps = []
    for rep in range(SETUP_REPS):
        state_dir = os.path.join(work, f"state{rep}")
        t0 = time.perf_counter()
        sdfs = corpus_to_spark(spark, corpus)
        eng = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state_dir, cfg)
        eng.pages.count()  # materialise the pages cache
        manifest = eng.init_state(sdfs["seeds"])
        manifest = dict(manifest, seen=manifest["seen"] + [seeded_path],
                        seen_rows=manifest["seen_rows"] + SEEDED_SEEN)
        eng.store.commit(manifest)
        setup_reps.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            eng.pages.unpersist()
            shutil.rmtree(state_dir, ignore_errors=True)

    # benchmark input, not set-up: written after the set-up
    # repetitions, on a warm session; the manifests above already name
    # the path
    t0 = time.perf_counter()
    _write_seeded_seen(spark, seeded_path, SEEDED_SEEN, cfg.n_seen_buckets)
    seed_s = time.perf_counter() - t0

    # round 0 is the warm-up: it alone takes the global-rank path
    t0 = time.perf_counter()
    manifest = eng.run_round(manifest)
    warmup_s = time.perf_counter() - t0
    first_timed = manifest["round"]

    timer = StoreTimer(eng) if trace else None
    log = CallLog()
    manifests = [manifest]
    rounds = []
    for _ in range(TIMED_ROUNDS):
        manifest, call = log.timed("round", str(manifest["round"]), eng.run_round, manifest)
        manifests.append(manifest)
        rounds.append(call)
    walls = [c.wall_s for c in rounds]
    cpus = [c.cpu_s for c in rounds]
    timed_wall = sum(walls)
    if timed_wall > seconds:
        raise RuntimeError(f"the timed rounds took {timed_wall:.1f} s, over --seconds {seconds}")

    m = (
        eng.metrics(manifest)
        .filter(F.col("round") >= first_timed)
        .agg(*[F.sum(c).alias(c) for c in ("scheduled", "discovered_links", "bloom_pruned")])
        .collect()[0]
    )
    scheduled, links = int(m["scheduled"] or 0), int(m["discovered_links"] or 0)

    t0 = time.perf_counter()
    bad = check_against_oracle(eng, manifest, corpus)
    check_s = time.perf_counter() - t0
    n_rounds = manifest["round"]
    out = {
        "attempted": n_rounds,
        "failed": len(bad),
        "metrics": {
            "throughput_per_cpu_s": (scheduled + links) / sum(cpus),
            "setup_s": session_s + statistics.median(setup_reps) + warmup_s,
        },
        "report": {
            "crawl_urls_per_s": (scheduled + links) / timed_wall,
            "round_p50_s": statistics.median(walls),
            "round_samples": len(walls),
            "round_wall_s": walls,
            "round_cpu_s": cpus,
            "steal_s": sum(c.steal_s for c in rounds),
            "rounds_total": n_rounds,
            "url_decisions": scheduled + links,
            "setup_reps_s": setup_reps,
            "seed_seen_s": seed_s,
            "warmup_s": warmup_s,
            "check_s": check_s,
            "seen_rows": manifest.get("seen_rows"),
        },
    }
    if trace:
        layers = {}
        st = timer.snapshot()
        nr = len(walls)
        layers.update({
            "state.write_s": st["write_s"] / nr,
            "state.write_calls": st["write_calls"] / nr,
            "state.files_written": st["files_written"] / nr,
            "state.bytes_written_mb": st["bytes_written"] / 2**20 / nr,
            "state.read_s": st["read_s"] / nr,
            "state.commit_s": st["commit_s"] / nr,
            "state.compact_s": st["compact_s"] / max(1, st["compact_calls"]),
            "state.compact_calls": st["compact_calls"],
        })
        layers.update(_phases(eng, manifest, first_timed))
        layers["bloom.pruned_ratio"] = int(m["bloom_pruned"] or 0) / max(1, links)
        layers["session.cached_after"] = len(spark.sparkContext._jsc.getPersistentRDDs())
        layers["traced.throughput_per_cpu_s"] = out["metrics"]["throughput_per_cpu_s"]
        layers.update(replay.replay_rounds(spark, eng, manifests, work))
        out["calls"] = log.calls
        out["layers"] = layers
    eng.pages.unpersist()
    return out


PHASES = (
    "state_reads", "bloom_load", "plan_build_sched", "rank_prepass",
    "plan_build", "fetch_and_state_writes", "bloom_update",
    "discovery_and_frontier_writes", "finalize",
)


def _phases(eng, manifest, first_timed: int) -> dict:
    """Mean per-round seconds of each ``profile_rounds`` phase over the
    timed rounds, plus the driver-side manifest commit."""
    hist = [t for t in manifest.get("timings_history", []) if t["round"] >= first_timed]
    n = max(1, len(hist))
    out = {f"phase.{p}_s": sum(t.get(p, 0.0) for t in hist) / n for p in PHASES}
    commits = [c["manifest_commit"] for c in getattr(eng, "profile_commits", [])
               if c["round"] >= first_timed]
    out["phase.manifest_commit_s"] = sum(commits) / n
    return out


def fold_eventlog(result: dict, log_dir: str, cores: int) -> dict:
    """frontier.* per-round means from the event log (read after the
    session stops, when the log is complete)."""
    calls = result["calls"]
    jobs, stages = read_eventlog(log_dir)
    per_call = attribute(calls, jobs, stages)
    f = fold_calls(calls, per_call, list(range(len(calls))), cores)
    n = len(calls)
    out = {f"frontier.{k}": f[k] / n for k in (
        "driver_only_s", "executor_run_s", "executor_cpu_s", "python_worker_s",
        "shuffle_write_mb", "spill_mb")}
    out.update({f"frontier.{k}_per_round": f[k] / n for k in ("jobs", "stages", "tasks")})
    out["frontier.core_busy_ratio"] = f["core_busy_ratio"]
    return out
