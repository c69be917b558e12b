"""Per-layer replay for the traced crawl run.

After the timed rounds, each replayed round's inputs are read back
from the committed state (fetched log, frontier, host state, seen
roots, Bloom snapshot) and the public functions of one layer at a time
are timed on them: ``functions.text``, ``functions.urls``,
``functions.bloom``, ``operators.pop`` and ``operators.seenjoin``.
Inputs are materialised before each timer starts, so a timer holds
only the layer's own work.  Never runs in the untraced run.
"""

from __future__ import annotations

import os
import time


def _noop(df) -> None:
    """Action that computes every output column and keeps nothing."""
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _eligible(spark, eng, before: dict, rnd: int):
    """The round's pop input: the engine's own candidate decoration
    (policy join and url path) of the frontier, minus robots-denied
    urls and hosts still backing off, as ``run_round`` filters them."""
    from pyspark.sql import functions as F

    cand = eng._with_path(eng._with_policy(spark.read.parquet(before["frontier"])))
    allowed = cand.filter(~F.exists("robots_disallow", lambda p: F.col("path").startswith(p)))
    return (
        allowed.join(spark.read.parquet(before["host_state"]), "host", "left")
        .filter(F.coalesce("next_eligible", F.lit(0)) <= F.lit(rnd))
        .select("url", "host", "depth", "priority", "budget_per_round", "is_hot")
    )


def replay_round(spark, eng, before: dict, after: dict, work: str) -> dict:
    import pyarrow.parquet as pq
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.functions.bloom import ShardedBloom
    from crypto_crawler_rs_spark.functions.text import extract_text_udf, outlinks_udf
    from crypto_crawler_rs_spark.functions.urls import canonicalize_udf, host_col
    from crypto_crawler_rs_spark.operators.pop import pop_per_host
    from crypto_crawler_rs_spark.operators.seenjoin import filter_unseen_bucket_pruned
    from crypto_crawler_rs_spark.plans.frontier import parquet_row_count

    rnd = before["round"]
    out: dict[str, float] = {}
    held = []

    def hold(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        return df, df.count()

    # functions.text: extract + sha256 over the scheduled pages, then
    # outlink extraction over the fetched ones
    sched = (
        spark.read.parquet(after["fetched"][-1])
        .filter(F.col("round") == rnd)
        .filter(F.col("rank_in_round").isNotNull())
        .select("url", "depth")
        .join(eng.pages.select("url", "html"), "url", "left")
    )
    sched, out["text.rows"] = hold(sched)
    _, out["text.extract_s"] = _timed(lambda: _noop(
        sched.select(F.sha2(extract_text_udf(F.col("html")), 256).alias("h"))
    ))
    ok = sched.filter(F.col("html").isNotNull())
    raw = ok.select(
        (F.col("depth") + 1).cast("int").alias("depth"),
        F.explode(outlinks_udf(F.col("html"))).alias("raw_url"),
    )
    _, out["text.outlinks_s"] = _timed(lambda: _noop(raw))

    # functions.urls: canonicalisation of the raw outlinks
    raw, out["urls.rows"] = hold(raw)
    _, out["urls.canonicalize_s"] = _timed(lambda: _noop(
        raw.select(canonicalize_udf(F.col("raw_url")).alias("url"))
    ))
    links = (
        raw.select("depth", canonicalize_udf(F.col("raw_url")).alias("url"))
        .filter(F.col("url").isNotNull())
        .select("depth", "url", host_col(F.col("url")).alias("host"))
        .groupBy("url", "host")
        .agg(F.min("depth").alias("depth"))
        .select("*", F.xxhash64("url").alias("url_hash"), F.hash("host").alias("host_hash"))
        .toPandas()
    )

    # functions.bloom: the round's load -> add (its seen delta) ->
    # save -> discovery probe
    delta_path = eng.store.round_dir(rnd, "seen_delta")
    delta = pq.read_table(delta_path, columns=["host_hash", "url_hash"])
    hh, uh = delta["host_hash"].to_numpy(), delta["url_hash"].to_numpy()
    bloom, out["bloom.load_s"] = _timed(lambda: ShardedBloom.load(before["bloom"]))
    _, out["bloom.add_s"] = _timed(lambda: bloom.add(hh, uh))
    _, out["bloom.save_s"] = _timed(
        lambda: bloom.save(os.path.join(work, "replay_bloom"))
    )
    maybe, out["bloom.probe_s"] = _timed(
        lambda: bloom.probe(links["host_hash"].to_numpy(), links["url_hash"].to_numpy())
    )

    # operators.seenjoin: exact membership of the maybe-seen links
    seen_paths = before["seen"] + [delta_path]
    maybe_df = spark.createDataFrame(
        links[maybe], schema="url string, host string, depth int, url_hash long, host_hash int"
    )
    maybe_df, n_maybe = hold(maybe_df)
    new, out["seenjoin.s"] = _timed(lambda: filter_unseen_bucket_pruned(
        maybe_df, seen_paths, before.get("tombstones", []),
        eng.cfg.n_seen_buckets, current_round=rnd,
    ).count())
    out["seenjoin.seen_rows"] = parquet_row_count(seen_paths)
    out["seenjoin.confirmed_new_ratio"] = new / max(1, len(links))
    out["bloom.fp_ratio"] = new / max(1, n_maybe)

    # operators.pop: budgeted per-host pop over the eligible candidates
    elig, n_elig = hold(_eligible(spark, eng, before, rnd))
    counts, out["pop.s"] = _timed(lambda: {
        r["scheduled"]: r["count"]
        for r in pop_per_host(elig, n_salts=eng.cfg.n_salts)
        .groupBy("scheduled").count().collect()
    })
    out["pop.scheduled_ratio"] = counts.get(True, 0) / max(1, n_elig)

    for df in held:
        df.unpersist()
    return out


def replay_rounds(spark, eng, manifests: list[dict], work: str) -> dict:
    """Mean per round of each replay figure over the timed rounds
    (``manifests`` holds the state before the first timed round, then
    after each one)."""
    rows = [replay_round(spark, eng, b, a, work) for b, a in zip(manifests, manifests[1:])]
    return {k: sum(r[k] for r in rows) / len(rows) for k in rows[0]}
