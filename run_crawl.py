"""spark-submit entry point for the frontier scheduler.

Cluster usage (north_star contract):

    zip -r crawl.zip crypto_crawler_rs_spark
    spark-submit --py-files crawl.zip run_crawl.py \\
        --pages  s3://bucket/pages/        \\
        --seeds  s3://bucket/seeds/        \\
        --policy s3://bucket/host_policy/  \\
        --state  s3://bucket/crawl_state/  \\
        --max-rounds 64

Python workers: this script builds its session with
SparkSession.builder, so it does not get the engine's worker daemon
that session.get_spark selects for local masters.  Up to CPython 3.12
that daemon saves each Python task a re-read of every zip on the
workers' sys.path (pyspark.zip, py4j, --py-files archives); pass

        --conf spark.python.daemon.module=crypto_crawler_rs_spark.worker_daemon

to use it.  Precondition: the package must be importable by the
executors' Python when the daemon starts, e.g. installed there or on
the executors' PYTHONPATH.  A --py-files archive that is only added to
each task's sys.path arrives after the daemon has started and does not
count; without the package no Python worker starts.

Compiled-code cache: for the same reason the session keeps Spark's
default of 100 cached janino classes, while one crawl round compiles
about 150, so every round compiles its whole plan again.  Pass

        --conf spark.sql.codegen.cache.maxEntries=2000

(session.CODEGEN_CACHE_ENTRIES).  The conf is static: it must be set
at submit time, and it sizes the cache of every JVM, each executor's
included, since each executor keeps a cache of its own.

Local smoke (generates a synthetic corpus when --pages is omitted):

    python run_crawl.py --state /tmp/crawl_state --max-rounds 4

Resume: re-run with the same --state; the scheduler resumes from the
committed manifest (SURVEY.md §2.9 T3).  All inputs are parquet
directories with the FIXTURES.md schemas (Iceberg table identifiers
work identically once an Iceberg catalog is configured on the
cluster — see plans/state.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="parquet dir: url, warc_ts, html, text, lang")
    ap.add_argument("--seeds", help="parquet dir: url, depth")
    ap.add_argument("--policy", help="parquet dir: host policy table")
    ap.add_argument("--state", required=True, help="state/checkpoint directory")
    ap.add_argument("--max-rounds", type=int, default=64)
    ap.add_argument("--budget-default", type=int, default=2)
    ap.add_argument("--no-emit-deferred", action="store_true")
    ap.add_argument("--seen-buckets", type=int, default=32)
    ap.add_argument(
        "--expected-urls", type=int, default=None,
        help="size the seen bloom filter from expected crawl cardinality",
    )
    ap.add_argument(
        "--bloom-counting", action="store_true",
        help="counting filter: forget() also deletes from the bloom",
    )
    ap.add_argument(
        "--bloom-probe", choices=["auto", "broadcast", "sharded"], default="auto",
    )
    ap.add_argument(
        "--seen-anti-join", choices=["auto", "shuffle", "bucket_pruned"],
        default="auto",
        help="auto (default) switches shuffle->bucket_pruned at the "
        "measured ~1M-seen-row crossover; bucket_pruned = no seen-side "
        "shuffle (10^10-row seen sets)",
    )
    ap.add_argument("--warc", action="store_true",
                    help="--pages points at .warc/.warc.gz files instead of parquet")
    ap.add_argument("--profile-rounds", action="store_true")
    args = ap.parse_args(argv)

    import os

    # local runs from ANY cwd: python puts this script's dir on the
    # driver's sys.path but workers inherit only PYTHONPATH — export
    # it before the JVM starts (under spark-submit --py-files this is
    # redundant and harmless)
    repo = os.path.dirname(os.path.abspath(__file__))
    pp = os.environ.get("PYTHONPATH", "")
    if repo not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pp + (os.pathsep if pp else "") + repo

    from pyspark.sql import SparkSession

    from crypto_crawler_rs_spark.plans.frontier import (
        FrontierConfig,
        FrontierScheduler,
    )

    # under spark-submit the session is provided by the launcher; the
    # builder just attaches (config comes from --conf flags there)
    spark = SparkSession.builder.appName("crawl_frontier").getOrCreate()

    if args.pages:
        if args.warc:
            from crypto_crawler_rs_spark.sources.warc import pages_from_warc

            pages = pages_from_warc(spark, args.pages)
        else:
            pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds) if args.seeds else None
        policy = spark.read.parquet(args.policy)
    else:
        from crypto_crawler_rs_spark.sources.fixtures import (
            corpus_to_spark,
            gen_corpus,
        )

        corpus = gen_corpus(n_pages=2000, n_hosts=16, n_seeds=32)
        sdfs = corpus_to_spark(spark, corpus)
        pages, seeds, policy = sdfs["pages"], sdfs["seeds"], sdfs["host_policy"]

    cfg = FrontierConfig(
        max_rounds=args.max_rounds,
        emit_deferred=not args.no_emit_deferred,
        default_budget=args.budget_default,
        n_seen_buckets=args.seen_buckets,
        bloom_expected_urls=args.expected_urls,
        bloom_counting=args.bloom_counting,
        bloom_probe_mode=args.bloom_probe,
        seen_anti_join=args.seen_anti_join,
        profile_rounds=args.profile_rounds,
    )
    eng = FrontierScheduler(spark, pages, policy, args.state, cfg)
    manifest = eng.run(seeds=seeds, max_rounds=args.max_rounds)

    metrics = eng.metrics(manifest)
    summary = {"rounds": manifest["round"], "frontier_left": manifest.get("frontier_size")}
    if metrics is not None:
        from pyspark.sql import functions as F

        agg = metrics.agg(
            F.sum("scheduled").alias("scheduled"),
            F.sum("fetched_ok").alias("ok"),
            F.sum("errors").alias("errors"),
        ).collect()[0]
        summary.update(
            scheduled=int(agg["scheduled"] or 0),
            fetched_ok=int(agg["ok"] or 0),
            errors=int(agg["errors"] or 0),
        )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
