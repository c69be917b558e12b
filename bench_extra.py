"""Round-7 optimization measurement harness (bench.py is FROZEN for
driver measurement; this file carries the extra evidence: per-query
isolation at an arbitrary sf, noop-sink timing, and
explain("formatted") capture for plans/r07/).

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 --queries a,b,c \
      [--runs 2] [--noop] [--explain-dir plans/r07 --explain-suffix _before]

Timing methodology matches bench.py run_queries (count(), min of N,
clearCache between queries) unless --noop is given, which times a
noop-sink write (computes every column; guide §1.4).

  python bench_extra.py --python-tax [--cpus 4]

times a no-op ``mapInPandas`` over 4, 32 and 128 partitions against a
JVM ``count()`` over the same ranges (min of 3 each) and prints the
wall ms per Python task: the fixed cost every Python hop pays before
user code runs.

  python bench_extra.py --compaction-tiers [--cpus 4]

drives ``FrontierScheduler.compact_seen`` over 16 synthetic rounds: a
2M-row bucketed base, then one flat 3k-row delta per round, compacted
once the seen set lists ``compact_seen_every`` (2) roots.  It prints
the rows rewritten per row inserted, the most roots the seen set
listed, and the seconds spent in compaction.

  python bench_extra.py --codegen-rounds [--cpus 4]

drives the ``crawl_long_seen`` shape (perfbench's corpus, budget and
2M seeded seen rows, ``compact_seen_every=2``) for 4 rounds from
``init_state`` and prints, per round, the janino compiles (the count
delta of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``), the JVM's
JIT compile time (elapsed, summed over its compiler threads, so it can
exceed the CPU time on a busy machine), the CPU seconds of this process
tree, the wall seconds, and the driver JVM's metaspace in use and
loaded class count after the round; at the end, the JVM's peak RSS.
Every counter is read through py4j or /proc: no Spark job is added.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--explain-suffix", default="_before")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--python-tax", action="store_true")
    ap.add_argument("--compaction-tiers", action="store_true")
    ap.add_argument("--codegen-rounds", action="store_true")
    args = ap.parse_args()
    if args.python_tax:
        return python_tax(args.cpus)
    if args.compaction_tiers:
        return compaction_tiers(args.cpus)
    if args.codegen_rounds:
        return codegen_rounds(args.cpus)

    import __spark_entry__ as entrymod
    from crypto_crawler_rs_spark.session import get_spark

    spark = get_spark(app="bench_extra", master=f"local[{args.cpus}]", shuffle_partitions=32)
    qs = entrymod.queries()
    names = [n for n in args.queries.split(",") if n] or sorted(qs)
    # warm-up (same as bench.py)
    spark.read.parquet(f"{args.sf}/nation.parquet").count()
    qs["dedup_exact"](spark, args.sf).count()
    out = {}
    for name in names:
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, args.sf)
            with open(os.path.join(args.explain_dir, f"{name}{args.explain_suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            spark.catalog.clearCache()
        best = None
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"r07:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}s", file=sys.stderr, flush=True)
    print(json.dumps({"sf": args.sf, "noop": args.noop, "queries": out}))
    spark.stop()


def python_tax(cpus: int, runs: int = 3) -> None:
    from crypto_crawler_rs_spark.session import get_spark

    spark = get_spark(app="bench_extra_python_tax", master=f"local[{cpus}]", shuffle_partitions=cpus)

    def best(action) -> float:
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            action()
            times.append(time.perf_counter() - t0)
        return min(times)

    out = {}
    for parts in (4, 32, 128):
        df = spark.range(0, parts, numPartitions=parts)
        noop = df.mapInPandas(lambda it: it, df.schema)
        noop.count()  # start and warm the workers
        py_s, jvm_s = best(noop.count), best(df.count)
        out[parts] = {
            "python_s": round(py_s, 3),
            "jvm_s": round(jvm_s, 3),
            "ms_per_python_task": round(1000 * py_s / parts, 1),
            "ms_per_jvm_task": round(1000 * jvm_s / parts, 1),
        }
        print(f"{parts} partitions: {out[parts]}", file=sys.stderr, flush=True)
    print(json.dumps({"cpus": cpus, "min_of": runs, "python_tax": out}))
    spark.stop()


def compaction_tiers(
    cpus: int, rounds: int = 16, base_rows: int = 2_000_000, delta_rows: int = 3_000
) -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.plans.frontier import (
        FrontierConfig,
        FrontierScheduler,
        parquet_row_count,
    )
    from crypto_crawler_rs_spark.session import get_spark

    spark = get_spark(app="bench_extra_compaction_tiers", master=f"local[{cpus}]", shuffle_partitions=cpus)
    work = tempfile.mkdtemp(prefix="compaction_tiers_")
    cfg = FrontierConfig(seen_anti_join="bucket_pruned", pages_canonical=True, compact_seen_every=2)
    eng = FrontierScheduler(
        spark,
        spark.createDataFrame([], "url string, html binary"),
        spark.createDataFrame([], "host string"),
        os.path.join(work, "state"),
        cfg,
    )

    def seen_rows(first: int, n: int, rnd: int, host: str):
        url = F.concat(F.lit(f"https://{host}"), F.col("id") % 64, F.lit(".example.net/p/"), F.col("id"))
        return eng._seen_delta(
            spark.range(first, first + n).select(
                url.alias("url"), F.concat(F.lit(host), F.col("id") % 64, F.lit(".example.net")).alias("host")
            ),
            rnd,
        )

    base = os.path.join(work, "base")
    seen_rows(0, base_rows, 0, "base").repartition(cfg.n_seen_buckets, "bucket").write.partitionBy(
        "bucket"
    ).parquet(base)
    seen, inserted, rewritten, max_roots, compact_s = [base], 0, 0, 1, 0.0
    for rnd in range(1, rounds + 1):
        # a flat LSM delta, as the round loop writes for a small frontier
        delta = seen_rows(base_rows + inserted, delta_rows, rnd, "crawl").drop("bucket")
        seen.append(eng.store.write(delta, rnd, "seen_delta"))
        inserted += delta_rows
        max_roots = max(max_roots, len(seen))
        if len(seen) >= cfg.compact_seen_every:
            before = set(seen)
            t0 = time.perf_counter()
            seen, _ = eng.compact_seen(seen, [], rnd + 1)
            compact_s += time.perf_counter() - t0
            rewritten += sum(parquet_row_count(p) for p in seen if p not in before)
        print(f"round {rnd}: roots {[parquet_row_count(p) for p in seen]}", file=sys.stderr, flush=True)
    assert parquet_row_count(seen) == base_rows + inserted
    print(json.dumps({
        "cpus": cpus,
        "rounds": rounds,
        "base_rows": base_rows,
        "delta_rows": delta_rows,
        "rows_rewritten_per_row_inserted": round(rewritten / inserted, 2),
        "max_roots": max_roots,
        "final_roots": len(seen),
        "compact_s": round(compact_s, 2),
    }))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


def codegen_rounds(cpus: int, rounds: int = 4, seed: int = 7) -> None:
    import shutil
    import tempfile

    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
    from crypto_crawler_rs_spark.session import get_spark
    from crypto_crawler_rs_spark.sources.fixtures import corpus_to_spark, gen_corpus

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    from crawl import (
        BUDGET,
        COMPACT_SEEN_EVERY,
        N_HOSTS,
        N_PAGES,
        SEEDED_SEEN,
        _write_seeded_seen,
    )
    from measure import tree_cpu_s

    spark = get_spark(app="bench_extra_codegen_rounds", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    mgmt = jvm.java.lang.management.ManagementFactory
    jit = mgmt.getCompilationMXBean()
    classes = mgmt.getClassLoadingMXBean()
    metaspace = next(p for p in mgmt.getMemoryPoolMXBeans() if p.getName() == "Metaspace")
    jvm_pid = spark.sparkContext._gateway.proc.pid

    def counters() -> tuple[int, float, float, float]:
        return janino.getCount(), jit.getTotalCompilationTime() / 1000, tree_cpu_s(), time.perf_counter()

    def jvm_peak_rss_mb() -> float:
        with open(f"/proc/{jvm_pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024

    work = tempfile.mkdtemp(prefix="codegen_rounds_")
    try:
        corpus = gen_corpus(n_pages=N_PAGES, n_hosts=N_HOSTS, n_seeds=N_PAGES // 5, links_per_page=6, seed=seed)
        corpus["host_policy"]["budget_per_round"] = BUDGET
        sdfs = corpus_to_spark(spark, corpus)
        cfg = FrontierConfig(compact_seen_every=COMPACT_SEEN_EVERY)
        eng = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], os.path.join(work, "state"), cfg)
        eng.pages.count()

        seeded = os.path.join(work, "seen_seeded")
        _write_seeded_seen(spark, seeded, SEEDED_SEEN, cfg.n_seen_buckets)
        manifest = eng.init_state(sdfs["seeds"])
        manifest = dict(manifest, seen=manifest["seen"] + [seeded], seen_rows=manifest["seen_rows"] + SEEDED_SEEN)
        eng.store.commit(manifest)
        before = counters()
        out = []
        for _ in range(rounds):
            if manifest.get("frontier_size") == 0:
                break
            manifest = eng.run_round(manifest)
            after = counters()
            row = {
                "round": manifest["round"] - 1,
                "janino_compiles": after[0] - before[0],
                "jit_s": round(after[1] - before[1], 2),
                "cpu_s": round(after[2] - before[2], 2),
                "wall_s": round(after[3] - before[3], 2),
                "metaspace_mb": round(metaspace.getUsage().getUsed() / 2**20, 1),
                "loaded_classes": classes.getLoadedClassCount(),
            }
            before = after
            out.append(row)
            print(row, file=sys.stderr, flush=True)
        print(json.dumps({
            "cpus": cpus,
            "n_pages": N_PAGES,
            "seeded_rows": SEEDED_SEEN,
            "rounds": out,
            "jvm_peak_rss_mb": round(jvm_peak_rss_mb()),
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
