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
    args = ap.parse_args()
    if args.python_tax:
        return python_tax(args.cpus)

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


if __name__ == "__main__":
    main()
