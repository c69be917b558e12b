"""Benchmark entry point for the crawl frontier and the query roster.

    python3 perfbench/run.py --workload crawl_long_seen --seed 1 --seconds 60 --trace 0

Run from the repository root.  One process, one Spark session on
``local[nproc]`` with fixed shuffle partitions, one call in flight.
Inputs come from ``--seed`` only; every output is checked against the
repo's oracles.  Each workload times a fixed amount of work;
``--seconds`` is its upper limit, and a run whose timed work takes
longer fails.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see perfbench/README.md).  The last
stdout line is the result JSON; the line before it is a report with
the workload's own figures by name and unit plus the run's stamp.
Everything the run writes lives under ``.perfbench_work/`` in the
working directory and is removed before exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_long_seen", "query_roster")
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "2g"

END_TO_END = {
    "throughput_per_cpu_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
}


def _layer_catalogue() -> dict[str, tuple[str, str]]:
    from crawl import PHASES
    from roster import GROUPS

    s, n, mb, r = "s", "count", "MB", "ratio"
    cat = {
        "frontier.driver_only_s": (s, "lower"),
        "frontier.jobs_per_round": (n, "lower"),
        "frontier.stages_per_round": (n, "lower"),
        "frontier.tasks_per_round": (n, "lower"),
        "frontier.executor_run_s": (s, "lower"),
        "frontier.executor_cpu_s": (s, "lower"),
        "frontier.python_worker_s": (s, "lower"),
        "frontier.core_busy_ratio": (r, "higher"),
        "frontier.shuffle_write_mb": (mb, "lower"),
        "frontier.spill_mb": (mb, "lower"),
    }
    cat.update({f"phase.{p}_s": (s, "lower") for p in PHASES + ("manifest_commit",)})
    cat.update({
        "state.write_s": (s, "lower"),
        "state.write_calls": (n, "lower"),
        "state.files_written": (n, "lower"),
        "state.bytes_written_mb": (mb, "lower"),
        "state.read_s": (s, "lower"),
        "state.commit_s": (s, "lower"),
        "state.compact_s": (s, "lower"),
        "state.compact_calls": (n, "lower"),
        "text.extract_s": (s, "lower"),
        "text.outlinks_s": (s, "lower"),
        "text.rows": (n, "higher"),
        "urls.canonicalize_s": (s, "lower"),
        "urls.rows": (n, "higher"),
        "bloom.load_s": (s, "lower"),
        "bloom.add_s": (s, "lower"),
        "bloom.save_s": (s, "lower"),
        "bloom.probe_s": (s, "lower"),
        "bloom.pruned_ratio": (r, "higher"),
        "bloom.fp_ratio": (r, "lower"),
        "pop.s": (s, "lower"),
        "pop.scheduled_ratio": (r, "higher"),
        "seenjoin.s": (s, "lower"),
        "seenjoin.seen_rows": (n, "higher"),
        "seenjoin.confirmed_new_ratio": (r, "lower"),
    })
    for g in GROUPS:
        cat[f"roster.{g}.build_s"] = (s, "lower")
        cat[f"roster.{g}.exec_s"] = (s, "lower")
        cat[f"roster.{g}.jobs"] = (n, "lower")
        cat[f"roster.{g}.executor_run_s"] = (s, "lower")
    cat.update({
        "roster.shuffle_write_mb": (mb, "lower"),
        "roster.spill_mb": (mb, "lower"),
        "roster.python_worker_s": (s, "lower"),
        "roster.tasks": (n, "lower"),
        "roster.driver_only_s": (s, "lower"),
        "session.cached_after": (n, "lower"),
        "session.peak_rss_mb": (mb, "lower"),
        "traced.throughput_per_cpu_s": ("1/s", "higher"),
    })
    return cat


_SUFFIX_UNITS = (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"))


def _with_units(figures: dict) -> dict:
    """Report figures as {value, unit}; the unit follows the name's
    suffix, plain numbers are counts."""
    out = {}
    for k, v in figures.items():
        if isinstance(v, (int, float)):
            unit = next((u for suf, u in _SUFFIX_UNITS if k.endswith(suf)), "count")
            v = {"value": v, "unit": unit}
        out[k] = v
    return out


def engine_hash(root: str) -> str:
    """md5 over the engine sources: the same file set as bench.py's
    engine hash (the package plus bench.py), keyed by path relative to
    the checkout so the hash does not depend on where it lives."""
    h = hashlib.md5()
    paths = sorted(glob.glob(os.path.join(root, "crypto_crawler_rs_spark", "**", "*.py"),
                             recursive=True)) + [os.path.join(root, "bench.py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _require_repo() -> str | None:
    for rel in ("crypto_crawler_rs_spark/__init__.py", "__spark_entry__.py",
                "tools/check_oracles.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, then wait until every process
    started under this one (JVM, Python worker daemon and workers) has
    exited; stragglers are killed after 60 s."""
    from pyspark import SparkContext

    import measure

    pids = measure.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the JVM exits when its stdin closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 60
    while pids and time.time() < deadline + 10:
        pids = {p for p in pids if _alive(p)}
        if pids and time.time() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _require_repo()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file the run writes (Spark scratch, the seenjoin IPC
    # cache, incremental-index dirs, the shipped package zip) in the
    # work dir, which is deleted at the end
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_SEENJOIN_IPC_DIR"] = os.path.join(work, "seenjoin_ipc")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)

    import measure

    cores = os.cpu_count() or 1
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update(measure.eventlog_conf(log_dir))
    try:
        with measure.RssSampler() as rss:
            from crypto_crawler_rs_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(app=f"perfbench_{args.workload}", master=f"local[{cores}]",
                              shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            try:
                if args.workload == "query_roster":
                    import roster as wl
                else:
                    import crawl as wl
                res = wl.run(spark, args.seed, args.seconds, bool(args.trace), work, session_s)
                rss.sample()
                spark_version = spark.version
            finally:
                _stop_session(spark)
        res["report"]["session_s"] = session_s
        res["report"]["peak_rss_mb"] = rss.peak_mb
        if args.trace:
            res["layers"]["session.peak_rss_mb"] = rss.peak_mb
            res["layers"].update(wl.fold_eventlog(res, log_dir, cores))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    if args.trace:
        cat = _layer_catalogue()
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, (u, _b) in cat.items()}
    else:
        metrics = {k: {"value": float(res["metrics"][k]), "unit": u}
                   for k, (u, _b) in END_TO_END.items()}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "stamp": {"nproc": cores, "spark": spark_version, "engine_hash": engine_hash(ROOT),
                  "shuffle_partitions": SHUFFLE_PARTITIONS},
        "failed_ratio": res["failed"] / max(1, res["attempted"]),
        "figures": _with_units(res["report"]),
        "run_wall_s": time.time() - T_START,
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
