"""The ``query_roster`` workload: one ``__spark_entry__.queries()``
entry per ``operators/`` module (plus the SQL-only and ``functions/``
groups) over seeded tables, each call's build timed apart from its
execution, every result checked against ``oracle_sql()`` on DuckDB.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from measure import CallLog, attribute, fold_calls, read_eventlog

# query -> the module its entry calls ('sql' when it calls none).  One
# entry per group keeps a pass inside the run budget; the ones picked
# are where the roadmap's open items act (spread sites, twin paths,
# driver build time); similarity is dedup_embedding_neardup because
# the ANN queries take 1-4 s more on a 4-core machine.  Left out:
# c11_decompress and c13_hmac_sign read fixture files pinned to one
# scale factor; o4_pack_commands' DuckDB oracle alone takes 6 s;
# mm1_media_features is a decode stub.
ROSTER = {
    "a2_pricing_summary": "sql",
    "m1_msgtype_command_map": "partitioning",
    "repetition_filter": "textstats",
    "dedup_minhash_lsh": "dedup",
    "dedup_components": "components",
    "dedup_embedding_neardup": "similarity",
    "prep_corpus": "prep",
    "pagerank_hostrank": "graphrank",
    "winnow_passages": "winnow",
    "decontaminate": "decontaminate",
    "lm_surprisal": "lmscore",
    "url_trap_patterns": "traps",
    "politeness_ewma": "politeness",
    "stratified_sample": "sampling",
}
GROUPS = sorted(set(ROSTER.values()))
SETUP_REPS = 3


def _oracle(sf: str) -> dict:
    """Expected rows of every roster query, from DuckDB."""
    import duckdb

    import __spark_entry__ as entry
    from check_oracles import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    sql = entry.oracle_sql()
    return {name: con.execute(sql[name]).df() for name in ROSTER}


def _matches(got, exp) -> bool:
    from check_oracles import norm

    return (
        sorted(got.columns) == sorted(exp.columns)
        and len(got) == len(exp)
        and norm(got) == norm(exp)
    )


def _ingest(spark, entry, sf: str) -> dict:
    """Build the query table and read every table into the session."""
    from check_oracles import TABLES

    qs = entry.queries()
    for t in TABLES:
        spark.read.parquet(os.path.join(sf, f"{t}.parquet")).count()
    return qs


def run(spark, seed: int, seconds: float, trace: bool, work: str,
        session_s: float) -> dict:
    import __spark_entry__ as entry
    import tables

    # benchmark input, written before any timer starts
    sf = tables.write_tables(seed, os.path.join(work, "tables"))
    setup_reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        qs = _ingest(spark, entry, sf)
        setup_reps.append(time.perf_counter() - t0)
    # JVM and Python-worker warm-up with two queries off the roster
    t0 = time.perf_counter()
    qs["dedup_exact"](spark, sf).count()
    qs["quality_score"](spark, sf).toPandas()
    spark.catalog.clearCache()
    warmup_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    expected = _oracle(sf)
    oracle_s = time.perf_counter() - t0

    # one pass, each query once
    log = CallLog()
    walls, cpus, failed, cached_after, query_s, query_cpu_s = [], [], 0, [], {}, {}
    for name in ROSTER:
        try:
            df, b = log.timed("build", name, qs[name], spark, sf)
            got, e = log.timed("exec", name, df.toPandas)
        except Exception:  # counted as failed; the run goes on
            print(f"query {name} raised:", file=sys.stderr)
            traceback.print_exc()
            failed += 1
            spark.catalog.clearCache()
            continue
        cached_after.append(len(spark.sparkContext._jsc.getPersistentRDDs()))
        spark.catalog.clearCache()
        walls.append(b.wall_s + e.wall_s)
        cpus.append(b.cpu_s + e.cpu_s)
        query_s[name] = b.wall_s + e.wall_s
        query_cpu_s[name] = b.cpu_s + e.cpu_s
        if not _matches(got, expected[name]):
            print(f"query {name} differs from oracle_sql()", file=sys.stderr)
            failed += 1
    roster_s = sum(walls)
    if roster_s > seconds:
        raise RuntimeError(f"the roster took {roster_s:.1f} s, over --seconds {seconds}")

    out = {
        "attempted": len(ROSTER),
        "failed": failed,
        "metrics": {
            "throughput_per_cpu_s": len(cpus) / sum(cpus) if cpus else 0.0,
            "setup_s": session_s + statistics.median(setup_reps) + warmup_s,
        },
        "report": {
            "roster_s": roster_s,
            "query_p50_s": statistics.median(walls) if walls else 0.0,
            "roster_cpu_s": sum(cpus),
            "query_cpu_geomean_s": statistics.geometric_mean(cpus) if cpus else 0.0,
            "steal_s": sum(c.steal_s for c in log.calls),
            "queries": len(ROSTER),
            "setup_reps_s": setup_reps,
            "warmup_s": warmup_s,
            "oracle_s": oracle_s,
            "query_s": query_s,
            "query_cpu_s": query_cpu_s,
        },
    }
    if trace:
        out["calls"] = log.calls
        out["layers"] = {
            "session.cached_after": max(cached_after, default=0),
            "traced.throughput_per_cpu_s": out["metrics"]["throughput_per_cpu_s"],
        }
    return out


def fold_eventlog(result: dict, log_dir: str, cores: int) -> dict:
    """roster.<group>.* from the call log and the event log.  The
    per-group shuffle and spill volumes go to the report line (the
    benchmark's per-layer list has room for roster-wide totals only)."""
    calls = result["calls"]
    jobs, stages = read_eventlog(log_dir)
    per_call = attribute(calls, jobs, stages)
    out = {}
    for g in GROUPS:
        build = [i for i, c in enumerate(calls) if c.kind == "build" and ROSTER[c.name] == g]
        exe = [i for i, c in enumerate(calls) if c.kind == "exec" and ROSTER[c.name] == g]
        both = fold_calls(calls, per_call, build + exe, cores)
        out[f"roster.{g}.build_s"] = sum(calls[i].wall_s for i in build)
        out[f"roster.{g}.exec_s"] = sum(calls[i].wall_s for i in exe)
        out[f"roster.{g}.jobs"] = both["jobs"]
        out[f"roster.{g}.executor_run_s"] = both["executor_run_s"]
        for key in ("shuffle_write_mb", "spill_mb"):
            result["report"][f"roster.{g}.{key}"] = both[key]
    every = fold_calls(calls, per_call, list(range(len(calls))), cores)
    for key in ("shuffle_write_mb", "spill_mb", "python_worker_s", "tasks", "driver_only_s"):
        out[f"roster.{key}"] = every[key]
    return out
