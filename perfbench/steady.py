"""Steadiness check: run each workload in two sets of seeds and say
whether the sets agree within the benchmark's own bounds.

    python3 perfbench/steady.py [--runs 5] [--workloads a,b] [--record]

For every end-to-end metric it prints each set's median and quartiles,
the spread (interquartile range over median) of all runs and of each
set, and whether the sets agree: the spread of all runs is within the
metric's bound and the second set's median is within that bound of the
first's, for ``setup_s`` too.
One traced run per workload then gives the tracing overhead (traced
minus untraced median) on the end-to-end metrics and on the report
line's wall-clock and per-query figures.  ``--record`` writes the
verdict into BENCHMARK.json next to each workload's reason and
refreshes the metric lists there from run.py's catalogue.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

# why each workload is in the benchmark (the verdict is appended)
WHY = {
    "crawl_long_seen": "2M seen rows: Bloom probe, bucket-pruned seen join and seen compaction in the timed round; little UDF work",
    "query_roster": "one roster query per operators/ group: driver build time, per-query job latency and Python-UDF hops",
}
RUN_SECONDS = 60
BOUNDS = {"throughput_per_cpu_s": 0.25, "setup_s": 0.25}
# figures of the report line whose tracing overhead is reported too
REPORTED = {"crawl_long_seen": ("crawl_urls_per_s", "round_p50_s"),
            "query_roster": ("roster_s", "query_p50_s", "query_cpu_geomean_s")}


def run_once(workload: str, seed: int, trace: int) -> dict:
    """The run's metrics plus the plain-number figures of its report."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: outputs differ from the oracles")
    figures = json.loads(lines[-2])["figures"]
    vals = {k: v["value"] for k, v in figures.items() if isinstance(v, dict) and "value" in v}
    vals.update({k: v["value"] for k, v in res["metrics"].items()})
    return vals


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def check(workload: str, runs: int) -> dict:
    sets = [[run_once(workload, seed, 0) for seed in range(first, first + runs)]
            for first in (1, 1 + runs)]
    verdict = {}
    for metric, bound in BOUNDS.items():
        a = [r[metric] for r in sets[0]]
        b = [r[metric] for r in sets[1]]
        ma, mb = statistics.median(a), statistics.median(b)
        sp = spread(a + b)
        verdict[metric] = {
            "set1": {"median": ma, "quartiles": statistics.quantiles(a, n=4), "spread": spread(a)},
            "set2": {"median": mb, "quartiles": statistics.quantiles(b, n=4), "spread": spread(b)},
            "spread": sp,
            "gap": abs(mb - ma) / ma,
            "agree": abs(mb - ma) / ma <= bound and sp <= bound,
        }
        print(f"{workload:16s} {metric:20s} set1 {ma:10.4g} set2 {mb:10.4g} "
              f"gap {verdict[metric]['gap']:6.1%} spread {sp:6.1%} "
              f"(sets {spread(a):6.1%} {spread(b):6.1%}) "
              f"bound {bound:.0%} {'ok' if verdict[metric]['agree'] else 'NOT STEADY'}",
              flush=True)
    traced = run_once(workload, 1, 1)
    for metric in ("throughput_per_cpu_s",) + REPORTED[workload]:
        untraced = statistics.median([r[metric] for s in sets for r in s])
        over = traced.get(f"traced.{metric}", traced.get(metric)) - untraced
        verdict[f"tracing_overhead.{metric}"] = over
        print(f"{workload:16s} tracing overhead {metric}: {over:+.4g} "
              f"({over / untraced:+.1%} of the untraced median)", flush=True)
    return verdict


def write_benchmark(verdicts: dict, runs: int) -> None:
    sys.path.insert(0, HERE)
    from run import END_TO_END, _layer_catalogue

    workloads = []
    for w in WHY:
        why = WHY[w]
        v = verdicts.get(w)
        if v:
            ok = all(m["agree"] for k, m in v.items() if k in BOUNDS)
            spreads = ", ".join(f"{k.split('_')[0]} {v[k]['spread']:.1%}" for k in BOUNDS)
            why += f"; steady.py 2x{runs} seeds {'agree' if ok else 'DISAGREE'}, spreads {spreads}"
        if len(why) > 200:
            raise ValueError(f"workload reason over 200 characters: {why}")
        workloads.append({"name": w, "why": why})
    bench = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": workloads,
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": BOUNDS[k]}
            for k, (u, b) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": b} for k, (u, b) in _layer_catalogue().items()
        ],
    }
    with open(BENCHMARK, "w") as f:
        json.dump(bench, f, indent=2)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--workloads", default=",".join(WHY))
    ap.add_argument("--record", action="store_true", help="update BENCHMARK.json")
    args = ap.parse_args()
    verdicts = {w: check(w, args.runs) for w in args.workloads.split(",") if w}
    print(json.dumps(verdicts, indent=1))
    if args.record:
        write_benchmark(verdicts, args.runs)
    return 0 if all(m["agree"] for v in verdicts.values()
                    for k, m in v.items() if k in BOUNDS) else 1


if __name__ == "__main__":
    sys.exit(main())
