"""Outside-in measurement helpers: benchmark-call intervals and CPU
time, Spark event-log folding, peak RSS sampling and ``StateStore``
call timing.

Nothing here changes what the engine does.  Jobs are attributed to
the benchmark call whose wall-clock interval contains their
submission time; the loop is closed (one call in flight), so this is
exact even for jobs that writer threads submit without job tags.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Call:
    """One benchmark call: a ``run_round`` or a query build/execute.
    ``cpu_s`` is the CPU time the driver, its JVM and the Python workers
    used during the call; ``steal_s`` the time the host kept this
    machine's vCPUs from running meanwhile."""

    kind: str
    name: str
    start_ms: float
    end_ms: float = 0.0
    cpu_s: float = 0.0
    steal_s: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class CallLog:
    def __init__(self):
        self.calls: list[Call] = []

    def timed(self, kind: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` as one call; returns (result, the Call)."""
        cpu0, steal0 = tree_cpu_s(), host_steal_s()
        c = Call(kind, name, time.time() * 1000.0)
        out = fn(*args, **kwargs)
        c.end_ms = time.time() * 1000.0
        c.cpu_s = tree_cpu_s() - cpu0
        c.steal_s = host_steal_s() - steal0
        self.calls.append(c)
        return out, c


# -- Spark event log ------------------------------------------------------

def eventlog_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4.1 defaults to rolling zstd-compressed logs; the
        # parser reads plain JSON lines
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # per-task accumulator copies are most of the log's volume and
        # made traced roster queries about half again as slow on a
        # 4-core machine; the parser reads each task's "Task Metrics"
        # and the stage-level SQL accumulables instead
        "spark.eventLog.includeTaskMetricsAccumulators": "false",
    }


# task metric (path in a task-end event's "Task Metrics") -> (stat,
# scale to s / MB); summed over the stage's tasks
_TASK_METRICS = (
    (("Executor Run Time",), "executor_run_s", 1e-3),
    (("Executor CPU Time",), "executor_cpu_s", 1e-9),
    (("Shuffle Write Metrics", "Shuffle Bytes Written"), "shuffle_write_mb", 1 / 2**20),
    (("Memory Bytes Spilled",), "spill_mb", 1 / 2**20),
    (("Disk Bytes Spilled",), "spill_mb", 1 / 2**20),
)
# stage SQL accumulable -> (stat, scale).  "time to run Python workers"
# is the timing metric (ms) of the Python exec nodes (ArrowEvalPython,
# MapInArrow, FlatMapGroupsInPandas, ...).
_STAGE_ACC = {"time to run Python workers": ("python_worker_s", 1e-3)}
_STATS = ("executor_run_s", "executor_cpu_s", "shuffle_write_mb", "spill_mb", "python_worker_s")


def _empty_stats() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "python_worker_s": 0.0,
        "job_intervals": [],
    }


def read_eventlog(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the single application log in ``log_dir``.
    jobs: {submit_ms, end_ms, stage_ids}; stages: id -> task count,
    task metrics summed over its tasks and its SQL accumulables.  A
    stage without a completion event was skipped (its shuffle output
    reused) and is left out."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    task_sums: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "submit_ms": float(ev["Submission Time"]),
                    "end_ms": float(ev["Submission Time"]),
                    "stage_ids": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end_ms"] = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                st = task_sums.setdefault(ev["Stage ID"], {})
                for path, key, scale in _TASK_METRICS:
                    v = ev.get("Task Metrics") or {}
                    for p in path:
                        v = v.get(p, {})
                    if isinstance(v, (int, float)):
                        st[key] = st.get(key, 0.0) + v * scale
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = {"tasks": int(info.get("Number of Tasks", 0))}
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in _STAGE_ACC:
                        key, scale = _STAGE_ACC[acc["Name"]]
                        st[key] = st.get(key, 0.0) + float(acc["Value"]) * scale
                stages[info["Stage ID"]] = st
    for sid, st in stages.items():
        st.update(task_sums.get(sid, {}))
    return sorted(jobs.values(), key=lambda j: j["submit_ms"]), stages


def attribute(calls: list[Call], jobs: list[dict], stages: dict[int, dict]) -> dict[int, dict]:
    """Fold each job into the call whose interval holds its submission.
    Returns index-in-``calls`` -> stats."""
    out: dict[int, dict] = {}
    order = sorted(range(len(calls)), key=lambda i: calls[i].start_ms)
    k = 0
    for j in jobs:
        while k < len(order) and calls[order[k]].end_ms < j["submit_ms"]:
            k += 1
        if k == len(order):
            break
        c = calls[order[k]]
        if not (c.start_ms <= j["submit_ms"] <= c.end_ms):
            continue
        s = out.setdefault(order[k], _empty_stats())
        s["jobs"] += 1
        s["job_intervals"].append((j["submit_ms"], min(j["end_ms"], c.end_ms)))
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if st is None:
                continue  # skipped stage (shuffle output reused)
            s["stages"] += 1
            s["tasks"] += st["tasks"]
            for key in _STATS:
                s[key] += st.get(key, 0.0)
    return out


def busy_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_calls(calls: list[Call], per_call: dict[int, dict], idx: list[int], cores: int) -> dict:
    """Totals over the calls at ``idx``: jobs, stages, tasks, executor
    time, shuffle/spill volume, Python-worker time, wall, the part of
    wall with no job running (driver only) and the core busy ratio."""
    out = {k: v for k, v in _empty_stats().items() if k != "job_intervals"}
    out["wall_s"] = out["driver_only_s"] = 0.0
    for i in idx:
        s = per_call.get(i, _empty_stats())
        c = calls[i]
        out["wall_s"] += c.wall_s
        out["driver_only_s"] += (c.end_ms - c.start_ms - busy_ms(s["job_intervals"])) / 1000.0
        for key in s:
            if key != "job_intervals":
                out[key] += s[key]
    wall = out["wall_s"]
    out["core_busy_ratio"] = out["executor_run_s"] / (wall * cores) if wall else 0.0
    return out


# -- child processes ------------------------------------------------------

def descendants() -> set[int]:
    """Pids of every live descendant of this process (the gateway JVM,
    the Python worker daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        children.setdefault(int(stat[stat.rindex(")") + 2:].split()[1]), []).append(int(d))
    tree, frontier = set(), [os.getpid()]
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by this process and every live descendant.  Kernels with
    paravirtual steal-time accounting leave steal time out of these
    counters."""
    t = os.times()
    total = t.user + t.system
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields 14-17: utime, stime, cutime, cstime
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15]) / _TICK
    return total


def host_steal_s() -> float:
    """Seconds the hypervisor has kept this machine's vCPUs from running
    (summed over vCPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class RssSampler:
    """Samples the summed RSS of every descendant process (the driver
    JVM and its Python workers) from /proc; keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _descendants_rss_mb(self) -> float:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * self._page / 2**20

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, self._descendants_rss_mb())

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()


# -- StateStore instrumentation ------------------------------------------

def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class StoreTimer:
    """Wraps a scheduler's ``StateStore`` instance methods (write /
    commit / read) and its ``compact_seen`` with timers.  Thread-safe:
    the frontier submits writes from a thread pool."""

    def __init__(self, eng):
        self.totals = {"write_s": 0.0, "write_calls": 0, "files_written": 0,
                       "bytes_written": 0, "commit_s": 0.0, "read_s": 0.0,
                       "compact_s": 0.0, "compact_calls": 0}
        self._lock = threading.Lock()
        store = eng.store
        self._wrap(store, "write", "write_s", "write_calls", files=True)
        self._wrap(store, "commit", "commit_s", None)
        self._wrap(store, "read", "read_s", None)
        self._wrap(eng, "compact_seen", "compact_s", "compact_calls")

    def _wrap(self, obj, meth: str, t_key: str, n_key: str | None, files: bool = False):
        orig = getattr(obj, meth)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            out = orig(*args, **kwargs)
            dt = time.perf_counter() - t0
            nf = nb = 0
            if files and isinstance(out, str):
                nf, nb = _dir_files(out)
            with self._lock:
                self.totals[t_key] += dt
                if n_key:
                    self.totals[n_key] += 1
                if files:
                    self.totals["files_written"] += nf
                    self.totals["bytes_written"] += nb
            return out

        setattr(obj, meth, timed)

    def snapshot(self) -> dict:
        with self._lock:
            return dict(self.totals)
