"""Bucket-pruned exact seen-membership — the anti-join without the
seen-side shuffle.

The discovery anti-join is THE recurring scale cost of the crawl: a
plain ``left_anti`` on url re-shuffles the ENTIRE seen set (10^10
rows) every round, while the links side is tiny (bloom-prefiltered).
On Iceberg the answer is storage bucketing (both sides bucketed by
the join key -> no shuffle); this operator is the same design on
plain parquet: seen deltas are written ``partitionBy(bucket)`` where
``bucket = pmod(host_hash, n_buckets)`` (StateStore.write
partition_by), links repartition by the same expression, and each
task reads ONLY its buckets' directories (``bucket=K/``) to do an
exact in-memory membership check.

Tombstones (forget/unsubscribe, U3) are ALSO bucket-partitioned and
applied executor-side inside the per-bucket load — nothing about the
seen set ever reaches the driver (a deletion-heavy crawl previously
grew a driver-side dict shipped in every task closure).

Membership is PROBE-INVERTED (r5): the links side is the small side
by construction (one round's bloom-prefiltered discoveries — 10^5-10^6
rows vs 10^10 seen), so the hash table is built over the task's LINK
urls (a few thousand entries, cache-resident) and the seen bucket
STREAMS through it via Arrow ``is_in`` — a probe-only C++ scan that
never materializes the big side as python objects and never builds a
hash table over it.  The earlier shape (pd.Index over the bucket's
millions of urls, links probed against it) built a multi-million-entry
string hash table in every one of the 32 concurrent python workers
each round; the allocation + DRAM contention made the 50M-row point
2.4x SLOWER than the plain shuffle anti-join.  Inverted, the per-round
per-bucket cost is one streamed scan of (worker-cached) Arrow buffers.
All non-trivial semantics (tombstone survival, duplicate deltas,
legacy layouts) run on the matched subset, which is at most link-set
sized.

Memory model: one bucket's ARROW buffers must fit a task (they stream
through ``is_in`` chunk-by-chunk and are worker-cached across rounds);
the python-object footprint is O(|links in task|), not O(|bucket|).
The shuffle-based path remains the default and the semantics
authority; equality is pinned by the e2e oracle tests with
``seen_anti_join='bucket_pruned'``.
"""

from __future__ import annotations

from collections import OrderedDict
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import murmur3_32


@lru_cache(maxsize=8)
def _bucket_carriers(n_buckets: int) -> tuple:
    """Carrier strings realizing an IDENTITY bucket->partition map.

    ``repartition(n, col)`` places rows at ``pmod(murmur3(col), n)`` —
    hashing the bucket NUMBER collides (measured at n=32: only 18 of
    32 partitions populated, stragglers carrying 3 buckets' reads
    serially — the whole tail of the 50M-row bench point).  Instead
    the links are repartitioned on a carrier STRING chosen per bucket
    so Spark's own hash lands it exactly on partition ``bucket`` —
    found by brute force against the bit-exact python murmur3 twin
    (expected n·ln n probes, microseconds, cached).  One task per
    bucket, every task loaded, no sampling job (repartitionByRange
    would cost one)."""
    out: list = [None] * n_buckets
    found, k = 0, 0
    while found < n_buckets:
        s = str(k)
        b = murmur3_32(s) % n_buckets
        if out[b] is None:
            out[b] = s
            found += 1
        k += 1
    return tuple(out)

# -- worker-side immutable-delta cache ------------------------------
# Delta roots are IMMUTABLE once a manifest references them
# (plans/state.py write-then-commit), so per-(path, bucket) parquet
# reads can be cached in the long-lived python worker across rounds:
# round N+1 re-reads only its NEW delta, not the whole seen set —
# that re-read is the recurring I/O term of the 10^10 crawl.  The
# cache is bounded (LRU by rows) and keyed by path.  Size-tiered
# compaction (FrontierScheduler.compact_seen) keeps the large older
# roots under their paths, so their entries stay warm across
# compactions; only the small merged roots get new paths, and their
# old entries age out.  Negative
# entries (missing bucket dir) are safe for the same immutability
# reason.  Requires spark.python.worker.reuse (the default).
_PATH_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
_PATH_CACHE_ROWS = 0
# row budget per worker process; 0 disables caching entirely
# (env knob so deployments can size it to executor memory)
import os as _os  # noqa: E402

_PATH_CACHE_MAX_ROWS = int(
    _os.environ.get("SPARK_GRAFT_SEENJOIN_CACHE_ROWS", 5_000_000)
)

# -- node-shared zero-copy IPC cache ---------------------------------
# The in-process cache above only helps when the SAME python worker
# serves the same bucket again — task->worker assignment is random, so
# the hit rate is ~n_cached/n_buckets and every round mostly re-pays
# the parquet DECODE of its bucket (measured: the whole in-engine cost
# of the bucket path at a 50M-row seen set).  Delta roots are
# immutable, so the decode product itself can be shared across ALL
# workers on the node: first touch converts the bucket to an Arrow IPC
# file (atomic rename), every later access — any worker, any round —
# memory-maps it ZERO-COPY and streams it through ``is_in`` straight
# from the page cache.  This is the local-mode twin of a warm
# cluster's executor-owned bucket cache.  Size-capped, mtime-LRU;
# the roots compaction merges get new paths, so their stale entries
# age out while the large kept roots stay cached.  Set the dir
# env to a fast local disk in deployments; empty budget disables.
_IPC_DIR = _os.environ.get("SPARK_GRAFT_SEENJOIN_IPC_DIR", "")
_IPC_MAX_BYTES = int(
    _os.environ.get("SPARK_GRAFT_SEENJOIN_IPC_BYTES", 8 << 30)
)


def has_bucket_dirs(path: str) -> bool:
    """True iff ``path`` is a local root in the bucketed seen layout
    (hive ``bucket=K/`` dirs).  False for flat roots and for paths
    that are not local directories (e.g. catalog table idents)."""
    return _os.path.isdir(path) and any(
        e.startswith("bucket=") for e in _os.listdir(path)
    )


def _ipc_cache_path(path: str, bucket: int, columns: tuple) -> str | None:
    """Cache file name keyed by (path, bucket, columns) AND a
    fingerprint of the bucket dir's files (name/size/mtime): a dir
    recreated at the same path with different data — tempdir reuse
    across test sessions — can never hit a stale entry.  None when the
    bucket dir doesn't exist (nothing to cache)."""
    import hashlib
    import tempfile

    bdir = _os.path.join(path, f"bucket={bucket}")
    try:
        fp = sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in _os.scandir(bdir)
            if not e.name.startswith(("_", "."))
        )
    except OSError:
        return None
    # default dir is PER-USER and permission-checked (ADVICE r5): a
    # world-shared fixed path lets another local user pre-create the
    # dir and plant/evict .arrow files — the cache key is computable
    # from path+file stats, so a planted entry would silently
    # substitute seen-set contents.  uid suffix + mode 0700 + an
    # ownership/mode check (covers a pre-created dir of the same
    # name); any failure disables the cache for this access rather
    # than trusting foreign files.
    if _IPC_DIR:
        # explicit opt-in dir: the operator trusts it as configured
        d = _IPC_DIR
        try:
            _os.makedirs(d, exist_ok=True)
        except OSError:
            return None
    else:
        d = _os.path.join(
            tempfile.gettempdir(), f"seenjoin_ipc_{_os.getuid()}"
        )
        try:
            _os.makedirs(d, mode=0o700, exist_ok=True)
            st = _os.stat(d)
            if st.st_uid != _os.getuid() or (st.st_mode & 0o077):
                return None
        except OSError:
            return None
    key = hashlib.md5(
        repr((_os.path.abspath(path), bucket, columns, fp)).encode()
    ).hexdigest()
    return _os.path.join(d, key + ".arrow")


def _ipc_evict(cache_dir: str) -> None:
    """Drop oldest IPC files until the dir fits the byte budget."""
    try:
        entries = [
            (e.stat().st_mtime, e.path, e.stat().st_size)
            for e in _os.scandir(cache_dir)
            if e.name.endswith(".arrow")
        ]
    except OSError:
        return
    total = sum(s for _, _, s in entries)
    for _, p, s in sorted(entries):
        if total <= _IPC_MAX_BYTES:
            break
        try:
            _os.unlink(p)  # readers' mmaps stay valid on POSIX
            total -= s
        except OSError:
            pass


def _read_bucket_table(path: str, bucket: int, columns: tuple):
    """Cached read of one delta root's ``bucket=K`` dir — returns the
    ARROW table, or None when the dir doesn't exist.

    The cache holds ARROW tables, not numpy object arrays: millions
    of long-lived python str objects would make every CPython gen-2
    GC walk them for the worker's whole lifetime, taxing ALL
    subsequent tasks (measured ~12% on the 1M-page crawl).  Arrow
    buffers are GC-invisible and stream through ``is_in`` with no
    python-object conversion at all."""
    global _PATH_CACHE_ROWS
    import os

    import pyarrow.parquet as pq

    key = (path, bucket, columns)
    hit = _PATH_CACHE.get(key)
    if hit is not None:
        _PATH_CACHE.move_to_end(key)
        return hit[0]
    d = os.path.join(path, f"bucket={bucket}")
    t = None
    ipc = _ipc_cache_path(path, bucket, columns) if _IPC_MAX_BYTES > 0 else None
    if ipc is not None and os.path.exists(ipc):
        import pyarrow as pa

        try:
            # zero-copy: buffers stay memory-mapped, backed by the
            # node's page cache — no decode, no allocation
            t = pa.ipc.open_file(pa.memory_map(ipc)).read_all()
        except (OSError, pa.ArrowInvalid):
            t = None  # truncated/evicted mid-read -> fall through
    if t is None:
        # single-threaded read: this runs inside one of n_buckets
        # python workers already reading in parallel — per-read thread
        # pools just oversubscribe the box
        t = (
            pq.read_table(d, columns=list(columns), use_threads=False)
            if os.path.isdir(d)
            else None
        )
        if t is not None and ipc is not None:
            import pyarrow as pa

            tmp = f"{ipc}.tmp.{os.getpid()}"
            try:
                with pa.OSFile(tmp, "wb") as f:
                    with pa.ipc.new_file(f, t.schema) as w:
                        w.write_table(t)
                os.replace(tmp, ipc)  # atomic: readers see whole files
                _ipc_evict(os.path.dirname(ipc))
            except OSError:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
    if _PATH_CACHE_MAX_ROWS > 0:
        rows = t.num_rows if t is not None else 0
        _PATH_CACHE[key] = (t, rows)
        _PATH_CACHE_ROWS += rows
        while _PATH_CACHE_ROWS > _PATH_CACHE_MAX_ROWS and len(_PATH_CACHE) > 1:
            _k, (_v, _rows) = _PATH_CACHE.popitem(last=False)
            _PATH_CACHE_ROWS -= _rows
    return t


def _read_bucket_part(path: str, bucket: int, columns: tuple):
    """Numpy view of :func:`_read_bucket_table` (compat surface for
    tests and callers that want arrays; the conversion's strings die
    young)."""
    t = _read_bucket_table(path, bucket, columns)
    if t is None:
        return None
    return tuple(t.column(c).to_numpy(zero_copy_only=False) for c in columns)


def filter_unseen_bucket_pruned(
    links: DataFrame,
    seen_paths: list[str],
    tomb_paths: list[str],
    n_buckets: int,
    current_round: int,
    out_cols: tuple = ("url", "host", "depth"),
) -> DataFrame:
    """Rows of ``links`` whose url is NOT in the seen set.

    ``links`` must carry ``url`` and ``host_hash``.  ``tomb_paths``
    are tombstone delta roots (url, tomb_round), bucket-partitioned
    like the seen deltas; a seen row survives iff
    ``added_round > max(tomb_round)`` for its url OR it was added
    THIS round (``added_round == current_round`` — the current delta
    is exempt from tombstones, mirroring the shuffle path's
    ``seen ∪ current_delta`` construction).
    """
    carriers = _bucket_carriers(n_buckets)
    part = (
        links.withColumn(
            "_bucket", F.pmod(F.col("host_hash"), F.lit(n_buckets))
        )
        .withColumn(
            "_carrier",
            F.element_at(
                F.array(*[F.lit(c) for c in carriers]), F.col("_bucket") + 1
            ),
        )
        .repartition(n_buckets, F.col("_carrier"))
    )
    fields = {f.name: f.dataType.simpleString() for f in links.schema.fields}
    out_schema = ", ".join(f"{c} {fields[c]}" for c in out_cols)
    cols = list(out_cols)

    def run(batches):
        import os

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # Materialize the task's links first: the links side is the
        # SMALL side by construction (one round's bloom-prefiltered
        # discoveries / n_buckets), and its url set is the hash table
        # every seen scan probes against.
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        links_pdf = (
            pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        )

        def legacy_rows(paths: list[str], columns: list[str]):
            """Rows of roots written WITHOUT bucket dirs (a shuffle-
            mode run resumed under bucket_pruned — ADVICE r3 #1: they
            must not silently read as empty).  Read whole, once per
            task; the url-membership probe below confines them to the
            matched subset immediately."""
            whole = []
            for p in paths:
                if os.path.isdir(p) and not has_bucket_dirs(p):
                    t = pq.read_table(p, columns=columns)
                    if t.num_rows:
                        whole.append(t)
            return whole

        legacy_seen = legacy_rows(
            seen_paths, ["url", "added_round"] if tomb_paths else ["url"]
        )
        legacy_tomb = (
            legacy_rows(tomb_paths, ["url", "tomb_round"]) if tomb_paths else []
        )

        def matched(tables, link_set, columns: tuple) -> "pd.DataFrame":
            """Concatenated rows (as pandas, small) of ``tables``
            whose url is in ``link_set`` — the probe-only scan: the
            big side streams through ``is_in`` chunk by chunk and only
            the (<= |links|-sized) hits become python objects."""
            hits = []
            for t in tables:
                if t is None or t.num_rows == 0:
                    continue
                m = pc.is_in(t.column("url"), value_set=link_set)
                if pc.any(m).as_py():
                    hits.append(t.select(list(columns)).filter(m))
            if not hits:
                return pd.DataFrame({c: [] for c in columns})
            return pa.concat_tables(hits).to_pandas()

        buckets_arr = links_pdf["_bucket"].to_numpy()
        url_arr = links_pdf["url"].to_numpy()
        mask = np.ones(len(links_pdf), dtype=bool)
        seen_cols = ("url", "added_round") if tomb_paths else ("url",)
        for b in np.unique(buckets_arr):
            sel = buckets_arr == b
            link_set = pc.unique(pa.array(url_arr[sel], type=pa.string()))
            bucket_tables = [
                _read_bucket_table(p, int(b), seen_cols) for p in seen_paths
            ] + legacy_seen
            seen_hits = matched(bucket_tables, link_set, seen_cols)
            if not len(seen_hits):
                continue
            if tomb_paths:
                tomb_tables = [
                    _read_bucket_table(p, int(b), ("url", "tomb_round"))
                    for p in tomb_paths
                ] + legacy_tomb
                tomb_hits = matched(
                    tomb_tables, link_set, ("url", "tomb_round")
                )
                if len(tomb_hits):
                    tomb_max = tomb_hits.groupby("url", sort=False)[
                        "tomb_round"
                    ].max()
                    tr = seen_hits["url"].map(tomb_max)
                    keep = (
                        tr.isna()
                        | (seen_hits["added_round"] > tr)
                        | (seen_hits["added_round"] == current_round)
                    )
                    seen_hits = seen_hits.loc[keep]
                    if not len(seen_hits):
                        continue
            seen_urls = pd.unique(seen_hits["url"].to_numpy())
            mask[sel] &= ~pd.Series(url_arr[sel]).isin(seen_urls).to_numpy()
        yield links_pdf.loc[mask, cols]

    return part.mapInPandas(run, schema=out_schema)
